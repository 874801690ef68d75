"""Per-layer metrics of a traced run (``--trace 1``).

Times and counts are per steady-state pass: each is summed over one pass
and the median over the traced passes is reported.  ``LAYERS.md`` says
which end-to-end metric each one should move, on which workload.
"""

from __future__ import annotations

import statistics

from workloads import CURATION_FAMILY, FAMILIES

BUILD = ("build", "read")  # plan-building calls (lazy; may start jobs)
ACTION = ("action", "geojson", "publish", "raster")  # the final actions

UNITS = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.driver_gap_s": "s",
    "queries.plan_s": "s",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "queries.action_tasks": "count",
    "queries.accounted_frac": "ratio",
    "executor.run_s": "s",
    "executor.gc_s": "s",
    "scan.input_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    **{f"operators.{f}.{k}": "s" for f in FAMILIES for k in ("build_s", "action_s")},
    "operators.pinned_rdds": "count",
    "operators.release_s": "s",
    "sources.erddap_http.requests": "count",
    "sources.erddap_http.bytes": "bytes",
    "sources.erddap_http.fetch_ratio": "ratio",
    "fixture.serve_s": "s",
    "sinks.geojson_sink.write_s": "s",
    "sinks.agol_rest.publish_s": "s",
    "sinks.agol_rest.requests": "count",
    "sources.netcdf.read_s": "s",
    "sinks.raster.write_s": "s",
    "streaming.nrt.check_s": "s",
    "streaming.nrt.publish_s": "s",
    "streaming.nrt.not_modified": "count",
    "streaming.nrt.useful_publish_ratio": "ratio",
    "refresh_p50_s": "s",
    "refresh_p90_s": "s",
    "ops_failed_frac": "ratio",
    "setup.jvm_launch_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def pct(values: list[float], q: float) -> float:
    """Percentile, linear between the closest ranks (0 for no samples)."""
    if not values:
        return 0.0
    s = sorted(values)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _pass_metrics(ctx, ps: dict, sums: dict, gaps: dict) -> dict:
    wl = ctx.workload
    m: dict[str, float] = {k: 0.0 for k in UNITS}
    p = ps["pass"]
    ev = {g: v for (q, g), v in sums.items() if q == str(p)}

    def ev_sum(phases, field):
        return sum(
            v.get(field, 0.0) for g, v in ev.items() if g and g.rsplit("/", 1)[-1] in phases
        )

    for op in ps["ops"]:
        for ph, t in op.times.items():
            if ph in BUILD:
                m["queries.build_s"] += t
            elif ph in ACTION:
                m["queries.action_s"] += t
        fam = CURATION_FAMILY.get(op.name)
        if fam:
            m[f"operators.{fam}.build_s"] += op.times.get("build", 0.0)
            m[f"operators.{fam}.action_s"] += op.times.get("action", 0.0)
        m["queries.plan_s"] += op.extra.get("plan_s", 0.0)
        m["operators.pinned_rdds"] += op.extra.get("pinned_rdds", 0)
        m["operators.release_s"] += op.extra.get("release_s", 0.0)
        m["sinks.geojson_sink.write_s"] += op.times.get("geojson", 0.0)
        m["sinks.agol_rest.publish_s"] += op.times.get("publish", 0.0)
        m["sources.netcdf.read_s"] += op.times.get("read", 0.0)
        m["sinks.raster.write_s"] += op.times.get("raster", 0.0)
    m["queries.build_jobs"] = ev_sum(BUILD, "jobs")
    m["queries.action_jobs"] = ev_sum(ACTION, "jobs")
    m["queries.action_tasks"] = ev_sum(ACTION, "tasks")
    m["queries.driver_gap_s"] = sum(
        s for (q, g), s in gaps.items()
        if q == p and g.rsplit("/", 1)[-1] in BUILD
    )
    for field, name in (
        ("run_s", "executor.run_s"), ("gc_s", "executor.gc_s"),
        ("input_bytes", "scan.input_bytes"), ("shuffle_write_bytes", "shuffle.write_bytes"),
    ):
        m[name] = sum(v.get(field, 0.0) for v in ev.values())
    m["queries.accounted_frac"] = (
        (m["queries.build_s"] + m["queries.action_s"]) / ps["wall"] if wl != "erddap_etl" else
        (m["queries.build_s"] + m["queries.action_s"]
         + sum(op.times.get("refresh", 0.0) for op in ps["ops"])) / ps["wall"]
    )
    if wl == "erddap_etl":
        served = ps["served"]
        chunk_paths = {u for op in ps["ops"] for u in op.extra.get("chunk_urls", ())}
        gets = [(path, n) for k in ("hot", "cold") for path, n in served[k]["log"] if path in chunk_paths]
        m["sources.erddap_http.requests"] = len(gets)
        m["sources.erddap_http.bytes"] = sum(n for _, n in gets)
        m["sources.erddap_http.fetch_ratio"] = len({p_ for p_, _ in gets}) / len(gets) if gets else 0.0
        m["fixture.serve_s"] = sum(v["busy_s"] for v in served.values())
        m["sinks.agol_rest.requests"] = served["portal"]["requests"]
        refresh = [op for op in ps["ops"] if op.kind == "refresh"]
        pub = [op for op in refresh if op.extra.get("published")]
        skip = [op for op in refresh if op.extra.get("published") is False]
        m["streaming.nrt.check_s"] = _med(op.times.get("refresh", 0.0) for op in skip)
        m["streaming.nrt.publish_s"] = _med(op.times.get("refresh", 0.0) for op in pub)
        m["streaming.nrt.not_modified"] = len(skip)
        m["streaming.nrt.useful_publish_ratio"] = (
            sum(1 for op in pub if op.extra.get("changed")) / len(pub) if pub else 0.0
        )
    return m


def per_layer(ctx, traced: list[dict], events: tuple, e2e: dict) -> dict:
    per_pass = [_pass_metrics(ctx, ps, *events) for ps in traced]
    out = {k: _med(pm[k] for pm in per_pass) for k in UNITS}
    warm = ctx.passes[1 + ctx.n_warmup : len(ctx.passes) - len(traced)]
    lags = [op.extra["lag_s"] for ps in warm for op in ps["ops"] if "lag_s" in op.extra]
    out["refresh_p50_s"] = _med(lags)
    out["refresh_p90_s"] = pct(lags, 0.9)
    ops = [op for ps in ctx.passes for op in ps["ops"]]
    out["ops_failed_frac"] = sum(op.error is not None for op in ops) / len(ops)
    out["setup.jvm_launch_s"] = ctx.setup_times[0]
    out["trace.wall_s"] = _med(ps["wall"] for ps in traced)
    out["trace.overhead_s"] = out["trace.wall_s"] - e2e["wall_s"]
    return {k: {"value": v, "unit": UNITS[k]} for k, v in out.items()}
