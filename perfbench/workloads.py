"""The three workloads.  Each is a closed loop with one client: a pass runs
the workload's operations one after another, and the next operation starts
when the previous one has completed.

* ``relational`` and ``curation``: one operation is one registry query,
  ``QuerySpec.spark(...)`` (phase ``build``) followed by ``collect()``
  (phase ``action``).  After the clock stops the benchmark counts the
  persistent RDDs the call left and releases its checkpoints.
* ``erddap_etl``: one operation is one dataset's backfill.  A csvp dataset
  is a chunked ``erddap_csvp_http`` scan -> ``drop_invalid_coords`` ->
  ``track_segments`` -> ``geojson_fc`` write -> ``publish_df(overwrite=True)``;
  a griddap dataset is ``read_griddap_netcdf_http`` -> ``write_raster_tiles``.
  After the backfill the pass runs NRT cycles of ``refresh_http_csvp`` over
  every csvp dataset; between cycles the "hot" datasets get new rows and
  their server a newer ``Last-Modified``.

Results are recorded during the pass and checked after the measurement
window (see ``check_*``).
"""

from __future__ import annotations

import datetime as dt
import email.utils
import json
import os
import shutil
import time

import datagen

#: ``relational``: warehouse (TPC-H shaped) and ocean-observing queries.
#: ``pricing_summary`` and ``q3_shipping_priority`` are left out: on some
#: seeds their rounded float sums differ from the DuckDB oracle in the last
#: printed digit (float summation order at a rounding tie), and a workload
#: must not fail on the unchanged engine.
RELATIONAL = [
    "q18_large_volume_customers",
    "q21_late_sole_suppliers",
    "sessionization",
    "asof_last_purchase",
    "track_segments",
]

#: ``curation``: corpus operators, mapped to their operator family.
CURATION_FAMILY = {
    "dedup_ngram_jaccard": "dedup",
    "emb_near_dup_cells": "similarity",
    "label_prop_communities": "graph",
    "lm_perplexity_agg": "lm",
    "text_quality": "text",
}
FAMILIES = ("dedup", "similarity", "graph", "lm", "text")
CURATION = list(CURATION_FAMILY)

NRT_CYCLES = 2
CHUNKS = 4


class Op:
    """One executed operation: its phase times and what the check needs."""

    __slots__ = ("name", "kind", "times", "wall", "error", "result", "expect", "extra")

    def __init__(self, name: str, kind: str):
        self.name, self.kind = name, kind
        self.times: dict[str, float] = {}
        self.wall = 0.0
        self.error: str | None = None
        self.result = None
        self.expect = None
        self.extra: dict = {}


# ----------------------------------------------------------------- queries


def query_pass(ctx, names: list[str]) -> list[Op]:
    from erddap2agol_spark.operators.dedup import release_checkpoints
    from erddap2agol_spark.queries import REGISTRY, _load_all

    from tracing import plan_seconds

    _load_all()
    spark, tr = ctx.spark, ctx.tracer
    jsc = spark.sparkContext._jsc
    ops = []
    for name in names:
        op = Op(name, "query")
        t0 = time.perf_counter()
        df = None
        try:
            with tr.phase(name, "build", op.times):
                df = REGISTRY[name].spark(spark, ctx.sf_dir)
            with tr.phase(name, "action", op.times):
                rows = df.collect()
            op.wall = time.perf_counter() - t0
            op.result = (list(df.columns), [tuple(r) for r in rows])
            if tr.enabled:
                op.extra["plan_s"] = plan_seconds(df)
        except Exception as e:  # a failing query is counted, not fatal
            op.wall = time.perf_counter() - t0
            op.error = f"{type(e).__name__}: {e}"[:300]
        # after the clock: scaffolding the call left pinned, then release it
        op.extra["pinned_rdds"] = jsc.getPersistentRDDs().size()
        t1 = time.perf_counter()
        if df is not None:
            release_checkpoints(df)
        op.extra["release_s"] = time.perf_counter() - t1
        ops.append(op)
    return ops


class _Collected:
    """The ``spark_df`` interface ``oracle_harness.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def check_queries(ctx, passes: list[list[Op]], corrupt: str | None) -> None:
    """Compare every collected result with its DuckDB oracle.  A result
    equal (as a row multiset) to one already compared shares its verdict,
    so each pass is checked without re-running the same oracle query."""
    from erddap2agol_spark.queries import REGISTRY
    from tests.oracle_harness import compare, duckdb_conn

    con = duckdb_conn(ctx.sf_dir)
    verdicts: dict = {}
    for ops in passes:
        for op in ops:
            if op.error is not None:
                continue
            cols, rows = op.result
            if op.name == corrupt and rows:
                rows = rows[:-1]
            key = (op.name, tuple(cols), tuple(sorted(map(repr, rows))))
            if key not in verdicts:
                verdicts[key] = compare(_Collected(cols, rows), con, REGISTRY[op.name].oracle)
            problems = verdicts[key]
            if problems:
                op.error = "oracle mismatch: " + "; ".join(problems)[:300]
            op.result = None
    con.close()


# -------------------------------------------------------------- erddap_etl


class Fleet:
    def __init__(self, csvp, urls):
        self.csvp, self.urls = csvp, urls
        self.touches = 0

    def base(self, ds) -> str:
        return self.urls["hot" if getattr(ds, "hot", False) else "cold"]


def _http_date(n: int) -> str:
    t = dt.datetime(2024, 3, 10, tzinfo=dt.timezone.utc) + dt.timedelta(minutes=n)
    return email.utils.format_datetime(t, usegmt=True)


def _chunks():
    from erddap2agol_spark.sources.erddap_url import TimeRange

    start = datagen.ANCHOR - dt.timedelta(days=datagen.BACKFILL_DAYS)
    step = (datagen.ANCHOR - start) / CHUNKS
    return [TimeRange(start + k * step, start + (k + 1) * step) for k in range(CHUNKS)]


def _csvp_backfill(ctx, ds, out_dir: str, op: Op) -> None:
    from pyspark.sql import functions as F

    from erddap2agol_spark.functions.geometry import segment_geojson
    from erddap2agol_spark.operators.filters import drop_invalid_coords
    from erddap2agol_spark.operators.windows import track_segments
    from erddap2agol_spark.sinks.agol_rest import publish_df
    from erddap2agol_spark.sinks.geojson import feature_json
    from erddap2agol_spark.sinks.publish import ItemProperties
    from erddap2agol_spark.sources.erddap_url import tabledap_chunk_urls

    spark, tr = ctx.spark, ctx.tracer
    with tr.phase(ds.dataset_id, "build", op.times):
        urls = tabledap_chunk_urls(ctx.fleet.base(ds), ds.dataset_id, datagen.CSVP_COLS, _chunks())
        scan = (
            spark.read.format("erddap_csvp_http")
            .option("urls", "\n".join(urls))
            .option("schema_ddl", datagen.CSVP_DDL)
            .option("timeout_s", "30")
            .load()
        )
        clean = drop_invalid_coords(scan, ["latitude", "longitude"])
        segs = track_segments(
            clean, "trajectory", "time", "longitude", "latitude",
            carry_cols=["sea_water_temperature"],
        )
        feats = segs.select(
            feature_json(
                F.struct("trajectory", "seg_start", "sea_water_temperature"),
                segment_geojson(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")),
            ).alias("feature")
        )
    op.extra["chunk_urls"] = [u[len(ctx.fleet.base(ds)):] for u in urls]
    with tr.phase(ds.dataset_id, "geojson", op.times):
        feats.write.format("geojson_fc").mode("overwrite").save(out_dir)
    props = ItemProperties(title=ds.dataset_id, tags=[f"e2a_{ds.dataset_id}"])
    with tr.phase(ds.dataset_id, "publish", op.times):
        publish_df(clean, ctx.client, props, overwrite=True)
    op.expect = {"features": ds.n_segments, "published": ds.n_valid}
    op.result = {"features_dir": out_dir}


def _grid_backfill(ctx, g, out_dir: str, op: Op) -> None:
    from pyspark.sql import functions as F

    from erddap2agol_spark.sinks.raster import write_raster_tiles
    from erddap2agol_spark.sources.erddap_url import GridSelector, TimeRange, griddap_url
    from erddap2agol_spark.sources.netcdf import read_griddap_netcdf_http

    def _t(s):
        return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")

    tr = ctx.tracer
    with tr.phase(g.dataset_id, "read", op.times):
        urls = [
            griddap_url(
                ctx.fleet.urls["cold"], g.dataset_id, ["sst"],
                GridSelector(TimeRange(_t(a), _t(b)), (26.5, 30.0), (-95.0, -91.5), lat_order_desc=True),
            )
            for a, b, _ in g.divisions
        ]
        cells = read_griddap_netcdf_http(ctx.spark, urls).filter(F.col("var") == "sst")
    with tr.phase(g.dataset_id, "raster", op.times):
        meta = write_raster_tiles(cells, out_dir)
    op.expect = {"cells": g.n_cells}
    op.result = {"cells": sum(t["n_cells"] for t in meta["tiles"])}


def etl_pass(ctx, p: int) -> list[Op]:
    from erddap2agol_spark.streaming.nrt import refresh_http_csvp
    from erddap2agol_spark.sources.erddap_url import nrt_url

    fleet = ctx.fleet
    root = os.path.join(ctx.work, "etl", f"p{p}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    ops = []
    for ds in ctx.etl_order:
        op = Op(ds.dataset_id, "backfill")
        t0 = time.perf_counter()
        try:
            out = os.path.join(root, "out", ds.dataset_id)
            if isinstance(ds, datagen.GridDataset):
                _grid_backfill(ctx, ds, out, op)
            else:
                _csvp_backfill(ctx, ds, out, op)
        except Exception as e:
            op.error = f"{type(e).__name__}: {e}"[:300]
        op.wall = time.perf_counter() - t0
        ops.append(op)
    csvp_order = [ds for ds in ctx.etl_order if isinstance(ds, datagen.CsvpDataset)]
    for c in range(NRT_CYCLES):
        now = datagen.ANCHOR + dt.timedelta(hours=2 * (p * NRT_CYCLES + c + 1))
        t_touch = None
        if c > 0:  # the upstream change: new rows on every hot dataset
            for ds in fleet.csvp:
                if ds.hot:
                    datagen.append_nrt_rows(ds, now, ctx.seed, p * NRT_CYCLES + c)
            fleet.touches += 1
            ctx.fixtures.call({"cmd": "touch", "server": "hot", "last_modified": _http_date(fleet.touches)})
            t_touch = time.perf_counter()
        for ds in csvp_order:
            op = Op(f"nrt:{ds.dataset_id}:c{c}", "refresh")
            changed = c == 0 or ds.hot
            t0 = time.perf_counter()
            try:
                url = nrt_url(fleet.base(ds), ds.dataset_id, datagen.CSVP_COLS, now)
                with ctx.tracer.phase(ds.dataset_id, "refresh", op.times):
                    r = refresh_http_csvp(ctx.spark, url, os.path.join(root, "nrt", ds.dataset_id))
                done = time.perf_counter()
                op.result = {"published": bool(r["published"]), "rows": r.get("rows")}
                op.expect = {
                    "published": changed,
                    "rows": datagen.rows_in_window(ds, now) if changed else None,
                }
                op.extra.update(changed=changed, published=bool(r["published"]))
                if t_touch is not None and ds.hot:
                    op.extra["lag_s"] = done - t_touch
            except Exception as e:
                op.error = f"{type(e).__name__}: {e}"[:300]
            op.wall = time.perf_counter() - t0
            ops.append(op)
    return ops


def check_etl(ctx, passes: list[list[Op]], corrupt: str | None) -> None:
    """Feature counts against segment counts, portal rows against rows
    that survive QC, raster cells against the grid, NRT decisions and
    window row counts against the seeded change set."""
    portal_rows = ctx.fixtures.call({"cmd": "portal_rows"})
    last = {}
    for ops in passes:
        for op in ops:
            if op.error is not None or op.result is None:
                continue
            got = dict(op.result)
            if "features_dir" in got:
                with open(os.path.join(got.pop("features_dir"), "_manifest.json")) as f:
                    got["features"] = json.load(f)["n_features"]
                last[op.name] = op
            if op.name == corrupt or op.name.startswith(f"nrt:{corrupt}:"):
                k = next(iter(op.expect))
                got[k] = (got.get(k) or 0) + 1
            bad = {k: (got.get(k), v) for k, v in op.expect.items() if k in got and got[k] != v}
            if bad:
                op.error = f"mismatch (got, want): {bad}"
            op.result = None
    # the portal holds the last overwrite of each dataset
    for name, op in last.items():
        got = portal_rows.get(name)
        if op.error is None and got != op.expect["published"]:
            op.error = f"portal rows {got} != {op.expect['published']} rows that survive QC"
