"""Optimization round 9: cache-lifecycle pins for the call-scoped
edge persist in the iterative graph operators and the shared-explode
probe path in jaccard_pairs_auto.

Each optimization keeps results identical (oracle parity is asserted
elsewhere); what these tests pin is the LIFECYCLE the optimization
introduced — a call must leave the CacheManager empty (no leaked
persist) and the persistent-RDD table at base + 1 (the returned
checkpoint), returning to base after release_checkpoints."""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from erddap2agol_spark.plans.physical import (
    FANOUT_INPUT_BYTES_PER_TASK,
    LOOP_ROWS_PER_TASK,
    _input_bytes,
    _loop_partitions,
    _scan_units,
    ensure_parallelism,
    release_checkpoints,
)
from erddap2agol_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _edges(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    from erddap2agol_spark.operators.graph import copurchase_edges

    return copurchase_edges(li, "l_orderkey", "l_partkey")


def test_pagerank_call_scoped_caches(spark, rdd_ids):
    """r10 lifecycle: the call leaves NO CacheManager entry (nothing can
    plan-match a rebuilt identical plan) and only the deg/g scaffold
    checkpoints backing the LAZY returned plan — the edge checkpoint is
    freed in-call once g materializes — and release_checkpoints(result)
    restores the persistent-RDD table to base."""
    from erddap2agol_spark.operators.graph import pagerank

    base = rdd_ids()
    out = pagerank(_edges(spark), a="pa", b="pb", iterations=2)
    assert out.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "pagerank left a CacheManager-pinned persist behind"
    )
    live = rdd_ids() - base
    assert len(live) == 2, (
        f"expected exactly the deg+g scaffold checkpoints, got {len(live)}"
    )
    release_checkpoints(out)
    assert not (rdd_ids() - base)
    gc.collect()


def test_label_propagation_call_scoped_caches(spark, rdd_ids):
    from erddap2agol_spark.operators.graph import label_propagation

    base = rdd_ids()
    out = label_propagation(_edges(spark), iterations=2, a="pa", b="pb")
    assert out.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "label_propagation left a CacheManager-pinned persist behind"
    )
    assert len(rdd_ids() - base) == 1
    release_checkpoints(out)
    assert not (rdd_ids() - base)
    gc.collect()


def test_ensure_parallelism_sees_through_empty_splits(spark, tmp_path):
    """r9: byte-range splits cannot split a parquet row group, so a
    single-row-group file floored to N splits has N-1 EMPTY partitions
    — the partition count passes the old check while every row sits on
    one core.  ensure_parallelism must consult the footers' row-group
    count and repartition anyway."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq


    rng = np.random.default_rng(7)
    n = 60_000
    # incompressible text so the file spans several 4 MB split units
    texts = ["".join(chr(97 + c) for c in rng.integers(0, 26, 180))
             for _ in range(n)]
    tbl = pa.table({"doc_id": pa.array(np.arange(n)), "text": pa.array(texts)})
    path = str(tmp_path / "one_rg.parquet")
    pq.write_table(tbl, path, row_group_size=n, compression="none")
    df = spark.read.parquet(str(tmp_path))
    n_parts = df.rdd.getNumPartitions()
    assert n_parts >= 3, f"fixture too small to split ({n_parts} parts)"
    nonempty = sum(1 for s in df.rdd.glom().map(len).collect() if s)
    assert nonempty == 1, "expected the single-row-group empty-split shape"
    assert _scan_units(df, 3) == 1
    out = ensure_parallelism(df, min_partitions=3)
    spread = sum(1 for s in out.rdd.glom().map(len).collect() if s)
    assert spread >= 3, "ensure_parallelism kept the one-core layout"
    # a shuffle-made partitioning is REAL: no second repartition
    wide = df.repartition(3)
    assert ensure_parallelism(wide, min_partitions=3) is wide


def test_ensure_parallelism_size_derived_target(spark, tmp_path):
    """r9: without an explicit floor the target derives from the scan's
    input BYTES — a tiny file must NOT be exploded to cluster width
    (task-launch floor dominates fan-out work on small corpora), while
    a multi-MB file still widens toward defaultParallelism."""
    import pyarrow as pa
    import pyarrow.parquet as pq


    small_dir = tmp_path / "small"
    small_dir.mkdir()
    tbl = pa.table({"doc_id": pa.array(range(100)),
                    "text": pa.array(["alpha beta gamma"] * 100)})
    pq.write_table(tbl, str(small_dir / "docs.parquet"))
    small = spark.read.parquet(str(small_dir))
    size = _input_bytes(small)
    assert size is not None and size < FANOUT_INPUT_BYTES_PER_TASK
    out = ensure_parallelism(small)
    # target computes to 1: the frame passes through un-repartitioned
    assert out is small
    # an explicit floor still overrides the size heuristic
    assert ensure_parallelism(small, min_partitions=2).rdd.getNumPartitions() >= 2


def test_loop_partitions_none_at_the_cap(spark):
    """Iterated relations compact to ~LOOP_ROWS_PER_TASK rows per task
    below defaultParallelism; at the cap the width is left ambient."""
    par = spark.sparkContext.defaultParallelism
    df = spark.range(1)
    assert _loop_partitions(0, df) == 1
    assert _loop_partitions(LOOP_ROWS_PER_TASK * (par - 1), df) == par - 1
    assert _loop_partitions(LOOP_ROWS_PER_TASK * par, df) is None


def test_jaccard_auto_shared_probe_matches_posting_join(spark, rdd_ids):
    """The shared-explode dispatch path (exact probe aggregated over
    the SAME cached shingle relation the join reads) must return
    exactly ngram_jaccard_pairs' result, with clean cache lifecycle."""
    from erddap2agol_spark.operators.dedup import (
        jaccard_pairs_auto,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    base = rdd_ids()
    auto = jaccard_pairs_auto(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    ref = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    a = {tuple(r) for r in auto.collect()}
    b = {tuple(r) for r in ref.collect()}
    assert a == b and a, "shared-probe dispatch diverged from the posting join"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "jaccard_pairs_auto leaked its shared shingle persist"
    )
    release_checkpoints(auto)
    release_checkpoints(ref)
    assert not (rdd_ids() - base)
    gc.collect()
