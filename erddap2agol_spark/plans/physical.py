"""Physical-plan policy shared by every operator: partition width and
the checkpoint lifecycle.

Width: fan-out operators (shingle/token explodes, pair joins, vector
scoring) and iterated graph rounds size their task count from the input
they will process — scan bytes times a per-operator fan-out weight, or
a measured row count — capped at ``defaultParallelism``, so a tiny
corpus is not spread across the full cluster width and a big one is
never capped below it.

Lifecycle: :func:`truncate_lineage` materializes a relation as an eager
checkpoint and :func:`release_checkpoints` frees the blocks a result's
plan roots at.  Release is explicit; GC does not reclaim checkpoints
under pinned-thread py4j.

This module is a leaf: it imports no operator module.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Input bytes (compressed parquet) per fan-out task.  Fan-out operators
#: multiply input 10-100x (shingles, token bigrams, hash bands) and
#: parquet decompresses ~4x, so 256 KiB of input is ~10-100 MB of
#: in-flight rows per task — the guide §2.6 partition sweet spot.  The
#: derived target is what makes the floor SCALE-ADAPTIVE: a 600 KB local
#: documents table gets 3 tasks instead of a cluster-width 32 (measured
#: r9: the 32-way repartition of the 5k-doc sf0.1 corpus cost every
#: downstream stage 32 near-empty tasks — lm_perplexity 1.34 s -> 0.95 s,
#: minhash_signatures 0.81 s -> 0.70 s at the derived width), while
#: anything over ~8 MB ships at full defaultParallelism exactly as
#: before.
FANOUT_INPUT_BYTES_PER_TASK = 256 << 10

#: fanout_weight for the PPJoin-style posting pair joins (consumed by
#: dedup._shingle_rows): the join explodes C(df, 2) candidate pairs per
#: posting list, so its per-input-byte compute is an order of magnitude
#: above the plain-explode baseline.  Re-adjudicated r10 under an
#: INTERLEAVED same-process A/B at both core counts (VERDICT r9 #4 —
#: full table in OPTIMIZATION_r10.md): weight 1 under-provisions the
#: join stage at every core count (c32 medians: ngram 3.00 s, auto
#: 2.98 s), weight 16 over-widens it to full cluster width at c32
#: (ngram 2.24 s, auto 3.10 s — the r9 c32 finding), and weight 4
#: sits at the knee (ngram 1.77 s, auto 2.06 s).  At c8 weights 4 and
#: 16 derive the SAME width (both cap at defaultParallelism), so the
#: choice only moves high-core-count behavior.
PAIR_JOIN_FANOUT_WEIGHT = 4

#: fanout_weight for the vector-scoring fan-outs (brute-force cosine,
#: in-bucket LSH scoring): the per-row work is an interpreted
#: higher-order-function dot product times the candidate multiplicity,
#: far above the scan baseline FANOUT_INPUT_BYTES_PER_TASK was sized
#: for (ADVICE r9: quadratic callers sized tasks by input bytes).
#: Adjudicated by the same interleaved A/B protocol as
#: PAIR_JOIN_FANOUT_WEIGHT — table in OPTIMIZATION_r10.md.
VECTOR_FANOUT_WEIGHT = 8

#: fanout_weight for graph.copurchase_edges' keyed group build: the
#: downstream in-row pair explode is quadratic per group.
COPURCHASE_FANOUT_WEIGHT = 8

#: fanout_weight for corpus_manifest's quality gate: dozens of
#: regex/aggregate passes over the full document text per row.
QUALITY_GATE_FANOUT_WEIGHT = 4

#: Target rows per task for an iterated (loop-invariant) relation.  An
#: iterative pass over a SMALL graph is task-launch floor, not data: a
#: 3.6k-edge graph iterated 4 rounds at 32-partition granularity launches
#: ~400 near-empty tasks where 12 would do (measured: LPA on the sf0.1
#: repeat-co-purchase graph 4.5 s -> 2.0 s from compaction alone, guide
#: §2.6 scale-adaptive partitioning).  Big graphs are unaffected — the
#: count-derived partition target caps at defaultParallelism, and AQE can
#: still split skewed partitions downstream.
LOOP_ROWS_PER_TASK = 400_000

#: parquet-footer row-group counts — driver-side metadata reads, same
#: class of work as Spark's own file listing.  One entry per PATH,
#: validated by (mtime, size): a rewritten/rotated file replaces its
#: entry instead of accumulating dead keys for the process lifetime,
#: and the size component narrows the 1-second-mtime staleness window
#: of an in-place overwrite (ADVICE r9).
_ROW_GROUP_CACHE: dict[str, tuple[tuple[float, int], int]] = {}


def _local_paths(df: DataFrame) -> list[str] | None:
    """Local file paths behind ``df``'s scan, or None when the plan has
    no file scan or any file is remote (footers not locally readable)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    paths = []
    for uri in files:
        if uri.startswith("file:"):
            paths.append(uri[len("file://"):] if uri.startswith("file://") else uri[5:])
        elif uri.startswith("/"):
            paths.append(uri)
        else:
            return None
    return paths or None


def _scan_units(df: DataFrame, target: int) -> int | None:
    """Upper bound on the scan's NON-EMPTY partitions, or None when it
    cannot be determined cheaply.

    Byte-range splits of a parquet file cannot split a row group (a
    task reads the row groups whose midpoint falls in its range), so a
    scan floored to N splits of a file with fewer row groups has empty
    partitions and ``getNumPartitions()`` overstates real parallelism.
    Only consulted for narrow scan-rooted plans with fewer files than
    ``target`` — a shuffle-made partitioning is real, and >= target
    files give >= target nonempty tasks at any split size.
    """
    paths = _local_paths(df)
    if paths is None or len(paths) >= target:
        return None
    # a shuffle/repartition in the plan makes the partitioning real
    try:
        if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
            return None
    except Exception:
        return None
    units = 0
    for path in paths:
        try:
            st = os.stat(path)
            stamp = (st.st_mtime, st.st_size)
            hit = _ROW_GROUP_CACHE.get(path)
            if hit is not None and hit[0] == stamp:
                n = hit[1]
            else:
                import pyarrow.parquet as pq

                n = pq.ParquetFile(path).metadata.num_row_groups
                _ROW_GROUP_CACHE[path] = (stamp, n)
            units += max(1, n)
        except Exception:
            return None
    return units


def _input_bytes(df: DataFrame) -> int | None:
    """Total LOCAL file size behind ``df``'s scan, or None when the
    plan has no file scan / files are remote (driver-side stat only,
    no job)."""
    paths = _local_paths(df)
    if paths is None:
        return None
    try:
        return sum(os.path.getsize(p) for p in paths)
    except OSError:
        return None


def _width_by_size(size: int, fanout_weight: int, par: int) -> int:
    """``ceil(size * weight / FANOUT_INPUT_BYTES_PER_TASK)`` clamped to
    [1, ``par``]."""
    by_size = -(-size * max(1, fanout_weight) // FANOUT_INPUT_BYTES_PER_TASK)
    return max(1, min(par, by_size))


def fanout_width(df: DataFrame, fanout_weight: int = 1) -> int | None:
    """Explicit shuffle width for a compute-heavy KEYED repartition, or
    None to leave the width to the planner.

    AQE's partition coalescing sizes post-shuffle partitions by BYTES
    (advisoryPartitionSizeInBytes), which under-provisions stages whose
    per-byte compute is far above the scan baseline — the quadratic
    in-row pair explode of ``graph.copurchase_edges`` ran on 5
    AQE-coalesced tasks at sf0.1 (956 ms of an 11 MB input; measured
    r10) because its 6 MB shuffle looks tiny.  An EXPLICIT partition
    count disables AQE coalescing for that exchange, so it is returned
    only in the small-input regime where per-core input is below the
    4 MB openCost floor — at real scale (per-core share above it) the
    implicit form is returned untouched and AQE/conf own the width, and
    a keyed aggregate is never capped at core count on big data.
    """
    size = _input_bytes(df)
    if size is None:
        return None
    par = df.sparkSession.sparkContext.defaultParallelism
    if size > 4 * (1 << 20) * par:  # big-data regime: planner owns it
        return None
    return _width_by_size(size, fanout_weight, par)


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    fanout_weight: int = 1,
) -> DataFrame:
    """Repartition iff the input is under-parallelized for fan-out work.

    Fan-out operators (explode to shingles/tokens, pair joins) multiply
    work 10-100x per input row; when the scan produced few partitions
    (e.g. one small parquet file -> one task) the whole operator runs on
    one core. At real scale the scan is already wide and this is a no-op
    — the check costs a plan walk, not a job.

    The target is derived from the scan's INPUT SIZE
    (:data:`FANOUT_INPUT_BYTES_PER_TASK`), capped at
    ``defaultParallelism`` — not a constant: a tiny corpus must not be
    exploded across the full cluster width (task-launch floor dominates;
    see the constant's measurements), and a big one must not be capped
    below it.  Pass ``min_partitions`` to override with an explicit
    floor.

    ``fanout_weight`` scales the size-derived target for operators whose
    per-input-byte COMPUTE is far above the explode-and-aggregate
    baseline the constant was sized for: the PPJoin-style posting joins
    explode C(df_cap, 2) candidate pairs per posting list, so their
    first stage wants cluster width at input sizes where a plain shingle
    count is happy on a few cores (fresh-session bench-protocol medians
    at sf0.1: dedup_ngram_jaccard 1.9 s at weight 1 vs 1.3 s at the
    restored width).  The weight multiplies the BYTES side, so the
    target still shrinks for truly tiny inputs and still caps at
    defaultParallelism.

    The partition COUNT alone can lie (r9): with the session's
    scan-parallelism floor (``spark.sql.files.minPartitionNum``) a
    large single-row-group parquet file splits into >= target
    byte-ranges of which all but a few are EMPTY — the count passes,
    the rows still sit on one core, and the fan-out work serializes.
    For scan-rooted plans with fewer files than the target, the
    parquet footers' row-group count (:func:`_scan_units`, a cached
    driver-side metadata read) bounds the real parallelism instead.
    """
    target = min_partitions
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
        size = _input_bytes(df)
        if size is not None:
            target = _width_by_size(size, fanout_weight, target)
    if target <= 1:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    units = _scan_units(df, target)
    if units is not None and units < target:
        return df.repartition(target)
    return df


def _loop_partitions(n_rows: int, df: DataFrame) -> int | None:
    """Partition count for an iterated relation of ``n_rows`` rows:
    ~:data:`LOOP_ROWS_PER_TASK` rows per task (at least 1), or None when
    that reaches ``defaultParallelism`` — a big graph keeps ambient
    parallelism.  Derived from a measured count, so the compaction is
    scale-adaptive rather than tuned to either local mode or a
    cluster."""
    target = max(1, -(-int(n_rows) // LOOP_ROWS_PER_TASK))  # ceil div
    if target < df.sparkSession.sparkContext.defaultParallelism:
        return target
    return None


def truncate_lineage(df: DataFrame, release: DataFrame | None = None) -> DataFrame:
    """Materialize ``df`` and cut its lineage — the per-round discipline
    for iterative operators (connected components, k-core, pointer
    doubling), where chaining rounds over plain ``persist`` nests the
    ANALYZED plan round-over-round and driver-side optimization grows
    super-linearly (measured 1.3s -> 14s per round by round 5).

    Mode is chosen by session configuration: with a checkpoint dir set
    (``spark.sparkContext.setCheckpointDir`` — do this on a real
    cluster) rounds use a RELIABLE checkpoint, whose files survive
    executor loss.  Without one (local[n], tests) rounds use
    ``localCheckpoint``: executor-local blocks with NO lineage left to
    recompute from, so losing an executor mid-iteration fails the job —
    acceptable single-node, not at 1000 executors.

    Lifecycle is EXPLICIT, not GC-driven: under PySpark's default
    pinned-thread mode (``PYSPARK_PIN_THREAD=true``) a dropped
    checkpointed frame's blocks are NOT reclaimed — the py4j finalizer
    removes the JVM Dataset binding, but the checkpointed RDD stays
    strongly rooted JVM-side and ``getPersistentRDDs`` grows by one
    entry per call until the application exits (measured r9 on Spark
    4.1; with ``PYSPARK_PIN_THREAD=false`` the ContextCleaner does
    reclaim).  Iterative operators therefore pass the PREVIOUS round's
    frame as ``release``: once the new checkpoint has materialized
    (eager), the previous round's blocks are unpersisted explicitly.
    Callers holding a terminal checkpointed result free it with
    :func:`release_checkpoints` when done."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        # SERIALIZED blocks (MEMORY_AND_DISK; the Dataset default is
        # the *_DESER object store): a deserialized UnsafeRow costs
        # ~80 B/row in JVM object overhead for a 3-long row (measured
        # r10: the 2.4M-row pagerank edge base checkpointed at 220 MB
        # vs 28 MB cached columnar, and every downstream scan paid the
        # bloat).
        out = df.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    if release is not None:
        release_checkpoints(release)
    return out


def release_checkpoints(df: DataFrame) -> int:
    """Explicitly unpersist every checkpointed relation embedded in
    ``df``'s plan; returns how many were released.  Call ONLY when no
    future action will read the frame — a local checkpoint has no
    lineage left to recompute from, so a released frame cannot be
    re-executed.

    Walks the analyzed plan's leaves for ``LogicalRDD`` nodes (exactly
    what :func:`truncate_lineage` produces) and unpersists each backing
    RDD — ``unpersist`` on a never-persisted LogicalRDD (e.g. a
    ``createDataFrame`` relation) is a harmless no-op.  Best-effort:
    on backends without py4j plan access (Spark Connect) this quietly
    releases nothing and the blocks live until application exit.

    Scope note (ADVICE r9): this releases storage BLOCKS.  On a
    cluster whose session has a RELIABLE checkpoint dir configured,
    ``truncate_lineage`` writes checkpoint FILES there; those files
    are the checkpoint-dir lifecycle (clean them with the dir, as with
    shuffle/work dirs — Spark itself only removes them at context stop
    when ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    except Exception:
        return 0
    freed = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        try:
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
                freed += 1
        except Exception:
            pass
    return freed
