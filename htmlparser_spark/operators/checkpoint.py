"""Per-partition checkpoint lineage + idempotent resume.

Mechanism (SURVEY §3.2 stage 2/6):

- The input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` — a
  *stable* partition id, independent of file layout, so a resumed run
  sees the same buckets whatever the cluster shape.
- After each successful bucket write, one lineage row
  (partition_id, n_rows, content_hash) is appended to the manifest.
  content_hash is an order-insensitive XOR of per-row
  xxhash64(conv_id, turn_idx, extracted_text) — so a re-run can verify
  integrity, and duplicated work is detectable, not just avoidable.
- Resume = an IN-filter of the input against the committed manifest
  partition ids (a driver-side list ≤ n_buckets, read with pyarrow
  without a Spark job). The parse kernel is
  a pure function of `text`, so re-running a bucket is idempotent by
  construction; output is written with partitionBy(partition_id) +
  dynamic partition overwrite, making bucket-level retries
  atomic-enough on a filesystem and exactly the Iceberg
  overwrite-partition commit in production.
- Sizing: the write keeps one file per bucket (n_buckets files), but
  its task count is one wave of cores, min(n_buckets,
  defaultParallelism); each task writes several whole buckets. The
  lineage re-read's parallel directory listing is capped the same way.
  Both caps derive from the session, so a larger cluster gets wider
  stages with no option to tune.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["with_partition_id", "lineage_rows",
           "run_checkpointed", "row_hash_expr"]

MANIFEST_SCHEMA = ("partition_id long, n_rows long, content_hash long, "
                   "run_id string")


def with_partition_id(df: DataFrame, n_buckets: int,
                      key_col: str = "conv_id") -> DataFrame:
    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("long"))


def completed_ids(path: str) -> Optional[list]:
    """Committed bucket ids as a driver-side list (None = no manifest,
    or an empty or unreadable one). Read with pyarrow on the driver,
    as ``append_manifest_rows`` writes it: the manifest is ≤ n_buckets
    rows, so a Spark job to read it costs more in scheduling than the
    read itself. Hidden ``.tmp-*`` files of an unfinished append are
    ignored."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    try:
        ids = ds.dataset(path, format="parquet") \
            .to_table(columns=["partition_id"]).column(0)
    except (OSError, pa.ArrowException):
        return None
    return sorted(set(ids.to_pylist())) or None


ROW_HASH_COL = "row_hash"


def row_hash_expr(extra_cols=()):
    """The per-row lineage hash: xxhash64 over the identifying key and
    the extracted payload. ONE definition shared by both lineage modes
    and the streaming pipeline, so manifests are byte-comparable
    across all of them. ``extra_cols`` extends the key for modes whose
    output has several rows per turn (table cells, links) — without
    them two identical items in one turn would XOR-cancel in the
    bucket hash and a doubled/dropped pair would go unnoticed."""
    return F.xxhash64("conv_id", "turn_idx", *extra_cols,
                      "extracted_text")


def lineage_rows(out: DataFrame, run_id: str,
                 from_hash_col: bool = False,
                 extra_cols=()) -> DataFrame:
    """(partition_id, n_rows, content_hash, run_id) per bucket.
    content_hash: order-insensitive XOR of per-row content hashes —
    recomputed from the text (default) or read from a precomputed
    ``row_hash`` column (hash_col lineage mode)."""
    row_hash = (F.col(ROW_HASH_COL) if from_hash_col
                else row_hash_expr(extra_cols))
    return (out.groupBy("partition_id")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.bit_xor(row_hash).alias("content_hash"))
            .withColumn("run_id", F.lit(run_id)))


def append_manifest_rows(rows, path: str) -> None:
    """Driver-side manifest append (pyarrow, atomic rename). The
    manifest is tiny (≤ n_buckets rows) — a Spark job here costs
    seconds of scheduling for no work, and in production this commit
    is an Iceberg metadata append, i.e. also a driver-side operation."""
    if not rows:
        return
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "partition_id": pa.array([r.partition_id for r in rows],
                                 pa.int64()),
        "n_rows": pa.array([r.n_rows for r in rows], pa.int64()),
        "content_hash": pa.array([r.content_hash for r in rows],
                                 pa.int64()),
        "run_id": pa.array([r.run_id for r in rows], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(path,
                                f"manifest-{uuid.uuid4().hex}.parquet"))


def _write_frame(out: DataFrame, n_buckets: int, fuse_order: bool,
                 lineage_mode: str, extra_hash_cols: tuple = ()) -> DataFrame:
    """The post-kernel frame ``run_checkpointed`` writes: ONE exchange
    clustering rows by bucket, the bucket sort, the fused ordering
    window and (hash_col lineage) the ``row_hash`` column.

    Cluster by bucket before the partitioned write: every bucket lands
    in exactly one write task, so the file count is n_buckets (one
    sorted file per ``partition_id=`` directory) instead of
    write_tasks × n_buckets, and the dynamic-overwrite commit stays
    O(n_buckets) as the cluster grows. The TASK count is one wave of
    cores, min(n_buckets, defaultParallelism), not n_buckets: a task
    writes its buckets one after another, so n_buckets tasks on fewer
    cores only add per-task overhead and a long imbalanced tail (on a
    4-core VM, perfbench chat_turns' kernel → exchange → write took
    2.67 s with 64 write tasks and 1.84 s with 4).
    sortWithinPartitions makes each bucket file (conv_id,
    turn_idx)-sorted — deterministic layout, ordered consumer reads,
    better parquet encoding — and satisfies the fused window's
    required ordering (see run_checkpointed)."""
    tasks = min(n_buckets, out.sparkSession.sparkContext.defaultParallelism)
    out = (out.repartition(tasks, "partition_id")
           .sortWithinPartitions("partition_id", "conv_id", "turn_idx",
                                 *extra_hash_cols))
    if fuse_order:
        from pyspark.sql import Window
        w = (Window.partitionBy("partition_id", "conv_id")
             .orderBy("turn_idx"))
        out = out.withColumn("turn_seq", F.row_number().over(w))
    if lineage_mode == "hash_col":
        out = out.withColumn(ROW_HASH_COL, row_hash_expr(extra_hash_cols))
    return out


def run_checkpointed(spark: SparkSession, df: DataFrame, output_path: str,
                     manifest_path: str, n_buckets: int = 64,
                     run_id: str = "run-0", key_col: str = "conv_id",
                     extract_kwargs: Optional[dict] = None,
                     max_buckets: Optional[int] = None,
                     lineage_mode: str = "full",
                     transform=None,
                     extra_hash_cols: tuple = ()) -> list:
    """Full checkpointed pipeline: bucket → resume-filter → extract →
    write(partitionBy bucket, dynamic overwrite) → lineage append.
    Returns the lineage rows of THIS run as a driver-side list of Rows
    (partition_id, n_rows, content_hash, run_id); empty if nothing to
    do. The list is bounded by n_buckets, so driver-side is safe.

    ``max_buckets`` commits at most that many (lowest-id) uncommitted
    buckets this run — the commit boundary a mid-job failure leaves
    behind (the manifest append IS the per-run commit, so "died after
    k buckets were committed" is exactly "a run restricted to k
    buckets completed, then the process died"). The scaling bench's
    kill-resume mode uses it to assert a resumed run processes ONLY
    the missing buckets and converges to a byte-identical manifest.

    ``lineage_mode`` picks how the commit-certifying pass reads back
    what landed on disk:

    - ``'full'`` (default): re-read (conv_id, turn_idx,
      extracted_text) and recompute every row hash — certifies the
      committed text bytes themselves, at the cost of re-reading the
      payload column; fine up to mid-size outputs, a full extra
      I/O+hash pass at 100 TB.
    - ``'hash_col'``: the per-row hash is computed once in the write
      stage and written as a ``row_hash`` column (8 B/row); the
      certify pass re-reads only (partition_id, row_hash) — a >100×
      smaller column-pruned scan that still proves every committed
      row landed ON DISK exactly once (missing/duplicated rows change
      the XOR). This is the Iceberg write-time-stats design and the
      right default at scale; parquet page checksums cover byte-level
      corruption of the payload itself.

    Both modes XOR the SAME per-row hash (``row_hash_expr``), so their
    manifests are byte-identical on identical data — pinned by test.

    ``transform`` swaps the per-bucket extraction: a callable
    (bucketed DataFrame with ``partition_id``) → DataFrame that must
    keep ``partition_id``/``conv_id``/``turn_idx`` and produce
    ``extracted_text`` — every other stage (resume filter, clustered
    write, lineage certify, manifest commit) is mode-independent.
    Modes whose output is several rows per turn pass the item-key
    columns as ``extra_hash_cols`` so the lineage hash stays
    row-unique (see row_hash_expr). The ordering fusion only applies
    to the default kernel path (a transform orders its own output)."""
    from .extract import extract_transcripts

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # the lineage re-read lists one leaf directory per bucket; above 32
    # of them Spark lists in a parallel job of one task per directory
    # (up to this cap), i.e. n_buckets tiny tasks. One wave of cores
    # lists them as fast without the per-task overhead.
    listing = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    spark.conf.set(listing, str(min(int(spark.conf.get(listing)),
                                    spark.sparkContext.defaultParallelism)))
    # ---- fused ordering (default): the ordering window and the
    # bucket-clustered write want the SAME co-location — partition_id
    # is a pure function of conv_id, so hash-partitioning by
    # partition_id already clusters conversations. Running the window
    # as partitionBy(partition_id, conv_id) AFTER the write
    # repartition lets Catalyst prove the exchange satisfies the
    # window's ClusteredDistribution (its expressions are a superset
    # of the exchange's) and the bucket sort satisfies the window's
    # required ordering: ONE post-kernel exchange + ONE sort instead
    # of two of each. At 16 concurrent local writers the second
    # full-payload shuffle was the measured negative-scaling stage
    # (BENCH/DIAGNOSIS_4_16.md); on a real cluster it is a full extra
    # network pass of the widest columns. turn_seq is unchanged:
    # ranking within (partition_id, conv_id) == ranking within
    # conv_id because conv_id determines partition_id.
    ek = dict(extract_kwargs or {})
    fuse_order = (transform is None
                  and ek.get("order", True)
                  and ek.get("order_impl", "window") == "window"
                  and key_col == "conv_id")
    if fuse_order:
        ek["order"] = False
    bucketed = with_partition_id(df, n_buckets, key_col)
    done = completed_ids(manifest_path)
    todo = bucketed
    if done:
        # resume: committed buckets are a small driver-side list
        # (≤ n_buckets) → plain IN-filter, no join, no extra scan
        todo = bucketed.filter(~F.col("partition_id").isin(done))
        if len(set(done)) >= n_buckets:
            return []
    if max_buckets is not None:
        undone = [b for b in range(n_buckets)
                  if not done or b not in set(done)][:max_buckets]
        todo = todo.filter(F.col("partition_id").isin(undone))
    # empty-input guard runs UNCONDITIONALLY (not only on resume): a
    # first run over zero rows must no-op, not write an empty dataset
    # and then fail re-reading it for lineage (a scheduled incremental
    # job with no new data would crash otherwise). isEmpty() touches
    # one scan partition — cheap relative to the pipeline.
    if todo.isEmpty():
        return []
    out = (transform(todo) if transform is not None
           else extract_transcripts(todo, **ek))
    out = _write_frame(out, n_buckets, fuse_order, lineage_mode,
                       extra_hash_cols)
    out.write.mode("overwrite").partitionBy("partition_id") \
        .parquet(output_path)
    # lineage is computed from a RE-READ of what landed on disk (not
    # from the in-memory plan) — it certifies the committed data.
    # Column pruning keeps this pass cheap: full mode reads back the
    # hash inputs (not raw_html); hash_col mode reads back only the
    # 8-byte precomputed row_hash column (see docstring).
    if lineage_mode == "hash_col":
        written = spark.read.parquet(output_path) \
            .select("partition_id", ROW_HASH_COL)
    else:
        written = spark.read.parquet(output_path) \
            .select("partition_id", "conv_id", "turn_idx",
                    *extra_hash_cols, "extracted_text")
    if done:
        written = written.filter(~F.col("partition_id").isin(done))
    rows = lineage_rows(written, run_id,
                        from_hash_col=lineage_mode == "hash_col",
                        extra_cols=extra_hash_cols) \
        .collect()
    append_manifest_rows(rows, manifest_path)
    return rows
