"""Checkpoint / exact resume with per-partition lineage + metrics.

The reference's only persistent state is its process exit code
(/root/reference/canner/src/canner.cc:1116). BASELINE.json mandates
real ops semantics: "checkpoints completed partitions to a lineage +
metrics table for exact resume".

Design (SURVEY.md §2.2 #25):
- The **manifest** is an append-only parquet table (Iceberg in
  production — same append semantics) of per-partition completion
  records. A partition's manifest row is written only AFTER its
  violations/verdict/metrics rows are durably written — the manifest
  append is the commit point.
- On restart, pending work = all partitions LEFT ANTI JOIN manifest.
  Completed partitions are never rescanned (partition pruning: the
  pending filter is a broadcast semi-join on part_id, which AQE turns
  into a runtime filter on the scan).
- Violations/verdicts are written partitionBy(part_id) with dynamic
  partition overwrite, so a crash between data write and manifest
  append re-runs that partition idempotently (the rewrite replaces,
  not duplicates).
- Everything rewritten on retry is byte-identical because the whole
  data path is deterministic (pure-function fixtures, no rand()).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = ("part_id int, n_rows long, n_violations long, "
                   "max_severity int, pass boolean, run_id string, "
                   "completed_at double")


def _exists(spark: SparkSession, path: str) -> bool:
    """Path probe through Hadoop FS (works for local, HDFS, s3a...)."""
    jvm = spark._jvm                                   # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()            # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Completed-partition manifest; empty DataFrame when absent."""
    if not _exists(spark, manifest_dir):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.parquet(manifest_dir)


def completed_parts(spark: SparkSession, manifest_dir: str) -> DataFrame:
    return read_manifest(spark, manifest_dir).select("part_id").distinct()


def pending_only(df: DataFrame, spark: SparkSession, manifest_dir: str,
                 part_col: str = "part_id") -> DataFrame:
    """Filter df down to partitions with no manifest row yet.

    Broadcast anti join — the manifest side is one row per partition
    (thousands at most), never the fact side.
    """
    done = completed_parts(spark, manifest_dir)
    return df.join(F.broadcast(done),
                   df[part_col] == done["part_id"], "left_anti")


def append_manifest(verdicts: DataFrame, manifest_dir: str,
                    run_id: str) -> None:
    """Commit completed partitions: one manifest row per partition.

    Must be called only after the partitions' violation/verdict/metric
    rows are durably written. One file per commit: the frame holds one
    row per partition, and the manifest is append-only.
    """
    (verdicts
     .select("part_id", "n_rows", "n_violations",
             F.coalesce(F.col("max_severity"), F.lit(-1)).alias("max_severity"),
             "pass",
             F.lit(run_id).alias("run_id"),
             F.lit(time.time()).alias("completed_at"))
     .coalesce(1)
     .write.mode("append").parquet(manifest_dir))


# ----------------------------------------------- streaming lineage
#: streaming manifest rows carry the micro-batch id AND the stream
#: incarnation id: the commit unit of a stream is
#: (stream_id, batch_id, part_id) — the same partition accumulates
#: across batches, and batch ids restart at 0 whenever the streaming
#: checkpoint is recreated, so batch_id alone does not identify a
#: commit (ADVICE r4: a manifest outliving its checkpoint would
#: silently skip the fresh stream's real batches).
#:
#: A streaming manifest_dir must be 1:1 with its lineage surface and
#: must NOT be shared with batch append_manifest output: batch rows
#: lack the batch_id/stream_id columns, and plain parquet reads
#: resolve the schema from an arbitrary file (columns then error or
#: come back null depending on which file wins).
STREAM_MANIFEST_SCHEMA = MANIFEST_SCHEMA + ", batch_id long, stream_id string"


def stream_identity(spark: SparkSession, checkpoint_dir: str) -> str:
    """Identity of one logical stream incarnation: a token stored
    INSIDE the streaming checkpoint dir, so it lives and dies with the
    checkpoint. Wiping the checkpoint (which restarts batch ids at 0)
    wipes the token too — the fresh incarnation's batches can never be
    mistaken for the old one's manifest rows."""
    import uuid

    jvm = spark._jvm                                   # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()            # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(
        f"{checkpoint_dir}/_stream_identity")
    fs = p.getFileSystem(conf)
    if fs.exists(p):
        stream = fs.open(p)
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8").strip()
        finally:
            stream.close()
    token = uuid.uuid4().hex
    out = fs.create(p, True)
    try:
        out.write(bytearray(token.encode("utf-8")))
    finally:
        out.close()
    return token


def committed_batches(spark: SparkSession, manifest_dir: str,
                      stream_id: str | None = None) -> set[int]:
    """Batch ids already committed to the streaming manifest (for the
    given stream incarnation, when stream_id is passed). Bounded driver
    collect: one row per micro-batch at most."""
    if not _exists(spark, manifest_dir):
        return set()
    m = spark.read.parquet(manifest_dir)
    if "batch_id" not in m.columns:
        return set()
    if stream_id is not None and "stream_id" in m.columns:
        m = m.filter(F.col("stream_id") == stream_id)
    return {r.batch_id for r in
            m.select("batch_id").distinct().collect()}


def append_stream_manifest(verdicts: DataFrame, manifest_dir: str,
                           run_id: str, batch_id: int,
                           stream_id: str = "") -> None:
    """Commit one micro-batch's per-partition verdicts to the lineage
    manifest — same columns as the batch manifest plus batch_id and
    stream_id, so batch and streaming runs land in ONE queryable
    lineage SCHEMA (but separate directories — see the module note on
    STREAM_MANIFEST_SCHEMA)."""
    (verdicts
     .select("part_id", "n_rows", "n_violations",
             F.coalesce(F.col("max_severity"), F.lit(-1)).alias("max_severity"),
             "pass",
             F.lit(run_id).alias("run_id"),
             F.lit(time.time()).alias("completed_at"),
             F.lit(batch_id).alias("batch_id"),
             F.lit(stream_id).alias("stream_id"))
     .write.mode("append").parquet(manifest_dir))


def drop_uncommitted(spark: SparkSession, path: str,
                     committed: set[int]) -> None:
    """Delete path's part_id directories not in `committed`.

    Dynamic overwrite replaces only the partitions a write has rows
    for, so a sparse output (violations) would otherwise keep rows an
    earlier run left in a partition this run finds clean."""
    if not _exists(spark, path):
        return
    jvm = spark._jvm                                   # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()            # noqa: SLF001
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    keep = {f"part_id={p}" for p in committed}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("part_id=") and name not in keep:
            fs.delete(st.getPath(), True)


def write_partitioned(df: DataFrame, path: str) -> None:
    """Idempotent per-partition write: dynamic partition overwrite
    replaces exactly the part_id directories being rewritten."""
    (df.write
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("part_id")
       .mode("overwrite")
       .parquet(path))
