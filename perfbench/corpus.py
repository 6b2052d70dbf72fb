"""Cached benchmark inputs, one directory per corpus window.

Each window directory (common.window_dir) holds

- clips.parquet / clips_ref.parquet: PAYLOAD_ROWS fixture clips with
  encoded payloads and the certified reference table (bench.py's shape);
- meta.parquet: META_ROWS fixture clips without the ``bytes`` column;
- codec_dim.parquet: the referential dimension table;
- fresh_run/: the output of one uninterrupted job.run over clips, the
  reference a resumed run must reproduce;
- crashed/: fresh_run/ with its manifest cut back to part_id <
  RESUME_KEEP, i.e. the state a crash leaves after committing half the
  partitions and writing (but not committing) the rest.

Generation is slow next to a run (it encodes every payload), so it runs
once per window in its own JVM and is never timed:

    python perfbench/corpus.py          # build every missing window
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

DONE = "_DONE"


def is_built(start: int) -> bool:
    marker = os.path.join(common.window_dir(start), DONE)
    return (os.path.exists(marker)
            and open(marker).read().strip() == common.CORPUS_VERSION)


def missing_windows() -> list[int]:
    return [w * common.STRIDE for w in range(common.WINDOWS)
            if not is_built(w * common.STRIDE)]


def build_window(spark, start: int) -> None:
    from pyspark.sql import functions as F

    from canned_yaml_spark import fixtures

    d = common.window_dir(start)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    n, m = common.PAYLOAD_ROWS, common.META_ROWS
    (fixtures.clips_df(spark, n, max_samples=common.MAX_SAMPLES,
                       partitions=common.FILES, start=start)
        .write.parquet(f"{d}/clips.parquet"))
    (fixtures.clips_ref_df(spark, n, max_samples=common.MAX_SAMPLES,
                           partitions=common.FILES, start=start,
                           certified=True)
        .withColumn("pcm_hash", F.xxhash64("pcm_ref"))
        .withColumn("pcm_len", F.length("pcm_ref"))
        .write.parquet(f"{d}/clips_ref.parquet"))
    # metadata columns do not depend on max_samples; a short synth
    # keeps generating the dropped payloads cheap
    (fixtures.clips_df(spark, m, max_samples=16, partitions=common.FILES,
                       start=start)
        .drop("bytes").write.parquet(f"{d}/meta.parquet"))
    fixtures.codec_dim_df(spark).coalesce(1).write.parquet(
        f"{d}/codec_dim.parquet")

    tables = common.open_tables(spark, start, meta=False)
    common.run_job(spark, tables, f"{d}/fresh_run")
    shutil.copytree(f"{d}/fresh_run", f"{d}/crashed",
                    ignore=shutil.ignore_patterns("manifest"))
    (spark.read.parquet(f"{d}/fresh_run/manifest")
        .filter(F.col("part_id") < common.RESUME_KEEP)
        .write.parquet(f"{d}/crashed/manifest"))
    with open(os.path.join(d, DONE), "w") as fh:
        fh.write(common.CORPUS_VERSION + "\n")


def main() -> int:
    common.prepare_env()
    todo = missing_windows()
    if not todo:
        return 0
    spark = common.start_spark("perfbench-corpus")
    try:
        for start in todo:
            print(f"building corpus window start={start}", file=sys.stderr,
                  flush=True)
            build_window(spark, start)
    finally:
        common.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
