"""Checkpoint / exact resume (SURVEY.md §2.2 #25)."""

import shutil

import pyspark.sql.functions as F

from canned_yaml_spark import checkpoint, fixtures, job


def test_resume_skips_completed_and_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "run")
    clips = fixtures.clips_df(spark, 400, max_samples=16)
    ref = fixtures.clips_ref_df(spark, 400, max_samples=16)
    dim = fixtures.codec_dim_df(spark)

    r1 = job.run(spark, "specs/clips.spec.yaml", clips,
                 dims={"codec_dim": dim}, clips_ref=ref, out_dir=out)
    assert not r1.ok
    mani1 = spark.read.parquet(f"{out}/manifest")
    assert mani1.count() == 64
    v1 = spark.read.parquet(f"{out}/violations").count()

    # second run: nothing pending, outputs unchanged
    r2 = job.run(spark, "specs/clips.spec.yaml", clips,
                 dims={"codec_dim": dim}, clips_ref=ref, out_dir=out)
    mani2 = spark.read.parquet(f"{out}/manifest")
    assert mani2.count() == 64        # no duplicate manifest rows
    assert spark.read.parquet(f"{out}/violations").count() == v1


def test_partial_manifest_resume(spark, tmp_path):
    out = str(tmp_path / "partial")
    clips = fixtures.clips_df(spark, 400, max_samples=16)

    # fake a crash: partitions 0..31 committed, rest pending
    done = spark.createDataFrame(
        [(p, 10, 0, -1, True, "run0", 0.0) for p in range(32)],
        checkpoint.MANIFEST_SCHEMA)
    done.write.parquet(f"{out}/manifest")

    pending = checkpoint.pending_only(clips, spark, f"{out}/manifest")
    parts = {r.part_id for r in pending.select("part_id").distinct().collect()}
    assert parts == set(range(32, 64))


def test_resume_catches_cross_partition_duplicates(spark, tmp_path):
    """A duplicate pair split across a completed and a pending
    partition must still be flagged on resume — uniqueness scans the
    full table, its violations filtered to pending partitions."""
    out = str(tmp_path / "splitdup")
    clips = fixtures.clips_df(spark, 200, inject=False, max_samples=16)
    # row k=40 (part 40, pending) steals row k=5's id (part 5, completed)
    clips = clips.withColumn(
        "clip_id",
        F.when(F.col("clip_id") == "clip_0000000040",
               F.lit("clip_0000000005")).otherwise(F.col("clip_id")))

    # fake run 1: parts 0..31 committed
    done = spark.createDataFrame(
        [(p, 3, 0, -1, True, "run0", 0.0) for p in range(32)],
        checkpoint.MANIFEST_SCHEMA)
    done.write.parquet(f"{out}/manifest")

    r2 = job.run(spark, "specs/clips.spec.yaml", clips, out_dir=out,
                 dims={"codec_dim": fixtures.codec_dim_df(spark)})
    uv = r2.violations.filter(F.col("rule_id") == "x-unique.clip_id")
    rows = {(r.clip_id, r.part_id) for r in uv.collect()}
    # the pending half (part 40) is flagged; the completed half
    # (part 5) belongs to run 1's committed output, not this run's
    assert ("clip_0000000005", 40) in rows
    assert ("clip_0000000005", 5) not in rows


def test_clean_run_commits_without_violation_rows(spark, tmp_path):
    """A run that writes no violation rows leaves violations/ without
    data files; reading it back must not need a schema to infer."""
    out = str(tmp_path / "clean")
    clips = fixtures.clips_df(spark, 200, inject=False, max_samples=16)
    spec = {"type": "object", "properties": {
        "clip_id": {"type": "string", "pattern": "^clip_[0-9]+"}}}
    r = job.run(spark, spec, clips, out_dir=out)
    assert r.ok is True
    assert r.violations.count() == 0
    assert spark.read.parquet(f"{out}/manifest").count() == 64


def test_revalidation_clears_stale_violations(spark, tmp_path):
    """Verdicts fold the violations read back from disk, so a rerun
    that finds a partition clean must not count the rows an earlier
    run wrote there — neither without resume nor after a crash."""
    out = str(tmp_path / "rerun")
    clips = fixtures.clips_df(spark, 200, inject=False, max_samples=16)
    failing = {"type": "object", "properties": {
        "clip_id": {"type": "string", "pattern": "^clip_[0-9]+$"},
        "sr_hz": {"type": "integer", "maximum": 1}}}
    passing = {"type": "object", "properties": {
        "clip_id": {"type": "string", "pattern": "^clip_[0-9]+"}}}
    assert job.run(spark, failing, clips, out_dir=out).ok is False

    r = job.run(spark, passing, clips, out_dir=out, resume=False)
    assert r.ok is True
    assert r.violations.count() == 0
    assert r.verdicts.filter(~F.col("pass")).count() == 0

    # a crash before the commit: violations written, manifest not
    job.run(spark, failing, clips, out_dir=out, resume=False)
    shutil.rmtree(f"{out}/manifest")
    r = job.run(spark, passing, clips, out_dir=out)
    assert r.ok is True
    assert r.violations.count() == 0


def test_manifest_probe_absent_dir(spark, tmp_path):
    m = checkpoint.read_manifest(spark, str(tmp_path / "nope"))
    assert m.count() == 0


def test_write_partitioned_dynamic_overwrite(spark, tmp_path):
    out = str(tmp_path / "dyn")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "part_id int, v string")
    checkpoint.write_partitioned(df1, out)
    # rewrite only partition 2; partition 1 must survive
    df2 = spark.createDataFrame([(2, "B")], "part_id int, v string")
    checkpoint.write_partitioned(df2, out)
    rows = {(r.part_id, r.v) for r in spark.read.parquet(out).collect()}
    assert rows == {(1, "a"), (2, "B")}


def test_crash_resume_reproduces_from_scratch_verdicts(spark, tmp_path):
    """Exact-resume invariant the driver gate's oracle states
    (oracle.sql_resume_verdicts): after a mid-run crash — manifest
    truncated to half the partitions, uncommitted verdict rows left on
    disk — a resumed run's verdicts table must equal a from-scratch
    run's, byte for byte on (part_id, n_rows, n_violations, pass).
    The load-bearing case is cross-partition uniqueness: an injected
    duplicate whose two rows straddle a committed and a pending
    partition must be counted in BOTH from-scratch and resumed runs."""
    import shutil

    clips = fixtures.clips_df(spark, 400, max_samples=16)
    ref = fixtures.clips_ref_df(spark, 400, max_samples=16)
    kw = dict(dims={"codec_dim": fixtures.codec_dim_df(spark)},
              clips_ref=ref,
              expected_hist=fixtures.reference_hist_df(spark),
              ks_reference=fixtures.reference_dur_sample())

    def verdicts(out):
        return sorted(
            tuple(r) for r in spark.read.parquet(f"{out}/verdicts")
            .select("part_id", "n_rows", "n_violations", "pass").collect())

    fresh = str(tmp_path / "fresh")
    job.run(spark, "specs/clips.spec.yaml", clips, out_dir=fresh, **kw)

    crashed = str(tmp_path / "crashed")
    job.run(spark, "specs/clips.spec.yaml", clips, out_dir=crashed, **kw)
    kept = (spark.read.parquet(f"{crashed}/manifest")
                 .filter(F.col("part_id") % 2 == 0).collect())
    shutil.rmtree(f"{crashed}/manifest")
    (spark.createDataFrame(kept, checkpoint.MANIFEST_SCHEMA)
          .write.parquet(f"{crashed}/manifest"))
    job.run(spark, "specs/clips.spec.yaml", clips, out_dir=crashed, **kw)

    assert verdicts(crashed) == verdicts(fresh)
    # both manifests now cover all 64 partitions exactly once
    m = spark.read.parquet(f"{crashed}/manifest")
    assert m.select("part_id").distinct().count() == 64

    # the dup pair straddles partitions: at n=400 the id_dup rows are
    # (k-1, k) with k%64 even and (k-1)%64 odd — one committed, one
    # pending in the crash split — and both runs must flag both rows
    viol = spark.read.parquet(f"{crashed}/violations")
    uv = viol.filter(F.col("rule_id") == "x-unique.clip_id")
    parts = {r.part_id for r in uv.collect()}
    assert any(p % 2 == 0 for p in parts) and any(p % 2 == 1 for p in parts)
