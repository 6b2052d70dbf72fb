"""Output check for one job.run, and the values it is checked against.

A run passes when its per-rule violation counts and its per-partition
(n_rows, n_violations, max_severity, pass) verdict columns equal the
values fixed in ``expected.json``. Those values were recorded from this
repository's own output and are cross-checked against the fixture
injection plan (fixtures.golden_rule_counts / injected_rule) on every
load, so a recording can not silently pin a wrong count for any rule
the plan fixes (row rules, x-unique, x-ref); the payload, audio and
drift counts are pinned as recorded. A resumed run must also
reproduce, row for row, the violations and verdicts of an uninterrupted
run over the same table, and show that the resume itself did the work:
the crash state already holds the uncommitted partitions' output, so
the check also requires that the manifest commits every partition, that
each pending partition's verdict carries the resuming run's id, and
that each pending partition's violation and metric files were
rewritten.

Record the fixed values (needs a built corpus; rerun only when the
corpus shape or the program's intended output changes):

    python perfbench/check.py --record
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

EXPECTED = os.path.join(common.HERE, "expected.json")

VIOLATION_COLS = ["clip_id", "part_id", "rule_id", "severity", "message"]
VERDICT_COLS = ["part_id", "n_rows", "n_violations", "max_severity", "pass"]


def _read(path: str, cols: list[str]) -> list[tuple]:
    """Rows of a parquet output (flat, or partitioned by part_id), read
    in-process (pyarrow, no Spark jobs), sorted."""
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=cols)
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)),
                  key=repr)


def summarize(out_dir: str) -> dict:
    """Per-rule violation counts and per-partition
    (n_rows, n_violations, max_severity, pass)."""
    rules: dict[str, int] = {}
    for (rule,) in _read(f"{out_dir}/violations", ["rule_id"]):
        rules[rule] = rules.get(rule, 0) + 1
    verdicts = {str(row[0]): list(row[1:])
                for row in _read(f"{out_dir}/verdicts", VERDICT_COLS)}
    return {"rules": dict(sorted(rules.items())),
            "verdicts": dict(sorted(verdicts.items(),
                                    key=lambda kv: int(kv[0])))}


def golden_counts(start: int, n: int) -> dict[str, int]:
    """Injected-defect counts for rows [start, start + n)."""
    from canned_yaml_spark import fixtures
    counts = {r: 0 for r in fixtures.RULES}
    for k in range(start, start + n):
        rule = fixtures.injected_rule(k)
        # a duplicate id copies row k - 1, which must be in the table
        if rule and not (rule == "id_dup" and k == start):
            counts[rule] += 1
    if start == 0 and counts != fixtures.golden_rule_counts(n):
        raise AssertionError("window golden plan disagrees with "
                             "fixtures.golden_rule_counts")
    return counts


def golden_problems(rules: dict[str, int], start: int, n: int) -> list[str]:
    """Rules whose count the injection plan fixes exactly."""
    g = golden_counts(start, n)
    plan = {
        ("properties.sr_hz.minimum", "properties.sr_hz.maximum"):
            g["sr_range"],
        ("properties.dur_ms.minimum", "properties.dur_ms.maximum"):
            g["dur_range"],
        ("properties.codec.enum",): g["codec_enum"],
        ("properties.clip_id.pattern",): g["id_pattern"],
        ("required.transcript",): g["transcript_null"],
        ("properties.transcript.minLength",
         "properties.transcript.maxLength"): g["transcript_len"],
        ("x-unique.clip_id",): 2 * g["id_dup"],
        ("x-ref.codec",): g["codec_enum"] + g["codec_ref"],
    }
    out = []
    for ids, want in plan.items():
        got = sum(rules.get(i, 0) for i in ids)
        if got != want:
            out.append(f"{'+'.join(ids)}: {got} != golden {want}")
    return out


def load_expected(workload: str, start: int) -> dict:
    meta = workload == "meta_full"
    with open(EXPECTED) as fh:
        exp = json.load(fh)[f"{'meta' if meta else 'payload'}@{start}"]
    rows = common.META_ROWS if meta else common.PAYLOAD_ROWS
    bad = golden_problems(exp["rules"], start, rows)
    if bad:
        raise AssertionError(f"expected.json disagrees with the injection "
                             f"plan: {bad}")
    return exp


def compare(got: dict, want: dict) -> list[str]:
    out = []
    for rule in sorted(set(got["rules"]) | set(want["rules"])):
        g, w = got["rules"].get(rule, 0), want["rules"].get(rule, 0)
        if g != w:
            out.append(f"rule {rule}: {g} violations, expected {w}")
    bad_parts = [p for p in want["verdicts"]
                 if got["verdicts"].get(p) != want["verdicts"][p]]
    extra = set(got["verdicts"]) - set(want["verdicts"])
    if bad_parts or extra:
        out.append(f"verdicts differ on partitions "
                   f"{sorted(map(int, bad_parts + list(extra)))[:8]}")
    return out


def same_output(got_dir: str, want_dir: str) -> list[str]:
    """Row-for-row equality of violations and verdicts."""
    out = []
    for table, cols in (("violations", VIOLATION_COLS),
                        ("verdicts", VERDICT_COLS)):
        got = _read(f"{got_dir}/{table}", cols)
        want = _read(f"{want_dir}/{table}", cols)
        if got != want:
            extra = len(set(got) - set(want))
            missing = len(set(want) - set(got))
            out.append(f"{table}: {len(got)} rows vs {len(want)} in a "
                       f"fresh run ({extra} extra, {missing} missing)")
    return out


def _files(table_dir: str) -> dict[int, set[str]]:
    """{part_id: data file names} of a part_id-partitioned table."""
    out = {}
    for name in os.listdir(table_dir):
        if name.startswith("part_id="):
            out[int(name[8:])] = {
                f for f in os.listdir(os.path.join(table_dir, name))
                if not f.startswith((".", "_"))}
    return out


def resume_problems(out_dir: str, crashed_dir: str,
                    parts: list[int]) -> list[str]:
    """Evidence that a resume committed and rewrote exactly the pending
    partitions. The crash state already holds every partition's output,
    so equal output alone would not tell a resume from a no-op."""
    out = []
    pending = {p for p in parts if p >= common.RESUME_KEEP}
    old_ids = {r for (r,) in _read(f"{crashed_dir}/manifest", ["run_id"])}
    manifest = _read(f"{out_dir}/manifest", ["part_id", "run_id"])
    committed = [p for p, r in manifest if r not in old_ids]
    if sorted(committed) != sorted(pending):
        out.append(f"manifest: the resume committed {len(committed)} "
                   f"partitions, {len(pending)} were pending")
    if {p for p, _ in manifest} != set(parts):
        out.append("manifest does not cover every partition")
    stale = [p for p, r in _read(f"{out_dir}/verdicts",
                                 ["part_id", "run_id"])
             if p in pending and r in old_ids]
    if stale:
        out.append(f"verdicts of pending partitions {sorted(stale)[:8]} "
                   f"still carry the crashed run's id")
    for table in ("violations", "metrics"):
        got = _files(f"{out_dir}/{table}")
        kept = [p for p, names in _files(f"{crashed_dir}/{table}").items()
                if p in pending and names & got.get(p, set())]
        if kept:
            out.append(f"{table}: pending partitions {sorted(kept)[:8]} "
                       f"were not rewritten")
    return out


def output_problems(workload: str, start: int, out_dir: str,
                    expected: dict) -> list[str]:
    """Everything wrong with one run's output; empty when it passes."""
    problems = compare(summarize(out_dir), expected)
    if workload == "resume_half":
        d = common.window_dir(start)
        problems += same_output(out_dir, os.path.join(d, "fresh_run"))
        problems += resume_problems(
            out_dir, os.path.join(d, "crashed"),
            sorted(map(int, expected["verdicts"])))
    return problems


def record() -> int:
    import corpus
    common.prepare_env()
    if corpus.missing_windows():
        print("build the corpus first: python perfbench/corpus.py",
              file=sys.stderr)
        return 1
    spark = common.start_spark("perfbench-record")
    expected = {}
    try:
        for w in range(common.WINDOWS):
            start = w * common.STRIDE
            d = common.window_dir(start)
            expected[f"payload@{start}"] = summarize(f"{d}/fresh_run")
            out = os.path.join(common.WORK, "record", f"meta@{start}")
            common.run_job(spark, common.open_tables(spark, start, True),
                           out)
            expected[f"meta@{start}"] = summarize(out)
    finally:
        common.stop_spark(spark)
    for key, exp in expected.items():
        kind, start = key.split("@")
        rows = common.META_ROWS if kind == "meta" else common.PAYLOAD_ROWS
        bad = golden_problems(exp["rules"], int(start), rows)
        if bad:
            print(f"{key}: output disagrees with the injection plan: {bad}",
                  file=sys.stderr)
            return 1
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {EXPECTED}")
    return 0


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(record())
