"""Traced pass: per-layer numbers for one workload.

Spans are recorded from the benchmark's side, around calls into each
module's public functions; the program itself is not instrumented. Each
span sets its own Spark job group, so the jobs a call triggers (and
their stages and SQL executions) are read back from Spark's REST status
store and attributed to it. Spans stay in memory and are written to
perfbench/.work/traces/<workload>-<seed>.json when the pass ends.

The pass, in order:

1. one untraced job.run, the cold first run of the process (warm-up);
2. one traced job.run: spans around compile_spec, the family builders
   and every checkpoint call it makes;
3. one untraced job.run; tracing overhead = (2) - (3);
4. each layer's public function on its own, executed into Spark's
   ``noop`` sink (no write cost) in its own span;
5. direct audio.decode calls on a fixed sample of corpus payloads;
6. operator counts of the all_violations physical plan.

Every run's output is checked like a timed run's. All figures except
the warm-up come from a warm JVM, so job.run_s and the isolated calls
compare like with like.

Layers are named after modules: compile, runner, dataset, drift,
payload/audio, job, checkpoint, plan.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
import urllib.request

import common

#: (name, unit) of every per-layer metric, in report order
METRICS = [
    ("compile.compile_spec_s", "s"), ("compile.live_row_checks", "count"),
    ("runner.row_violations_s", "s"), ("runner.row_verdicts_s", "s"),
    ("runner.explode_in_per_out", "ratio"),
    ("dataset.unique_s", "s"), ("dataset.referential_s", "s"),
    ("dataset.column_stats_s", "s"), ("dataset.shuffle_write_bytes", "B"),
    ("drift.psi_s", "s"), ("drift.ks_s", "s"),
    ("drift.shuffle_write_bytes", "B"),
    ("payload.payload_violations_s", "s"),
    ("payload.transcript_violations_s", "s"),
    ("payload.audio_stats_s", "s"), ("payload.python_stages", "count"),
    ("audio.decode_us.pcm_s16le", "us"), ("audio.decode_us.flac", "us"),
    ("audio.decode_us.opus", "us"), ("audio.decode_us.mp3", "us"),
    ("job.all_violations_s", "s"), ("job.run_s", "s"),
    ("job.run_over_union", "ratio"), ("job.row_dataset_share", "ratio"),
    ("job.spark_jobs", "count"),
    ("job.input_bytes_per_table_byte", "ratio"),
    ("checkpoint.write_partitioned_s", "s"),
    ("checkpoint.append_manifest_s", "s"),
    ("checkpoint.pending_only_s", "s"),
    ("checkpoint.files_written", "count"),
    ("checkpoint.bytes_written", "B"),
    ("plan.scans", "count"), ("plan.exchanges", "count"),
    ("plan.python_stages", "count"), ("plan.generates", "count"),
    ("trace.overhead_s", "s"),
]

CODECS = ("pcm_s16le", "flac", "opus", "mp3")
DECODE_SAMPLE = 48        # payloads per codec
DECODE_REPS = 5

#: physical operators that run Python (Arrow or pickled batches)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowEvalPythonUDTF",
                "BatchEvalPythonUDTF", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInArrow")


class Tracer:
    """In-memory spans; each span runs its Spark jobs in its own job
    group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-span-{sid}",
               "start": time.perf_counter() - self.t0}
        self.spans.append(rec)
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap owner.attr so every call records a span."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, root: dict) -> list[dict]:
        ids, out = {root["id"]}, [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def finish(self) -> None:
        """Self time = duration minus the union of child intervals."""
        for s in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == s["id"])
            covered, edge = 0.0, s["start"]
            for a, b in kids:
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - covered


class StatusStore:
    """Spark's REST status store (the UI's /api/v1), read on
    localhost."""

    def __init__(self, sc) -> None:
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}",
                                    timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 20.0) -> list:
        """Jobs, once the listener has caught up: none running and the
        same count on two polls in a row."""
        deadline = time.monotonic() + timeout
        seen = -1
        while True:
            jobs = self.get("jobs")
            if ((len(jobs) == seen
                 and all(j["status"] != "RUNNING" for j in jobs))
                    or time.monotonic() > deadline):
                return jobs
            seen = len(jobs)
            time.sleep(0.5)

    def load(self) -> None:
        self.jobs = self.settle()
        self.stages = {st["stageId"]: st for st in self.get("stages")
                       if st["status"] == "COMPLETE"}
        # a stage is listed by every job that could reuse it, but only
        # the first of them ran it
        self.stage_job: dict[int, int] = {}
        for j in sorted(self.jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                self.stage_job.setdefault(sid, j["jobId"])
        self.sql = self.get("sql?details=true&planDescription=false"
                            "&length=100000")

    def group_jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def group_sum(self, groups: set[str], field: str) -> int:
        jobs = {j["jobId"] for j in self.group_jobs(groups)}
        return sum(st.get(field, 0) for sid, st in self.stages.items()
                   if self.stage_job.get(sid) in jobs)

    def executions(self, groups: set[str]) -> list[dict]:
        jobs = {j["jobId"] for j in self.group_jobs(groups)}
        return [e for e in self.sql
                if jobs & set(e.get("successJobIds", []))]


def _rows_metric(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return int(re.sub(r"[^0-9]", "", m["value"]) or 0)
    return None


def explode_ratio(execs: list[dict]) -> float:
    """Rows into the Generate (explode) node / violation rows out of the
    nearest operator above it that counts rows, from SQL metrics."""
    for e in execs:
        nodes = {n["nodeId"]: n for n in e.get("nodes", [])}
        gen = [n for n in nodes.values() if n["nodeName"] == "Generate"]
        if not gen:
            continue
        rows_in = _walk_rows(e, nodes, gen[0]["nodeId"], down=True)
        rows_out = _walk_rows(e, nodes, gen[0]["nodeId"], down=False)
        if rows_in is not None and rows_out:
            return rows_in / rows_out
    return 0.0


def _walk_rows(e: dict, nodes: dict, start: int, down: bool) -> int | None:
    """Row count of the nearest counting node below (child side) or
    above (parent side) `start`."""
    src, dst = ("toId", "fromId") if down else ("fromId", "toId")
    node = start
    while True:
        nxt = [ed[dst] for ed in e["edges"] if ed[src] == node]
        if not nxt:
            return None
        node = nxt[0]
        rows = _rows_metric(nodes[node])
        if rows is not None:
            return rows


def plan_counts(spark, df) -> dict[str, int]:
    """Operator counts of df's physical plan before adaptive
    re-planning (the tree of the formatted explain)."""
    text = spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")  # noqa: SLF001
    tree = text.split("\n\n", 1)[0]
    names = re.findall(r"(?:^|[-+] )([A-Za-z][A-Za-z0-9 ]*?) \(\d+\)$",
                       tree, flags=re.M)
    names = ["Scan" if n.startswith("Scan ") else n.split(" ")[0]
             for n in names]
    return {"scans": names.count("Scan"),
            "exchanges": (names.count("Exchange")
                          + names.count("BroadcastExchange")),
            "python_stages": sum(n in PYTHON_NODES for n in names),
            "generates": names.count("Generate")}


def decode_us(start: int) -> dict[str, float]:
    """Median microseconds per audio.decode call, per codec, over the
    first DECODE_SAMPLE intact payloads of each codec in the window."""
    import pyarrow.parquet as pq

    from canned_yaml_spark import audio, fixtures

    path = os.path.join(common.window_dir(start), "clips.parquet")
    t = pq.read_table(path, columns=["clip_id", "bytes", "codec"])
    sample: dict[str, list[bytes]] = {c: [] for c in CODECS}
    for cid, data, codec in zip(*(t.column(i).to_pylist()
                                  for i in range(3))):
        k = int(cid[5:]) if cid.startswith("clip_") else None
        if (codec in sample and len(sample[codec]) < DECODE_SAMPLE
                and k is not None and fixtures.injected_rule(k) is None):
            sample[codec].append(data)
    out = {}
    for codec, payloads in sample.items():
        per_call = []
        for _ in range(DECODE_REPS):
            t0 = time.perf_counter()
            for p in payloads:
                if audio.decode(p, codec) is None:
                    raise AssertionError(f"intact {codec} payload did not "
                                         f"decode")
            per_call.append((time.perf_counter() - t0) / len(payloads))
        out[codec] = statistics.median(per_call) * 1e6
    return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _isolated_calls(spark, workload: str, start: int, tables: dict,
                    suite) -> dict:
    """name -> thunk building that public function's frame."""
    from canned_yaml_spark import checkpoint, dataset, drift, job, payload
    from canned_yaml_spark.checks import TranscriptCheck
    from canned_yaml_spark.runner import row_verdicts, row_violations

    clips, ref = tables["clips"], tables["clips_ref"]
    dim = tables["dims"]["codec_dim"]
    hist, ks = tables["expected_hist"], tables["ks_reference"]
    dc = suite.drift_checks[0]
    manifest = (os.path.join(common.window_dir(start), "crashed",
                             "manifest") if workload == "resume_half"
                else os.path.join(common.WORK, "no-manifest"))
    calls = {
        "runner.row_violations": lambda: row_violations(clips, suite),
        "runner.row_verdicts": lambda: row_verdicts(clips, suite),
        "dataset.unique_violations": lambda: dataset.unique_violations(
            clips, suite.unique_checks[0]),
        "dataset.referential_violations":
            lambda: dataset.referential_violations(
                clips, dim, suite.ref_checks[0]),
        "dataset.column_stats": lambda: dataset.column_stats(
            clips, ["sr_hz", "dur_ms"]),
        "drift.psi_violations": lambda: drift.psi_violations(
            clips, dc, hist),
        "drift.ks_violations": lambda: drift.ks_violations(clips, dc, ks),
        "checkpoint.pending_only": lambda: checkpoint.pending_only(
            clips, spark, manifest),
        "job.all_violations": lambda: job.all_violations(
            clips, suite, dims=tables["dims"], clips_ref=ref,
            expected_hist=hist, ks_reference=ks),
    }
    if ref is not None:
        # the default spec has no x-transcript rule; this check
        # exercises the transcript path's Arrow WER branch
        tc = TranscriptCheck(rule_id="x-transcript.transcript",
                             column="transcript", max_wer=0.1)
        calls.update({
            "payload.payload_violations": lambda: payload.payload_violations(
                clips, ref, suite.payload_checks[0]),
            "payload.transcript_violations":
                lambda: payload.transcript_violations(clips, ref, tc),
            "payload.audio_stats_violations":
                lambda: payload.audio_stats_violations(
                    clips, suite.audio_checks[0]),
        })
    return calls


@contextlib.contextmanager
def job_spans(tracer: Tracer):
    """Inside: a "job.run" span, and spans around every layer call
    job.run makes."""
    from canned_yaml_spark import checkpoint, dataset, drift, job, payload
    for owner, attr, name in (
            (job, "compile_spec", "compile.compile_spec"),
            (job, "row_violations", "runner.row_violations"),
            (job, "all_violations", "job.all_violations"),
            (dataset, "unique_violations", "dataset.unique_violations"),
            (dataset, "referential_violations",
             "dataset.referential_violations"),
            (dataset, "column_stats", "dataset.column_stats"),
            (drift, "psi_violations", "drift.psi_violations"),
            (drift, "ks_violations", "drift.ks_violations"),
            (payload, "payload_violations", "payload.payload_violations"),
            (payload, "audio_stats_violations",
             "payload.audio_stats_violations"),
            (checkpoint, "pending_only", "checkpoint.pending_only"),
            (checkpoint, "write_partitioned",
             "checkpoint.write_partitioned"),
            (checkpoint, "append_manifest", "checkpoint.append_manifest")):
        tracer.patch(owner, attr, name)
    try:
        with tracer.span("job.run"):
            yield
    finally:
        tracer.unpatch()


def _listing(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            out[os.path.join(dirpath, n)] = (st.st_mtime_ns, st.st_size)
    return out


def traced(spark, workload: str, start: int, tables: dict,
           expected: dict, seed: int) -> dict:
    """The traced pass (module docstring); per-layer metrics plus the
    runs' count, failures and times."""
    import check
    from canned_yaml_spark import compile_spec

    sc = spark.sparkContext
    tracer = Tracer(sc)
    runs, problems = [], []

    def checked(i: int, watch=contextlib.nullcontext()):
        out = common.fresh_out_dir(workload, start, i)
        before = _listing(out)
        dt, err = common.timed_job(spark, tables, out, watch)
        runs.append(dt)
        bad = [err] if err else check.output_problems(workload, start,
                                                      out, expected)
        if bad:
            problems.append(bad)
        after = _listing(out)
        return [p for p, v in after.items() if before.get(p) != v], after

    checked(0)
    written, after = checked(1, job_spans(tracer))
    root = tracer.named("job.run")[-1]
    checked(2)

    suite = compile_spec(common.SPEC, tables["clips"].schema)
    calls = _isolated_calls(spark, workload, start, tables, suite)
    compile_s = []
    for _ in range(5):
        with tracer.span("compile.compile_spec") as s:
            compile_spec(common.SPEC, tables["clips"].schema)
        compile_s.append(s)
    isolated = {}
    with tracer.span("layers"):
        for name, thunk in calls.items():
            df = thunk()
            with tracer.span(name) as s:
                noop(df)
            isolated[name] = s
    tracer.finish()

    store = StatusStore(sc)
    store.load()

    def dur(name):
        return isolated[name]["dur_s"] if name in isolated else 0.0

    def groups(*names):
        return {isolated[n]["group"] for n in names if n in isolated}

    run_spans = tracer.subtree(root)
    run_groups = {s["group"] for s in run_spans}

    def run_span_sum(name):
        return sum(s["dur_s"] for s in run_spans if s["name"] == name)

    for s in tracer.spans:
        s["spark_jobs"] = len(store.group_jobs({s["group"]}))
        s["shuffle_write_bytes"] = store.group_sum({s["group"]},
                                                   "shuffleWriteBytes")
        s["input_bytes"] = store.group_sum({s["group"]}, "inputBytes")

    table_bytes = sum(common.tree_bytes(p)
                      for p in tables["input_paths"])
    all_viol = isolated["job.all_violations"]
    m = {
        "compile.compile_spec_s":
            statistics.median(s["dur_s"] for s in compile_s),
        "compile.live_row_checks": len(suite.active_row_checks),
        "runner.row_violations_s": dur("runner.row_violations"),
        "runner.row_verdicts_s": dur("runner.row_verdicts"),
        "runner.explode_in_per_out": explode_ratio(
            store.executions(groups("runner.row_violations"))),
        "dataset.unique_s": dur("dataset.unique_violations"),
        "dataset.referential_s": dur("dataset.referential_violations"),
        "dataset.column_stats_s": dur("dataset.column_stats"),
        "dataset.shuffle_write_bytes": store.group_sum(
            groups("dataset.unique_violations",
                   "dataset.referential_violations",
                   "dataset.column_stats"), "shuffleWriteBytes"),
        "drift.psi_s": dur("drift.psi_violations"),
        "drift.ks_s": dur("drift.ks_violations"),
        "drift.shuffle_write_bytes": store.group_sum(
            groups("drift.psi_violations", "drift.ks_violations"),
            "shuffleWriteBytes"),
        "payload.payload_violations_s": dur("payload.payload_violations"),
        "payload.transcript_violations_s":
            dur("payload.transcript_violations"),
        "payload.audio_stats_s": dur("payload.audio_stats_violations"),
        "payload.python_stages": sum(
            plan_counts(spark, calls[n]())["python_stages"]
            for n in ("payload.payload_violations",
                      "payload.audio_stats_violations") if n in calls),
        **{f"audio.decode_us.{c}": v for c, v in decode_us(start).items()},
        "job.all_violations_s": all_viol["dur_s"],
        "job.run_s": root["dur_s"],
        "job.run_over_union": root["dur_s"] / all_viol["dur_s"],
        # how much of an untraced job.run the row suite and the dataset
        # and drift shuffles could account for, each timed on its own
        "job.row_dataset_share": sum(
            dur(n) for n in ("runner.row_violations",
                             "dataset.unique_violations",
                             "dataset.referential_violations",
                             "dataset.column_stats",
                             "drift.psi_violations",
                             "drift.ks_violations")) / runs[2],
        "job.spark_jobs": len(store.group_jobs(run_groups)),
        "job.input_bytes_per_table_byte":
            store.group_sum(run_groups, "inputBytes") / table_bytes,
        "checkpoint.write_partitioned_s":
            run_span_sum("checkpoint.write_partitioned"),
        "checkpoint.append_manifest_s":
            run_span_sum("checkpoint.append_manifest"),
        "checkpoint.pending_only_s": dur("checkpoint.pending_only"),
        "checkpoint.files_written": len(written),
        "checkpoint.bytes_written": sum(after[p][1] for p in written),
        **{f"plan.{k}": v for k, v in
           plan_counts(spark, calls["job.all_violations"]()).items()},
        "trace.overhead_s": runs[1] - runs[2],
    }
    metrics = {name: (float(m[name]), unit) for name, unit in METRICS}

    os.makedirs(common.TRACES, exist_ok=True)
    trace_path = os.path.join(common.TRACES, f"{workload}-{seed}.json")
    with open(trace_path, "w") as fh:
        json.dump({"workload": workload, "seed": seed,
                   "window_start": start, "runs_s": runs,
                   "spans": tracer.spans,
                   "metrics": {k: v for k, (v, _) in metrics.items()}},
                  fh, indent=1)
    print_table(workload, metrics)
    return {"attempted": len(runs), "failed": len(problems),
            "problems": problems, "samples_s": runs, "metrics": metrics,
            "trace": trace_path}


def print_table(workload: str, metrics: dict) -> None:
    """Workload x layer table: this pass's column next to the latest
    saved traces of the other workloads."""
    cols = {workload: {k: v for k, (v, _) in metrics.items()}}
    paths = [os.path.join(common.TRACES, n) for n in os.listdir(common.TRACES)
             if n.endswith(".json")] if os.path.isdir(common.TRACES) else []
    for path in sorted(paths, key=os.path.getmtime, reverse=True):
        with open(path) as fh:
            saved = json.load(fh)
        cols.setdefault(saved["workload"], saved["metrics"])
    names = list(cols)
    w = max(len(n) for n, _ in METRICS)
    print(f"{'layer metric':<{w}} {'unit':>5} "
          + " ".join(f"{n:>13}" for n in names))
    for name, unit in METRICS:
        vals = " ".join(f"{cols[n].get(name, float('nan')):>13.5g}"
                        for n in names)
        print(f"{name:<{w}} {unit:>5} {vals}")
