"""Benchmark of the validation job users run: ``job.run`` end to end.

    python3 perfbench/run.py --workload meta_full --seed 1 \
        --seconds 1 --trace 0

One client runs complete ``job.run(spark, "specs/clips.spec.yaml", ...,
out_dir=<fresh dir>)`` calls back to back (closed loop) on
local[nproc] until ``--seconds`` of timed runs have passed (at least
one). Each run's output is checked (check.py). The seed picks the
corpus window (common.window_start); inputs are cached under
perfbench/.work/ and built on first use, outside every timing.

Workloads (NOTES.md says why each exists):

- meta_full: the metadata-only table (no ``bytes``, no reference),
  48 times as many rows as the payload table;
- resume_half: the payload table (encoded payloads + certified
  clips_ref) resumed from a crash that committed part_id < 32.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced pass in layers.py and prints the per-layer metrics. The last
stdout line is one JSON object {correct, attempted, failed, metrics}.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("meta_full", "resume_half")
SETUP_REPS = 3


class MemSampler:
    """Peak proportional set size (PSS) of this process's descendants —
    the driver JVM and the Python workers it forks — polled from
    /proc/<pid>/smaps_rollup. PSS splits pages that forked workers
    share, so the sum is the memory the process tree really holds."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        #: {command name: [processes, bytes]} at the peak
        self.at_peak: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total, by_comm = 0, {}
        for pid in common.descendants():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(line.split()[1]) * 1024 for line in fh
                               if line.startswith("Pss:"))
            except (OSError, IndexError, ValueError, StopIteration):
                continue
            total += pss
            n_b = by_comm.setdefault(comm, [0, 0])
            n_b[0] += 1
            n_b[1] += pss
        if total > self.peak:
            self.peak, self.at_peak = total, by_comm

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "MemSampler":
        self._stop.clear()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def measure(spark, workload: str, start: int, seconds: float,
            tables: dict, expected: dict) -> dict:
    """Closed loop of timed runs; end-to-end figures."""
    import check
    sampler = MemSampler()
    samples, out_bytes, problems = [], [], []
    failed = 0
    ticks0 = cpu_ticks()
    while not samples or sum(samples) < seconds:
        out = common.fresh_out_dir(workload, start, len(samples))
        dt, err = common.timed_job(spark, tables, out, sampler)
        samples.append(dt)
        bad = [err] if err else check.output_problems(
            workload, start, out, expected)
        if bad:
            failed += 1
            problems.append(bad)
        out_bytes.append(common.tree_bytes(out))
        shutil.rmtree(out, ignore_errors=True)
    rows = tables["rows"]
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    return {
        # share of this VM's CPU time the hypervisor gave elsewhere
        "cpu_steal_frac": ticks[7] / max(sum(ticks), 1),
        "attempted": len(samples), "failed": failed, "problems": problems,
        "samples_s": samples, "mem_at_peak": sampler.at_peak,
        "metrics": {
            "clips_per_s": (rows / statistics.median(samples), "1/s"),
            "peak_rss_mb": (sampler.peak / 2**20, "MB"),
            "out_bytes_per_clip": (statistics.median(out_bytes) / rows,
                                   "B"),
            "ok_frac": ((len(samples) - failed) / len(samples), "1"),
        },
    }


def ensure_corpus() -> bool:
    """Build missing corpus windows in a child JVM; True if it built."""
    import corpus
    if not corpus.missing_windows():
        return False
    r = subprocess.run([sys.executable, corpus.__file__],
                       stdout=sys.stderr, timeout=840)
    if r.returncode != 0 or corpus.missing_windows():
        raise RuntimeError("corpus build failed")
    return True


def setup(spark, start: int, workload: str) -> tuple[dict, list[float]]:
    """Open the tables and compile the spec, SETUP_REPS times; returns
    the last tables and every repetition's seconds."""
    from canned_yaml_spark import compile_spec
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        tables = common.open_tables(spark, start, workload == "meta_full")
        compile_spec(common.SPEC, tables["clips"].schema)
        reps.append(time.perf_counter() - t0)
    return tables, reps


def emit(metrics: dict, attempted: int, failed: int, info: dict,
         table: bool) -> None:
    if table:
        width = max(map(len, metrics))
        for name, (value, unit) in metrics.items():
            print(f"{name:<{width}}  {value:>14.6g} {unit}")
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    common.prepare_env()
    import canned_yaml_spark  # noqa: F401 — fail fast outside a checkout
    # input prep runs in a child JVM before this process's setup clock
    t0 = time.perf_counter() if ensure_corpus() else T_START
    import check
    start = common.window_start(args.seed)
    expected = check.load_expected(args.workload, start)

    spark = common.start_spark(f"perfbench-{args.workload}",
                               ui=bool(args.trace))
    try:
        session_s = time.perf_counter() - t0
        tables, reps = setup(spark, start, args.workload)
        setup_s = session_s + statistics.median(reps)
        if args.trace:
            import layers
            res = layers.traced(spark, args.workload, start, tables,
                                expected, args.seed)
        else:
            res = measure(spark, args.workload, start, args.seconds,
                          tables, expected)
            res["metrics"] = {"setup_s": (setup_s, "s"), **res["metrics"]}
    finally:
        common.stop_spark(spark)

    from bench import probe_membw_1p
    info = {
        "workload": args.workload, "seed": args.seed,
        "window_start": start, "rows": tables["rows"],
        "samples": len(res["samples_s"]), "samples_s": res["samples_s"],
        "setup": {"session_s": session_s, "prep_s": reps},
        "problems": res["problems"],
        "mem_at_peak": res.get("mem_at_peak"),
        "cpu_steal_frac": res.get("cpu_steal_frac"),
        "settings": {"master": f"local[{common.CORES}]",
                     "driver_mem": common.DRIVER_MEM,
                     "driver_heap_opts": common.DRIVER_HEAP_OPTS,
                     "console_progress": False,
                     "corpus_version": common.CORPUS_VERSION},
        "probe_membw_1p": probe_membw_1p(),
    }
    emit(res["metrics"], res["attempted"], res["failed"], info,
         table=not args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
