"""Paths, sizes and the Spark session shared by every benchmark module.

The benchmark runs from the root of a checkout: the package under test
is ``canned_yaml_spark/`` beside this directory. Everything it writes
(corpus cache, run outputs, Spark scratch, traces) stays under
``perfbench/.work/``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(WORK, "corpus")
TRACES = os.path.join(WORK, "traces")
SPEC = "specs/clips.spec.yaml"

#: host fit: one executor thread per core, a driver heap that leaves
#: room for Python workers and the page cache on a 15 GB host
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "4g"
#: fixed heap and young generation: G1 otherwise grows both after
#: slow collections, so the driver's footprint would follow the host's
#: CPU steal (1.6-2.9 GB between identical runs) instead of the
#: program's live data
DRIVER_HEAP_OPTS = f"-Xms{DRIVER_MEM} -Xmn512m"

#: corpus shape. Rows are pure functions of their index, so a window
#: [start, start + n) is a distinct, reproducible input. The seed picks
#: one of WINDOWS windows; STRIDE is a multiple of the 64 part_ids so
#: every window holds every partition, and at least META_ROWS so the
#: windows do not overlap.
PAYLOAD_ROWS = 8_000
#: large enough that the row suite and the dataset shuffles are a
#: sizable share of one job.run next to its fixed per-job cost
#: (NOTES.md, "Sizing meta_full")
META_ROWS = 384_000
MAX_SAMPLES = 512
FILES = 8
WINDOWS = 2
STRIDE = 384_000
#: bump when generation (or the cached resume state) changes shape
CORPUS_VERSION = "v2"

#: resume_half commits part_id < RESUME_KEEP before the "crash"
RESUME_KEEP = 32

#: one job.run that takes longer than this is cancelled and failed
RUN_TIMEOUT_S = 120.0


def window_start(seed: int) -> int:
    return (seed % WINDOWS) * STRIDE


def window_dir(start: int) -> str:
    return os.path.join(
        CACHE, f"{CORPUS_VERSION}_start{start}_p{PAYLOAD_ROWS}"
               f"_m{META_ROWS}_s{MAX_SAMPLES}_f{FILES}")


def prepare_env() -> None:
    """Point Spark, its Python workers and the JVM at this checkout
    before any JVM starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher and the Spark driver): temp files in
    # the checkout, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package under test from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # get_spark honours $MASTER; the benchmark always runs local[CORES]
    os.environ.pop("MASTER", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(ui: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": DRIVER_HEAP_OPTS,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if ui:
        # the traced run reads stage and SQL metrics from the UI's REST
        # status store
        conf.update({"spark.ui.enabled": "true",
                     "spark.ui.retainedJobs": "5000",
                     "spark.ui.retainedStages": "10000",
                     "spark.sql.ui.retainedExecutions": "5000"})
    return conf


def start_spark(app: str, ui: bool = False):
    from canned_yaml_spark.session import get_spark
    spark = get_spark(app, cores=CORES, extra_conf=session_conf(ui))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the gateway JVM and the Python workers
    it forked have all exited."""
    from pyspark import SparkContext
    pids = descendants()
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (any(os.path.exists(f"/proc/{p}") for p in pids)
           and time.monotonic() < deadline):
        time.sleep(0.1)


def descendants() -> list[int]:
    """Pids of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def open_tables(spark, start: int, meta: bool) -> dict:
    """The job's inputs for one window, read back from the cache the
    way the CLI reads them (parquet tables, analytic drift references):
    the metadata-only table without a reference when `meta`, else the
    payload table with clips_ref."""
    from canned_yaml_spark import fixtures
    d = window_dir(start)
    clips_path = os.path.join(d, "meta.parquet" if meta else "clips.parquet")
    ref_path = None if meta else os.path.join(d, "clips_ref.parquet")
    return {
        "clips": spark.read.parquet(clips_path),
        "clips_ref": None if meta else spark.read.parquet(ref_path),
        "dims": {"codec_dim":
                 spark.read.parquet(os.path.join(d, "codec_dim.parquet"))},
        "expected_hist": fixtures.reference_hist_df(spark),
        "ks_reference": fixtures.reference_dur_sample(),
        "rows": META_ROWS if meta else PAYLOAD_ROWS,
        "input_paths": [p for p in (clips_path, ref_path) if p],
    }


def run_job(spark, tables: dict, out_dir: str):
    """One complete validation run, as cli.py launches it."""
    from canned_yaml_spark import job
    return job.run(spark, SPEC, tables["clips"], dims=tables["dims"],
                   clips_ref=tables["clips_ref"],
                   expected_hist=tables["expected_hist"],
                   ks_reference=tables["ks_reference"], out_dir=out_dir)


def timed_job(spark, tables: dict, out_dir: str,
              watch=contextlib.nullcontext()) -> tuple[float, str | None]:
    """(seconds, error) of one job.run inside the `watch` context; a
    run past RUN_TIMEOUT_S is cancelled and reported as an error."""
    watchdog = threading.Timer(RUN_TIMEOUT_S,
                               spark.sparkContext.cancelAllJobs)
    watchdog.start()
    t0 = time.perf_counter()
    err = None
    try:
        with watch:
            run_job(spark, tables, out_dir)
    except Exception as e:  # noqa: BLE001 — a failed run is a result
        err = f"{type(e).__name__}: {str(e)[:300]}"
    dt = time.perf_counter() - t0
    watchdog.cancel()
    if err is None and dt > RUN_TIMEOUT_S:
        err = f"took {dt:.0f} s, over the {RUN_TIMEOUT_S:.0f} s limit"
    return dt, err


def fresh_out_dir(workload: str, start: int, i: int) -> str:
    """An empty output dir; resume_half's starts as the crash state."""
    out = os.path.join(WORK, "runs", f"{workload}-{i}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if workload == "resume_half":
        shutil.copytree(os.path.join(window_dir(start), "crashed"), out)
    return out


def tree_bytes(path: str) -> int:
    """Bytes of every file under path."""
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)
