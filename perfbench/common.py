"""Shared pieces of the workloads: paths, statistics, the Spark session,
memory sampling, the host-drift probe and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")
ARTIFACTS = os.path.join(WORK, "artifacts")
# Timed passes of a Spark workload at least, even when they outlast
# --seconds. Two, not more: on a 4-vCPU host most of the run-to-run
# spread came from whole runs landing in slow or fast minutes, not from
# the passes within a run, and a third pass added a quarter to a run.
MIN_PASSES = 2


def fresh_dir(name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: int) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def tail_percentile(n: int) -> int:
    """The highest of p99/p90/p50 that leaves at least ten samples
    beyond it."""
    for q in (99, 90):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return 50


# --------------------------------------------------------------------------
# host-drift probe
# --------------------------------------------------------------------------


def drift_probe(tag: str) -> dict:
    """Fixed single-thread work: the extraction kernel on one
    deterministic payload, 40 times. Recorded before and after
    each run so a reader can tell host drift from a regression; never
    used to normalize a metric."""
    from libpdf_spark.config import DEFAULT_CONFIG
    from libpdf_spark.fixtures import LOREM, doc_from_text
    from libpdf_spark.kernel.document import extract_document
    from libpdf_spark.payload import embed, find_payload

    payload = embed(doc_from_text(" ".join(LOREM * 10)).build())
    extract_document(find_payload(payload), DEFAULT_CONFIG)  # imports, first-call costs
    t0 = time.perf_counter()
    for _ in range(40):
        extract_document(find_payload(payload), DEFAULT_CONFIG)
    return {"tag": tag, "unix_time": time.time(), "docs_per_s": 40 / (time.perf_counter() - t0)}


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and its descendants, leaving out
    the JVM: its heap grows with the collector's timing, up to the fixed
    ``spark.driver.memory``, while the Python processes hold what the
    program's own code allocates. PSS splits each shared page between
    the processes that map it, so pages that Python workers forked from
    one daemon share count once. Summed RSS counts them once per worker
    and read 0.7 GB on most runs but 2 GB on one."""
    kids = _children()
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Peak memory (:func:`python_tree_pss_mb`) of the Python driver and
    the Python workers under its JVM, sampled on a background thread.
    :meth:`lap` ends one pass and starts the next; ``laps`` holds each
    pass's peak."""

    def __init__(self):
        self.peak = 0.0
        self.laps: list[float] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        mb = python_tree_pss_mb(os.getpid())
        with self._lock:
            self.peak = max(self.peak, mb)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.25)

    def lap(self) -> None:
        self._sample()
        with self._lock:
            self.laps.append(self.peak)
            self.peak = 0.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# Spark
# --------------------------------------------------------------------------


def spark_cores() -> int:
    """Half the usable cores, at most two. The other half is left to the
    JVM's compiler and collector threads, the Python driver and whatever
    else runs on the host: on a 4-vCPU VM, ``local[4]`` ran the operator
    queries only about 10% faster than ``local[2]`` but its run-to-run
    spread over five seeds was three times as wide."""
    return max(1, min(2, len(os.sched_getaffinity(0)) // 2))


def start_spark(work: str, app: str, event_log_dir: str | None = None):
    """A ``local[k]`` session (k from :func:`spark_cores`) built through the
    program's ``pipeline.configure_session``, with every scratch path
    under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are launched by the JVM and need the package on
    # their path; TMPDIR keeps pyspark's own temp files in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir

    from pyspark.sql import SparkSession

    from libpdf_spark.pipeline import configure_session

    cores = spark_cores()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.executorEnv.PYTHONPATH", REPO)
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = configure_session(builder, shuffle_partitions=2 * cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# the result line
# --------------------------------------------------------------------------


def write_artifact(name: str, data: dict) -> str:
    os.makedirs(ARTIFACTS, exist_ok=True)
    path = os.path.join(ARTIFACTS, name)
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True, default=str)
    return path


def emit(correct: bool, attempted: int, failed: int, values: dict, trace: bool,
         notes: dict | None = None) -> None:
    """Print every metric the benchmark declares for this mode by name
    and unit, then the one-line JSON result. A per-layer metric a
    workload does not exercise reads 0; a missing end-to-end metric is
    an error."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        if m["name"] not in values and not trace:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    for key, val in (notes or {}).items():
        print(f"# {key}: {val}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    ratio = failed / attempted if attempted else 1.0
    print(f"failed_ratio = {ratio:.6g} ratio ({failed}/{attempted})")
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}), flush=True)
