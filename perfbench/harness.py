"""Run isolation, the Spark status-store ledger, spans and statistics
shared by every workload.

Nothing here imports the engine at module load: ``isolate`` must set
the environment (oracle scratch, Spark local dirs, worker PYTHONPATH)
before ``e_commerce_data_pipeline_spark`` is imported, because the
engine bakes ``SPARK_GRAFT_ORACLE_SCRATCH`` into its oracle SQL at
import time.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = "e_commerce_data_pipeline_spark"
DATA_DIR = BENCH_DIR / "data"
RUNS_DIR = ROOT / ".perfbench_run"


def sf_dir(sf: str) -> str:
    return str(DATA_DIR / f"sf{sf}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(tag: str) -> Path:
    """Give this process a fresh run directory inside the checkout and
    point every scratch location the engine and Spark use at it."""
    if not (ROOT / PACKAGE).is_dir():
        raise SystemExit(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}")
    run_dir = RUNS_DIR / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("oracle", "local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["SPARK_GRAFT_ORACLE_SCRATCH"] = str(run_dir / "oracle")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'}"
    # measure the engine's own driver heap default, whatever the caller set
    os.environ.pop("SPARK_DRIVER_MEM", None)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # Python workers import the engine by module path (UDFs defined in
    # its modules pickle by reference), whatever the Spark driver's cwd is.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, str(ROOT))
    return run_dir


def start_session():
    from e_commerce_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM this process launched and wait for
    it: the gateway JVM exits when its stdin closes, and takes the
    Python workers it forked with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def host_record(spark, seed: int) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
    }


def bounds_host_check(host: dict) -> dict:
    """Compare this host's core count with the one the bounds in
    BENCHMARK.json were set on (``bounds_host.json``)."""
    ref = json.loads((BENCH_DIR / "bounds_host.json").read_text())
    cpus = int(host["SPARK_GRAFT_CPUS"] or host["nproc"])
    same = ref["nproc"] == host["nproc"] and ref["cpus"] == cpus
    if not same:
        print(
            f"perfbench: WARNING bounds were set on nproc={ref['nproc']} "
            f"cpus={ref['cpus']}; this host has nproc={host['nproc']} "
            f"cpus={cpus}: do not compare these figures against them",
            file=sys.stderr,
        )
    return {"bounds_nproc": ref["nproc"], "bounds_cpus": ref["cpus"], "comparable": same}


def retained_heap_mb(spark, min_rounds: int = 6, max_rounds: int = 12) -> float:
    """Driver JVM heap in use after forced full collections: the lowest
    reading of at least ``min_rounds``, ending when two readings in a
    row agree within 1 MB. The context cleaner frees broadcast blocks
    and plan state only some time after a collection has made them
    unreachable, so readings can hold level for a second or more before
    they drop (seen on 4 cores: 151, 151, 155, then 81 MB)."""
    import gc

    spark.catalog.clearCache()
    gc.collect()  # drop Python-side references to JVM objects first
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for i in range(max_rounds):
        jvm.System.gc()
        time.sleep(0.5)
        readings.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        if i + 1 >= min_rounds and abs(readings[-1] - readings[-2]) < 1.0:
            break
    return min(readings)


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail(xs) -> tuple[float, int, int]:
    """(value, percentile, n) for the highest whole percentile that
    still has at least ten samples above it (nearest rank). Below 20
    samples that percentile would not even reach the median, so the
    maximum is reported as percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n < 20:
        return xs[-1], 100, n
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct * n / 100))
    return xs[rank - 1], pct, n


# --------------------------------------------------------------------------
# tracing: spans from the benchmark's own code + the Spark status store
# --------------------------------------------------------------------------


class Tracer:
    """Spans recorded around the benchmark's calls into each layer.

    A span is (id, parent, layer, name, start, end) in perf_counter
    seconds. ``enabled=False`` makes every call a no-op so the untraced
    run pays nothing; ``self_s`` accumulates the tracer's own cost
    (status-store reads, listener-bus drains) for the traced run.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0
        self._spark = spark
        self._om = None
        if enabled:
            jvm = spark.sparkContext._jvm
            om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            om.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
            self._om = om

    def span(self, layer: str, name: str, start: float, end: float, parent=None):
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "layer": layer, "name": name,
             "start": start, "end": end}
        )
        return sid

    # -- status store -------------------------------------------------------

    def _store_json(self, method: str):
        sc = self._spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        if method == "stages":
            lst = store.stageList(
                jvm.java.util.ArrayList(), False, False,
                sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
            )
        else:
            lst = store.jobsList(jvm.java.util.ArrayList())
        return json.loads(self._om.writeValueAsString(lst))

    def codegen_compiles(self) -> int:
        """Whole-stage and expression code compilations (Janino) so far,
        from Spark's codegen metrics source; 0 when not tracing."""
        if not self.enabled:
            return 0
        cm = self._spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return cm.METRIC_COMPILATION_TIME().getCount()

    def snapshot(self):
        """Drain the listener bus, then return (stages, jobs) from the
        in-process status store (works with the UI disabled)."""
        if not self.enabled:
            return [], []
        t0 = time.perf_counter()
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        stages = self._store_json("stages")
        jobs = self._store_json("jobs")
        self.self_s += time.perf_counter() - t0
        return stages, jobs


STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "inputRecords", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def stage_totals(stages) -> dict:
    """Sum the ledger fields over a set of stage attempts (times in s,
    bytes in MB)."""
    tot = {k: 0 for k in STAGE_FIELDS}
    for s in stages:
        for k in STAGE_FIELDS:
            tot[k] += s.get(k) or 0
    return {
        "stages": len(stages),
        "tasks": tot["numTasks"],
        "task_run_s": tot["executorRunTime"] / 1e3,
        "task_cpu_s": tot["executorCpuTime"] / 1e9,
        "gc_s": tot["jvmGcTime"] / 1e3,
        "input_mb": tot["inputBytes"] / 2**20,
        "shuffle_read_mb": tot["shuffleReadBytes"] / 2**20,
        "shuffle_write_mb": tot["shuffleWriteBytes"] / 2**20,
        "spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / 2**20,
    }


def self_times(spans) -> dict:
    """Per layer: Σ(span duration − the part of it its children cover)."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict = {}
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], ())
        ):
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, indent=1, default=str))
    os.replace(tmp, path)
