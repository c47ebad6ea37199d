"""Session lifecycle, weather stamp, memory sampler and the digest sink.

Everything the benchmark creates at run time lives under this directory:
`.cache/` holds the generated inputs and the digests seen so far, `.run/`
holds one temp dir per run (Spark local dirs, warehouses, event logs; it
is removed when the run ends) and `out/` holds one artifact per run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
RUN_ROOT = os.path.join(BENCH_DIR, ".run")
OUT_DIR = os.path.join(BENCH_DIR, "out")

# the driver JVM is the only executor in local mode; 2g holds the
# 512-row Arrow batches of every workload with room to spare on a box
# whose memory is shared
DRIVER_MEM = "2g"
N_SETUPS = 3


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- weather -------------------------------------------------------------
def _cpu_snapshot() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _frac(before: list[int], after: list[int], *fields: int) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return sum(delta[i] for i in fields) / max(1, sum(delta))


def weather(window: float = 0.5) -> dict:
    """Box conditions before the run: the /proc/stat idle fraction over
    `window` seconds, the usable cores and MemTotal.  Recorded only;
    never used to drop, repeat or pick a run."""
    before = _cpu_snapshot()
    time.sleep(window)
    after = _cpu_snapshot()
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "idle_frac_pre": _frac(before, after, 3, 4),  # idle + iowait
        "nproc": nproc(),
        "mem_total_mb": mem_kb / 1024,
        "cpu_ticks_start": after,
    }


def steal_frac_since(stamp: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests since the
    weather stamp (/proc/stat steal); recorded, like the stamp."""
    return _frac(stamp["cpu_ticks_start"], _cpu_snapshot(), 7)


# --- memory ---------------------------------------------------------------------
_PAGE = os.sysconf("SC_PAGE_SIZE")


# processes of the benchmark's own that process_tree leaves out (the speed probe)
UNTRACKED_PIDS: set[int] = set()


def process_tree() -> dict[int, tuple[str, list[str]]]:
    """This process and all its descendants (driver JVM, Python daemon
    and workers) but UNTRACKED_PIDS: pid -> (command, /proc/<pid>/stat
    fields after it)."""
    procs: dict[int, tuple[str, list[str]]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (stat[stat.index("(") + 1 : stat.rindex(")")], fields)
        children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in UNTRACKED_PIDS:
            continue
        todo.extend(children.get(pid, ()))
        if pid in procs:
            tree[pid] = procs[pid]
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds (user + system) the process tree has used so far, by
    command (java, python3, ...), counting exited and reaped children (the
    Python workers the daemon forks and reaps) in their parent's.  Time
    the hypervisor gave to other guests is not in it."""
    by_comm: dict[str, float] = {}
    for comm, fields in process_tree().values():
        # utime, stime, cutime, cstime: fields 14-17 of /proc/<pid>/stat
        ticks = sum(int(x) for x in fields[11:15])
        by_comm[comm] = by_comm.get(comm, 0.0) + ticks / _TICK
    return by_comm


class SpeedProbe:
    """speed.py running beside the run, outside the measured process tree.
    `slowdown(t0, t1)` is the mean CPU seconds of its work unit between
    monotonic times t0 and t1 over REF_UNIT_S: how much slower than the
    reference a core of the shared host ran.  A job's CPU seconds divided
    by it are CPU seconds of a core of reference speed."""

    # CPU seconds of one probe unit on the reference core (about the median
    # on a 4-vCPU Xeon guest of a shared host)
    REF_UNIT_S = 0.004

    def __init__(self, run_dir: str):
        self.path = os.path.join(run_dir, "speed.txt")
        self.proc = None

    def __enter__(self) -> "SpeedProbe":
        script = os.path.join(BENCH_DIR, "speed.py")
        self.proc = subprocess.Popen([sys.executable, script, self.path])
        UNTRACKED_PIDS.add(self.proc.pid)
        return self

    def __exit__(self, *exc) -> None:
        self.proc.kill()
        self.proc.wait()

    def samples(self) -> list[tuple[float, float]]:
        try:
            with open(self.path) as fh:
                lines = fh.read().splitlines()
        except OSError:
            return []
        return [tuple(map(float, line.split())) for line in lines if line.count(" ") == 1]

    def slowdown(self, t0: float, t1: float) -> float:
        """Mean unit CPU over REF_UNIT_S in [t0, t1]; over every sample
        so far when the window holds none."""
        samples = self.samples()
        window = [c for t, c in samples if t0 <= t <= t1] or [c for _, c in samples]
        if not window:
            raise RuntimeError("the speed probe wrote no sample")
        return statistics.fmean(window) / self.REF_UNIT_S


class TreeRss:
    """Peak summed RSS (MB) of the process tree's JVM and Python
    processes, sampled on a background thread while `active()` is
    entered.  `cpu_s` is the CPU the sampling thread has used, which
    `tree_cpu_s` also counts and a timed window subtracts."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.cpu_s = 0.0
        self.peak_mb = 0.0
        self.peak_procs: dict[str, float] = {}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def active(self):
        sampler = self

        class _Window:
            def __enter__(self):
                sampler._active.set()

            def __exit__(self, *exc):
                sampler._active.clear()

        return _Window()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            if self._active.is_set():
                procs = self.sample()
                total = sum(procs.values())
                if total > self.peak_mb:
                    self.peak_mb, self.peak_procs = total, procs
            self.cpu_s = time.thread_time()

    @staticmethod
    def sample() -> dict[str, float]:
        """RSS (MB) of each java and python process in the tree, by "pid
        command".  Other processes are left out: the JVM runs helper
        commands by forking, and until the exec the child reports the
        JVM's whole resident set a second time."""
        rss = {}
        for pid, (comm, _) in process_tree().items():
            if comm != "java" and not comm.startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss[f"{pid} {comm}"] = int(fh.read().split()[1]) * _PAGE / 2**20
            except OSError:
                continue
        return rss


# --- session -----------------------------------------------------------------
def prepare_env(run_dir: str) -> None:
    """Process environment the Spark JVM and its Python workers inherit:
    the repository on PYTHONPATH (workers import the package from any
    working directory), the Spark driver heap, and Spark's local and temp
    directories inside the run's temp dir."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the launcher JVM spark-submit starts first writes no /tmp perf data
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "sql-warehouse"),
        # the whole heap is committed and touched at JVM start, so the
        # JVM's resident size does not depend on when the collector runs;
        # no perf-data file, which the JVM would put in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def start_session(conf: dict):
    from ocr_pipeline_spark.plans.job import default_session

    n = nproc()
    spark = default_session(
        f"local[{n}]", app_name="perfbench", shuffle_partitions=n, extra=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """One small action through every runtime piece the workloads use:
    a Python worker pool with pandas/Arrow imported, a shuffle and a
    collect."""
    from pyspark.sql import functions as F

    df = spark.range(0, 4096, numPartitions=nproc()).selectExpr(
        "id", "cast(id as string) AS s"
    )

    def identity(batches):
        yield from batches

    df.mapInPandas(identity, df.schema).groupBy(
        (F.col("id") % 7).alias("k")
    ).count().collect()


def setup(conf: dict) -> tuple[object, list[tuple[float, float]]]:
    """Start the session and warm it up N_SETUPS times (the first start
    also launches the JVM); keep the last session.  Returns it with the
    monotonic (start, end) of each set-up."""
    windows = []
    spark = None
    for i in range(N_SETUPS):
        t0 = time.monotonic()
        spark = start_session(conf)
        warm_up(spark)
        windows.append((t0, time.monotonic()))
        if i < N_SETUPS - 1:
            spark.stop()
    return spark, windows


def shutdown() -> None:
    """Stop the active session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Exception:  # noqa: BLE001 - a run terminated mid-call leaves the
        pass  # gateway unusable; the JVM is still stopped below
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# --- digest sink ---------------------------------------------------------------
def _hashable(col, dtype):
    """A column as hashed by the digest: maps as sorted entry arrays
    (maps are not hashable), floating values at 6 significant digits
    (Spark's float aggregates depend on task order)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return F.array_sort(F.map_entries(col))
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.6g", col)
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.DoubleType, T.FloatType)
    ):
        return F.transform(col, lambda x: F.format_string("%.6g", x))
    return col


def digest_aggs(df, cols: list[str] | None = None, prefix: str = "") -> list:
    """count + order-independent hash of `cols` (default: every column).
    The row hash is split into its two 32-bit halves before summing, so
    the sums cannot overflow under ANSI mode."""
    from pyspark.sql import functions as F

    fields = [f for f in df.schema.fields if cols is None or f.name in cols]
    h = F.xxhash64(*[_hashable(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    return [
        F.count(F.lit(1)).alias(prefix + "n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias(prefix + "lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias(prefix + "hi"),
    ]


def run_sink(df, aggs: list, name: str = "sink") -> dict:
    """Run df to completion through Spark's no-op writer (every column is
    produced, nothing is shuffled or stored) and return `aggs`, observed
    on the way."""
    from pyspark.sql import Observation

    obs = Observation(name)
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return {k: (v if v is not None else 0) for k, v in obs.get.items()}


def digest_of(row: dict, prefix: str = "") -> list[int]:
    return [int(row[prefix + k]) for k in ("n", "lo", "hi")]


# --- small helpers ---------------------------------------------------------------
class Ledger:
    """Operations attempted and failed, with the reason for each failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(problems)
        self.failures.extend(f"{name}: {p}" for p in problems)


class DigestCache:
    """Digests seen by earlier runs in this checkout, keyed by input and
    seed; a run whose digest differs from an earlier one fails."""

    def __init__(self):
        self.path = os.path.join(CACHE_DIR, "digests.json")
        try:
            with open(self.path) as fh:
                self.seen = json.load(fh)
        except (OSError, ValueError):
            self.seen = {}

    def check(self, key: str, digest) -> list[str]:
        prev = self.seen.setdefault(key, digest)
        return [] if prev == digest else [f"digest {digest} != earlier run's {prev}"]

    def save(self) -> None:
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.seen, fh)
        os.replace(tmp, self.path)


def cached_fixture(name: str, build, keep: int = 4) -> tuple[str, float]:
    """Path of the cached fixture `name` under .cache, built by
    `build(tmp_path)` on a miss; returns (path, seconds the build took).
    Only the `keep` newest fixtures of the same kind are kept."""
    path = os.path.join(CACHE_DIR, name)
    meta = path + ".json"
    if not os.path.exists(meta):
        kind = name.split("-", 1)[0] + "-"
        os.makedirs(CACHE_DIR, exist_ok=True)
        old = sorted(
            (os.path.getmtime(os.path.join(CACHE_DIR, m)), m[: -len(".json")])
            for m in os.listdir(CACHE_DIR)
            if m.startswith(kind) and m.endswith(".json")
        )
        for _, stale in old[: max(0, len(old) - keep + 1)]:
            os.remove(os.path.join(CACHE_DIR, stale + ".json"))
            shutil.rmtree(os.path.join(CACHE_DIR, stale), ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        build(tmp)
        gen_s = time.perf_counter() - t0
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        with open(meta, "w") as fh:
            json.dump({"gen_s": gen_s}, fh)
    with open(meta) as fh:
        return path, json.load(fh)["gen_s"]


def median(values) -> float:
    return statistics.median(values) if values else 0.0
