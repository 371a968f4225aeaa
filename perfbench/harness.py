"""Probes, session set-up and the closed loop shared by every workload.

Nothing here imports pyspark at module load: `run.py` must point the
interpreter, the JVM and the Python workers at the checkout's own work
directory before a SparkSession exists.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import statistics
import threading
import time

# (name, unit, better) — BENCHMARK.json lists the same metrics, and the
# benchmark's tests hold the two in step
END_TO_END = [
    ("wall_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("write_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
]

ER_MODULES = ["fsa_spotting", "windows", "candidates", "scoring",
              "disambiguate", "filters"]
ER_GROUPS = ["model_build", *ER_MODULES, "blocking", "pairs", "cc",
             "cli_output", "cli_recount"]
CKPT_STAGES = ["mentions", "scored", "resolved", "edges", "cc_steps",
               "clusters"]
# training_ops query -> the module whose public function it exercises
TRAINING_QUERIES = {
    "dedup_exact": "dedup",
    "dedup_minhash": "dedup",
    "neardup_dedup": "dedup",
    "ngram_jaccard": "dedup",
    "simhash_pairs": "dedup",
    "dedup_embedding_lsh": "ann",
    "ann_cosine_topk": "ann",
    "ann_lsh_topk": "ann",
    "ann_ivf_topk": "ann",
    "text_quality": "textstats",
    "fingerprints": "textstats",
    "token_counts_stemmed": "stem",
}


def _per_layer() -> list[tuple[str, str, str]]:
    m = [
        ("trace.overhead_s", "s"),
        ("engine.jobs", "count"),
        ("engine.persisted_leak", "count"),
        ("engine.spill_mb", "MB"),
        ("engine.gc_s", "s"),
        ("engine.task_skew", "ratio"),
        ("cc.wall_s", "s"),
        ("cc.jobs", "count"),
        ("cc.supersteps", "count"),
        ("cc.edges_in", "count"),
        ("model_build.wall_s", "s"),
    ]
    m += [(f"{mod}.wall_s", "s") for mod in ER_MODULES]
    m += [
        ("fsa_spotting.mentions", "count"),
        ("candidates.rows", "count"),
        ("blocking.wall_s", "s"),
        ("blocking.jobs", "count"),
        ("pairs.wall_s", "s"),
        ("pairs.edges", "count"),
        ("cli.output_s", "s"),
        ("cli.recount_s", "s"),
    ]
    for st in CKPT_STAGES:
        m += [(f"checkpoint.{st}.s", "s"), (f"checkpoint.{st}.mb", "MB")]
    m += [(f"{mod}.{q}.wall_s", "s") for q, mod in TRAINING_QUERIES.items()]
    m += [
        ("dedup.neardup_verify_ratio", "ratio"),
        ("ann.lsh_recall_at_3", "ratio"),
        ("ann.ivf_recall_at_3", "ratio"),
    ]
    for g in [*ER_GROUPS, *TRAINING_QUERIES]:
        m += [(f"engine.{g}.task_s", "s"),
              (f"engine.{g}.shuffle_write_mb", "MB")]
    better = {"ratio": "higher"}
    return [(n, u, better.get(u, "lower")) for n, u in m]


PER_LAYER = _per_layer()


# ---------------------------------------------------------------------------
# ambient probes
# ---------------------------------------------------------------------------

def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_probe() -> float:
    """Seconds for a fixed single-thread loop: its stretch over an idle
    core's time is the contention right now, which load1 (a one-minute
    average) cannot show."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot. Steal is time a
    virtual CPU was ready but its host ran something else: on a shared
    host it is what slows a run that load1 inside the guest cannot see."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is
    # already counted in user and nice)
    return ticks[7], sum(ticks[:8])


def ambient() -> dict:
    steal, total = cpu_ticks()
    return {"load1": load1(), "cpu_probe_s": round(cpu_probe(), 4),
            "steal_ticks": steal, "total_ticks": total}


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time stolen by the host between two ambient probes."""
    total = after["total_ticks"] - before["total_ticks"]
    if not total:
        return 0.0
    return (after["steal_ticks"] - before["steal_ticks"]) / total


# ---------------------------------------------------------------------------
# process-tree sampling (/proc; no psutil)
# ---------------------------------------------------------------------------

def process_tree(root: int) -> list[int]:
    """`root` and every live descendant: the driver Python, the JVM it
    launched, and the JVM's Python worker daemon and workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler:
    """Peak summed RSS of the process tree while the `with` body runs."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()

    def _sample(self) -> None:
        rss = sum(_rss_bytes(pid) for pid in process_tree(os.getpid()))
        self.peak_rss = max(self.peak_rss, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss / 1e6


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# Spark session and cache state
# ---------------------------------------------------------------------------

def start_session(work: str, nproc: int, event_log_dir: str | None = None):
    """The engine's own session factory, pointed at the work directory.
    Later `cli.main` calls reuse this session through getOrCreate."""
    from dbpedia_spotlight_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            # the whole heap committed and touched at start: the JVM's
            # share of peak RSS is then the configured heap, not the
            # garbage collector's timing, which read +-15% run to run
            f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit (it
    takes the Python worker daemon down with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def persisted_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def reset_caches(spark) -> None:
    """Drop every cache a previous run could leave behind, so a repeat is
    not flattered by its predecessor: the SQL cache manager, any RDD
    still persisted (localCheckpoint, model tables), and the driver
    queries' per-session input caches."""
    from dbpedia_spotlight_spark.plans import driver_queries as DQ

    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in list(rdds.values()):
        rdd.unpersist(True)
    DQ._DOCS_CACHE.clear()
    DQ._CTX_MODEL_CACHE.clear()


def spark_write_bytes(spark, group: str) -> int:
    """Shuffle-file and spill bytes written by the stages of a job group,
    from Spark's status store (kept with the UI off). Counting the
    process tree's storage writes instead read +-20% run to run, because
    a page re-dirtied after write-back counts twice."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages: set[int] = set()
    jobs = store.jobsList(None).iterator()
    while jobs.hasNext():
        job = jobs.next()
        g = job.jobGroup()
        if g.isDefined() and g.get() == group:
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    total = 0
    it = store.stageList(None, False, False, no_quantiles, None).iterator()
    while it.hasNext():
        stage = it.next()
        if stage.stageId() in stages:
            total += stage.shuffleWriteBytes() + stage.diskBytesSpilled()
    return total


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


class Spans:
    """In-memory spans (name, start, end, parent, run id); each span runs
    under a job group of its name so the event log can charge it."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            sc.setJobGroup(parent or "none", parent or "none")
            self.records.append({"name": name, "start": t0, "end": t1,
                                 "parent": parent, "run_id": self.run_id})

    def wall(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records
                   if r["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f, indent=1)


# ---------------------------------------------------------------------------
# closed loop and result
# ---------------------------------------------------------------------------

@dataclasses.dataclass
class OpRecord:
    wall_s: float
    peak_rss_mb: float
    write_mb: float
    leak: int
    checks: list[bool]
    error: str


def closed_loop(spark, seconds: float, prepare, op, check, ops_per_run: int,
                output_bytes=lambda: 0, min_ops: int = 1) -> list[OpRecord]:
    """One client: `prepare()` (cache reset and re-warm, untimed), the
    timed `op()` under job group `op<n>`, then the untimed
    `check(result)`, which returns one pass/fail per operation the op
    made; the next op starts only after the previous one finished, until
    the timed ops add up to `seconds` and number at least `min_ops`. An
    exception fails all `ops_per_run` operations. An op's writes are its
    stages' shuffle and spill bytes plus `output_bytes()`, the files it
    left."""
    sc = spark.sparkContext
    records: list[OpRecord] = []
    measured = 0.0
    while len(records) < min_ops or measured < seconds:
        prepare()
        group = f"op{len(records) + 1}"
        before = persisted_count(spark)
        error, result = "", None
        sc.setJobGroup(group, "op")
        with TreeSampler() as s:
            t0 = time.perf_counter()
            try:
                result = op()
            except Exception as e:  # noqa: BLE001 — counted as failures
                error = f"{type(e).__name__}: {e}"[:500]
            dt = time.perf_counter() - t0
        sc.setJobGroup("none", "none")
        leak = persisted_count(spark) - before
        write_mb = (spark_write_bytes(spark, group) + output_bytes()) / 1e6
        checks = [False] * ops_per_run if error else list(check(result))
        measured += dt
        records.append(OpRecord(dt, s.peak_rss_mb, write_mb, leak, checks,
                                error))
    return records


def tally(records: list[OpRecord]) -> tuple[int, int]:
    """(attempted, failed) operations over the run."""
    checks = [c for r in records for c in r.checks]
    return len(checks), sum(not c for c in checks)


def median(values) -> float:
    return float(statistics.median(values))


def end_to_end_metrics(records: list[OpRecord], n_docs: int,
                       setup_s: float) -> dict[str, float]:
    wall = median(r.wall_s for r in records)
    return {
        "wall_s": wall,
        "docs_per_s": n_docs / wall,
        "peak_rss_mb": median(r.peak_rss_mb for r in records),
        "write_mb": median(r.write_mb for r in records),
        "setup_s": setup_s,
    }


def emit(correct: bool, attempted: int, failed: int,
         values: dict[str, float], trace: bool, report: dict) -> None:
    """Print the report line, then the result line the contract reads.
    With trace on, every declared per-layer metric is present; one the
    workload does not exercise reads 0."""
    declared = PER_LAYER if trace else END_TO_END
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit, _better in declared
    }
    report = dict(report, error_rate=failed / attempted)
    if "ambient_before" in report and "ambient_after" in report:
        report["steal_share"] = steal_share(report["ambient_before"],
                                            report["ambient_after"])
    print(json.dumps({"report": report}, sort_keys=True, default=str))
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
