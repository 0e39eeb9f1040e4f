"""Shared machinery of the GWAS-warehouse benchmark.

- `start_spark` / `stop_spark`: the engine's session defaults
  (`gwasdb_spark.session._DEFAULTS`) on `local[N]`, with every scratch
  directory inside the run's work dir and the JVM reaped on exit.
- `Tracer`: named spans around the package's public calls. Every span
  records its wall time; in the traced pass it also sets one Spark job
  group per span and, after the op returns (outside the timed region),
  attributes each job, stage and task of the op to the span that ran it.
- `run_loop`: the one-client closed loop shared by all workloads.
- small statistics, process-tree RSS and on-disk byte helpers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass

# Counters read per stage from the status store.
STAGE_FIELDS = (
    "tasks",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "scan_run_ms",  # executor run time of the stages that read input
    "csv_input_bytes",  # input bytes of the stages that scan a CSV source
    "csv_run_ms",  # executor run time of those stages
)
COUNTERS = ("jobs", "stages") + STAGE_FIELDS


# -- session ---------------------------------------------------------------


def start_spark(work: str, cores: int, driver_mem: str):
    """SparkSession with the package's defaults. `SPARK_GRAFT_DRIVER_MEM`
    must be pinned before `gwasdb_spark.session` is imported (its default,
    16g, is more than a small machine has)."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = local
    from pyspark.sql import SparkSession

    from gwasdb_spark import session

    builder = SparkSession.builder.appName("perfbench").master(f"local[{cores}]")
    confs = dict(session._DEFAULTS)
    confs.update(
        {
            "spark.local.dir": local,
            # no hsperfdata file under /tmp: the run writes only in its work dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
    )
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_confs(spark) -> dict:
    keys = sorted(
        {k for k, _ in spark.sparkContext.getConf().getAll()}
        | {
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        }
    )
    keep = ("spark.sql.", "spark.driver.memory", "spark.master", "spark.local.dir")
    return {
        k: spark.conf.get(k, None)
        for k in keys
        if k.startswith(keep) and "secret" not in k
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- process tree / disk ---------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and its live
    descendants: the Python driver, the JVM and its Python workers."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def written_since(path: str, epoch_s: float) -> dict:
    """Parquet files and bytes under `path` modified at or after
    `epoch_s` (the files an operation wrote)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for f in names:
            st = os.stat(os.path.join(root, f))
            if st.st_mtime >= epoch_s - 1e-3:
                size += st.st_size
                files += f.endswith(".parquet")
    return {"files_written": files, "bytes_written": size}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- statistics ------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


# -- spans -----------------------------------------------------------------


class Span:
    __slots__ = ("name", "children", "t0", "t1", "e0", "e1", "group", "counters",
                 "job_windows", "attrs")

    def __init__(self, name: str):
        self.name = name
        self.children: list[Span] = []
        self.group: str | None = None
        self.counters = dict.fromkeys(COUNTERS, 0)
        self.job_windows: list[tuple[int, int]] = []
        self.attrs: dict = {}

    @property
    def wall_ms(self) -> float:
        return (self.t1 - self.t0) * 1e3

    @property
    def self_ms(self) -> float:
        return self.wall_ms - sum(c.wall_ms for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "wall_ms": self.wall_ms,
            "self_ms": self.self_ms,
            "counters": self.counters,
            "attrs": self.attrs,
            "children": [c.to_json() for c in self.children],
        }


class Tracer:
    """Span recorder. `attribute` switches the Spark attribution on for
    the ops of the traced pass; untraced ops only get wall times."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.attribute = False
        self._stack: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name)
        if parent is not None:
            parent.children.append(s)
        if self.attribute:
            self._n += 1
            s.group = f"pb{self._n}"
            self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.e0 = time.time()
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.e1 = time.time()
            self._stack.pop()
            if self.attribute:
                if parent is not None and parent.group:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def root(self, name: str):
        """A top-level span whose Spark work is harvested on exit."""
        first_job = self.watermark() if self.attribute else 0
        with self.span(name) as s:
            yield s
        if self.attribute:
            self.harvest(s, first_job)

    # -- attribution (called outside the timed region) --
    def watermark(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def harvest(self, root: Span, first_job: int) -> None:
        """Attach every job submitted since `first_job` to the span whose
        job group it carries; a job run from a helper thread (no group)
        goes to the innermost span open at its submission time."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        spans = list(root.walk())
        by_group = {s.group: s for s in spans if s.group}
        seen_stages: set[int] = set()
        for jid in range(first_job, self.watermark()):
            try:
                jd = store.job(jid)
            except Exception:  # noqa: BLE001 - evicted or never registered
                continue
            group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
            sub = jd.submissionTime().get().getTime() if jd.submissionTime().isDefined() else None
            end = jd.completionTime().get().getTime() if jd.completionTime().isDefined() else sub
            owner = by_group.get(group)
            if owner is None and sub is not None:
                inside = [s for s in spans if s.e0 * 1e3 <= sub <= s.e1 * 1e3]
                owner = inside[-1] if inside else root
            owner = owner or root
            owner.counters["jobs"] += 1
            if sub is not None:
                owner.job_windows.append((sub, end))
            info = tracker.getJobInfo(jid)
            for sid in list(info.stageIds) if info else []:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c = owner.counters
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["input_bytes"] += sd.inputBytes()
                c["output_bytes"] += sd.outputBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["executor_run_ms"] += sd.executorRunTime()
                c["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["gc_ms"] += sd.jvmGcTime()
                if sd.inputBytes() > 0:
                    c["scan_run_ms"] += sd.executorRunTime()
                    if _scans_csv(store, sid):
                        c["csv_input_bytes"] += sd.inputBytes()
                        c["csv_run_ms"] += sd.executorRunTime()


def _scans_csv(store, stage_id: int) -> bool:
    """Whether the stage's operation graph holds a CSV file scan (the
    `Scan csv` scope the SQL planner names the scan's RDDs after)."""
    try:
        todo = [store.operationGraphForStage(stage_id).rootCluster()]
    except Exception:  # noqa: BLE001 - evicted
        return False
    while todo:
        cluster = todo.pop()
        if cluster.name().startswith("Scan csv"):
            return True
        it = cluster.childClusters().iterator()
        while it.hasNext():
            todo.append(it.next())
    return False


def covered_ms(windows: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] job windows."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(windows):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- closed loop -----------------------------------------------------------


@dataclass
class OpRecord:
    kind: str
    wall_ms: float
    ok: bool
    error: str | None
    root: Span
    traced: bool
    extra: dict


def run_loop(tracer: Tracer, ops, run_op, check, seconds: float | None, trace: bool,
             block: int = 1) -> list[OpRecord]:
    """One client: issue each op after the previous returned and its
    result was collected; check it after its span closed. With `seconds`
    it stops at the first multiple of `block` ops (the op stream's mix
    period, so every run measures whole mixes) once the summed op wall
    reaches `seconds` or the elapsed time four times `seconds`; without,
    it runs the whole stream, so a stateful stream measures the same ops
    however fast they run. In the traced pass every other op is
    attributed, so traced and untraced walls of the same stream give the
    tracing overhead."""
    records: list[OpRecord] = []
    measured, t_start = 0.0, time.perf_counter()
    for i, op in enumerate(ops):
        traced = trace and i % 2 == 0
        tracer.attribute = traced
        result, error, extra = None, None, {}
        with tracer.root("op." + op["kind"]) as root:
            try:
                result = run_op(op, tracer, extra)
            except Exception as exc:  # noqa: BLE001 - counted, not fatal
                error = f"{type(exc).__name__}: {exc}"[:300]
        tracer.attribute = False
        ok = False
        if error is None:
            try:
                ok = bool(check(op, result, extra))
                if not ok:
                    error = f"wrong answer ({op['kind']})"
            except Exception as exc:  # noqa: BLE001
                error = f"check {type(exc).__name__}: {exc}"[:300]
        records.append(OpRecord(op["kind"], root.wall_ms, ok, error, root, traced, extra))
        measured += root.wall_ms / 1e3
        if seconds is not None and len(records) % block == 0 and (
            measured >= seconds or time.perf_counter() - t_start >= 4 * seconds
        ):
            break
    return records


def block_rates(records, block: int) -> list[float]:
    """Correct ops per second of op wall in each whole block of `block`
    ops."""
    rates = []
    for i in range(0, len(records) - block + 1, block):
        rs = records[i:i + block]
        rates.append(sum(r.ok for r in rs) / (sum(r.wall_ms for r in rs) / 1e3))
    return rates


def ok_spans(records):
    for r in records:
        if r.ok:
            yield from r.root.walk()


def mean_ms(records, name: str) -> float:
    """Mean wall of the spans called `name` over the correct ops (0 when
    the workload never enters that span)."""
    xs = [s.wall_ms for s in ok_spans(records) if s.name == name]
    return sum(xs) / len(xs) if xs else 0.0


def counter_per_op(records, prefix: str, field: str) -> float:
    """`field` summed over the traced spans whose name starts with
    `prefix`, per traced op."""
    rs = [r for r in records if r.ok and r.traced]
    total = sum(s.counters[field] for r in rs for s in r.root.walk() if s.name.startswith(prefix))
    return total / len(rs) if rs else 0.0


def dump_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)
