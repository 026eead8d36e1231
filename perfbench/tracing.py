"""Spans, Spark operator metrics and process memory for the benchmark.

A `Tracer` wraps each call into an engine layer in a span (name, start,
end, parent, run id).  Spark is lazy, so `Tracer.materialize` forces a
span's output: untraced it runs one order-insensitive hash aggregate over
the output; traced it first persists the output (so the next span reads
it), then runs the same aggregate and reads the operator metrics from the
QueryExecution that ran it.  Spans stay in memory until `Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

# Operator metrics summed per span: (output name, Spark metric names).
_PLAN_METRICS = {
    "shuffle_bytes": ("shuffleBytesWritten",),
    "shuffle_records": ("shuffleRecordsWritten",),
    "python_s": ("pythonTotalTime",),
    "arrow_bytes": ("pythonDataSent", "pythonDataReceived"),
    "spill_bytes": ("spillSize",),
    "python_boot_s": ("pythonBootTime",),
}
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}
RSS_INTERVAL_S = 0.25


def plan_metrics(jvm, df) -> dict[str, float]:
    """Sum operator metrics over the executed plan of `df`'s QueryExecution.
    `join_rows` is the summed output of the plan's join operators.

    Descends through AdaptiveSparkPlanExec.executedPlan() and each
    *QueryStageExec.plan().  It also descends into the cached plan under
    the first InMemoryTableScanExec it meets (the persisted output that
    `df` aggregates), but not into caches read below that: those are
    earlier spans' outputs, already counted there.  Read it after an
    action on this same `df` (a fresh noop write builds a new
    QueryExecution whose metrics are not this one's)."""
    wanted = {m: name for name, ms in _PLAN_METRICS.items() for m in ms}
    out = dict.fromkeys([*_PLAN_METRICS, "join_rows"], 0.0)
    seen: set[int] = set()
    open_cache = True
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        ident = jvm.System.identityHashCode(node)
        if ident in seen:
            continue
        seen.add(ident)
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name = wanted.get(kv._1())
            if name is not None:
                metric = kv._2()
                out[name] += metric.value() * _TIME_UNITS.get(metric.metricType(), 1.0)
        cls = node.getClass().getSimpleName()
        if "Join" in cls or cls == "CartesianProductExec":
            out["join_rows"] += node.metrics().get("numOutputRows").get().value()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "InMemoryTableScanExec" and open_cache:
            open_cache = False
            stack.append(node.relation().cachedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def hash_agg(df, cols=None, subset=None):
    """One-row aggregate: row count and bit_xor(xxhash64(cols)), which is
    independent of row order and partitioning.  By default every column
    xxhash64 accepts (all but maps).  With a boolean column `subset`, the
    count and hash of the rows it selects follow, in the same pass."""
    from pyspark.sql import functions as F

    cols = list(cols or [c for c, t in df.dtypes if not t.startswith("map")])
    row_hash = F.xxhash64(*(F.col(f"`{c}`") for c in cols))
    aggs = [F.count(F.lit(1)).alias("n"), F.bit_xor(row_hash).alias("h")]
    if subset is not None:
        aggs += [F.count(F.when(subset, 1)).alias("n_sub"), F.bit_xor(F.when(subset, row_hash)).alias("h_sub")]
    return df.agg(*aggs)


def digest(df, cols=None, subset=None) -> tuple[int, ...]:
    """(rows, hash), plus (rows, hash) of `subset` when given."""
    return tuple(int(v or 0) for v in hash_agg(df, cols, subset).collect()[0])


class Tracer:
    """Closed-loop span recorder.  With `enabled=False` spans are still
    timed (the workloads read op times from them) but outputs are not
    persisted and no plan metrics are read."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._persisted: list = []

    def rebind(self, spark) -> None:
        self.spark = spark

    def span(self, name: str):
        return _Span(self, name)

    def materialize(self, span: "_Span", df, cols=None, subset=None) -> tuple[int, ...]:
        """Force `df` inside `span`; return its `digest`."""
        if self.enabled:
            df = df.persist()
            self._persisted.append(df)
        agg = hash_agg(df, cols, subset)
        row = agg.collect()[0]
        if self.enabled:
            for k, v in plan_metrics(self.spark.sparkContext._jvm, agg).items():
                span.add(k, v)
        return tuple(int(v or 0) for v in row)

    def release(self) -> None:
        """Unpersist every output persisted by traced spans."""
        for df in self._persisted:
            df.unpersist(blocking=True)
        self._persisted.clear()

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **(extra or {})}, fh, indent=1)

    def layer_metrics(self, names) -> dict[str, float]:
        """Per-span metrics summed over every span with that name:
        self_s (duration minus child spans), plan metrics, jobs and the
        span's own counts.  Spark's pythonBootTime is credited to
        session.python_boot_s wherever it lands."""
        out: dict[str, float] = {}
        by_id = {s["id"]: s for s in self.spans}
        child_s: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] in by_id:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        boot = 0.0
        for s in self.spans:
            boot += s["counts"].get("python_boot_s", 0.0)
            if s["name"] not in names:
                continue
            vals = {"self_s": s["end"] - s["start"] - child_s.get(s["id"], 0.0), "jobs": s["jobs"]}
            vals.update((k, v) for k, v in s["counts"].items() if k != "python_boot_s")
            for k, v in vals.items():
                key = f"{s['name']}.{k}"
                out[key] = out.get(key, 0.0) + v
        out["session.python_boot_s"] = boot
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.rec = {
            "name": name,
            "id": uuid.uuid4().hex[:12],
            "parent": None,
            "run_id": tracer.run_id,
            "start": 0.0,
            "end": 0.0,
            "jobs": 0,
            "counts": {},
        }

    def add(self, key: str, value: float) -> None:
        self.rec["counts"][key] = self.rec["counts"].get(key, 0.0) + float(value)

    def materialize(self, df, cols=None, subset=None) -> tuple[int, ...]:
        return self.tracer.materialize(self, df, cols, subset)

    def __enter__(self) -> "_Span":
        tr = self.tracer
        self.rec["parent"] = tr._stack[-1]["id"] if tr._stack else None
        tr._stack.append(self.rec)
        if tr.enabled and tr.spark is not None:
            tr.spark.sparkContext.setJobGroup(self.rec["id"], self.rec["name"])
        self.rec["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        tr = self.tracer
        self.rec["end"] = time.perf_counter()
        tr._stack.pop()
        if tr.enabled and tr.spark is not None:
            sc = tr.spark.sparkContext
            self.rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(self.rec["id"]))
            if tr._stack:
                sc.setJobGroup(tr._stack[-1]["id"], tr._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
        tr.spans.append(self.rec)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except (FileNotFoundError, ProcessLookupError):
        return []


def _tree(root_pid: int):
    """`root_pid` and all its descendants."""
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        yield pid
        stack.extend(_children(pid))


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of `root_pid` and all its descendants."""
    return sum(_rss_bytes(pid) for pid in _tree(root_pid))


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of `pid` (its own and its reaped
    children's CPU time), in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return 0
    return sum(int(f) for f in fields[11:15])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of `root_pid` and all its descendants."""
    return sum(_cpu_ticks(pid) for pid in _tree(root_pid)) * _TICK_S


def host_steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine's vCPUs
    (the `steal` column of /proc/stat; 0 on a machine of its own)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) * _TICK_S


class HostClock:
    """Wall time of an interval, and the share of the CPU time this process
    tree wanted in it that the hypervisor let it have.

    On a shared VM the hypervisor holds the vCPUs back at times, and the
    same work then takes up to twice as long.  `share` = cpu / (cpu +
    steal), with cpu the tree's own CPU seconds and steal the machine's
    stolen seconds over the interval; seconds × share estimates the time
    on CPUs that were not held back.  Nothing else runs on the machine
    during a benchmark run, so the steal is the tree's."""

    def __enter__(self) -> "HostClock":
        self._start = (time.perf_counter(), tree_cpu_s(os.getpid()), host_steal_s())
        return self

    def __exit__(self, *exc) -> None:
        t, cpu, steal = self._start
        self.wall = time.perf_counter() - t
        self.cpu = tree_cpu_s(os.getpid()) - cpu
        self.steal = host_steal_s() - steal

    @property
    def share(self) -> float:
        return self.cpu / (self.cpu + self.steal) if self.cpu > 0 else 1.0

    def report(self) -> dict:
        return {"wall_s": self.wall, "cpu_s": self.cpu, "steal_s": self.steal, "share": self.share}


class RssSampler:
    """Samples the summed RSS of a process tree (the driver JVM and the
    Python workers it forks) from /proc; psutil is not required."""

    def __init__(self):
        self.peak = 0
        self._pid = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def watch(self, pid: int) -> None:
        self._pid = pid
        if not self._thread.is_alive():
            self._thread.start()

    def reset(self) -> int:
        peak, self.peak = self.peak, 0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            if self._pid is not None:
                self.peak = max(self.peak, tree_rss_bytes(self._pid))

    def close(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
