"""Outside-in observers: a /proc RSS sampler, a reader for Spark's own
status stores, a streaming checkpoint-log reader, and the summary
statistics the benchmark reports.

None of these change the program under test; they read /proc, the
driver JVM's status stores (populated with the UI off) and files the
program writes.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from pathlib import Path

# ---------------------------------------------------------------- stats


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, beyond: int = 10) -> dict:
    """The highest percentile that still has at least `beyond` samples
    above it: with n sorted samples that is the (n - beyond)-th smallest
    value, the (n - beyond)/n percentile. With too few samples there is
    no such percentile; the maximum is reported, marked by `beyond` < 10.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return {"value": None, "pct": None, "n": 0, "beyond": 0}
    if n <= beyond:
        return {"value": s[-1], "pct": 100.0, "n": n, "beyond": 0}
    k = n - beyond  # 1-based rank of the reported sample
    return {"value": s[k - 1], "pct": round(100.0 * k / n, 2), "n": n,
            "beyond": beyond}


# ---------------------------------------------------------- RSS sampler


def session_pids(sid: int) -> list[int]:
    """Live processes of session `sid` (the worker is started in a new
    session, so this is the worker, its driver JVM and the JVM's Python
    UDF workers)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[3]) == sid and f[0] != "Z":
            out.append(int(d))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s(sid: int) -> float:
    """CPU seconds (user + system, with reaped children) of the live
    processes of session `sid`. Time the hypervisor gave to other
    guests is not charged to a process, so this is host-steal free."""
    total = 0
    for p in session_pids(sid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_times(cpus) -> tuple[float, float]:
    """(busy, steal) seconds summed over the CPUs `cpus`, from the
    per-CPU lines of /proc/stat. busy is user + nice + system + irq +
    softirq; steal is time a vCPU was ready to run but the host ran
    another guest."""
    busy = steal = 0
    with open("/proc/stat") as fh:
        for line in fh:
            if not line.startswith("cpu"):
                break
            f = line.split()
            if f[0][3:].isdigit() and int(f[0][3:]) in cpus:
                v = [int(x) for x in f[1:9]]
                busy += v[0] + v[1] + v[2] + v[5] + v[6]
                steal += v[7]
    hz = os.sysconf("SC_CLK_TCK")
    return busy / hz, steal / hz


class StealClock:
    """A timeline of the busy and hypervisor-steal time of this
    process's CPUs, sampled every `period` seconds from a background
    thread.

    Steal only accrues on a vCPU that has work: between two samples, a
    share f = steal / (busy + steal) of the time the VM's vCPUs wanted
    to run was taken by other guests, so the work in that slice
    advanced at 1 - f of its speed. `adjust(t0, t1)` sums (1 - f) over
    the slices of the wall interval t0..t1 (epoch seconds): what the
    interval measures with the time other guests took out. Every
    timing the benchmark reports is adjusted this way; the raw walls
    and the steal go into the run's record."""

    def __init__(self, cpus=None, period: float = 0.05):
        self.cpus = set(cpus if cpus is not None
                        else os.sched_getaffinity(0))
        self.period = period
        self.samples: list[tuple[float, float, float]] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        self.samples.append((time.time(), *cpu_times(self.cpus)))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def start(self) -> "StealClock":
        self.sample()
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()

    def _slices(self, t0: float, t1: float):
        """(overlap seconds, overlap share of the slice, busy, steal)
        of each sampled slice that overlaps t0..t1."""
        for (ta, ba, sa), (tb, bb, sb) in zip(self.samples,
                                              self.samples[1:]):
            lo, hi = max(t0, ta), min(t1, tb)
            if hi > lo:
                yield hi - lo, (hi - lo) / (tb - ta), bb - ba, sb - sa

    def steal(self, t0: float, t1: float) -> float:
        """Steal CPU-seconds in t0..t1 (pro rata within a slice)."""
        return sum(w * st for _, w, _, st in self._slices(t0, t1))

    def adjust(self, t0: float, t1: float) -> float:
        """Seconds of t0..t1 the host gave to this VM's work; time
        outside the sampled timeline counts in full."""
        covered = adj = 0.0
        for dt, _, busy, st in self._slices(t0, t1):
            covered += dt
            adj += dt * (busy / (busy + st) if busy + st > 0 else 1.0)
        return adj + (t1 - t0) - covered


class RssSampler:
    """Samples the summed RSS of a session's processes (session_pids)
    every `period` seconds from a background thread. `peak` is in
    bytes."""

    def __init__(self, sid: int, period: float = 0.25):
        self.sid, self.period = sid, period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(rss_bytes(p) for p in session_pids(self.sid))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


# ---------------------------------------------- Spark status-store reader

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def _scalar(text: str) -> float | None:
    m = _NUM.match(text)
    if not m:
        return None
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME:
        return v * _TIME[unit]
    return v


def parse_metric(text: str | None) -> dict:
    """A formatted SQL metric value -> {"total", "min", "med", "max"}
    in base units (bytes, seconds or counts). Plain sums carry only
    "total"; size and timing metrics with task statistics read
    "total (min, med, max (stageId: taskId))\\n<t> (<min>, <med>, <max> …)".
    """
    if not text:
        return {}
    lines = text.strip().split("\n")
    body = lines[-1]
    out = {"total": _scalar(body)}
    inner = body[body.find("(") + 1:] if "(" in body else ""
    parts = [p for p in inner.split(",")][:3]
    if len(parts) == 3:
        for k, p in zip(("min", "med", "max"), parts):
            out[k] = _scalar(p.split("(")[0])
    return out


# plan nodes whose metrics the benchmark reads; the rest are skipped to
# keep the number of gateway calls per execution small
NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "Python",
         "Scan", "Exchange", "Execute InsertInto", "WriteFiles")


class StatusReader:
    """Reads the driver's SQL and core status stores through the py4j
    gateway: per-execution plan-node metrics, and per-stage task data.
    The stores are fed by an asynchronous listener bus, so every read
    first waits for the bus to drain."""

    def __init__(self, spark):
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.sc = spark._jsc.sc()
        self.core = self.sc.statusStore()

    def sync(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Position after the last execution recorded so far."""
        self.sync()
        return int(self.sql.executionsCount())

    def since(self, mark: int) -> list[int]:
        """Ids of the executions recorded after `mark`."""
        self.sync()
        return [int(e.executionId()) for e in
                self.conv.asJava(self.sql.executionsList(mark, 1 << 20))]

    def nodes(self, eid: int) -> list[dict]:
        """[{name, desc, metrics: {metric name: parsed}}] per plan node
        of interest (NODES)."""
        vals = self.conv.asJava(self.sql.executionMetrics(eid))
        out = []
        graph = self.sql.planGraph(eid)
        for n in self.conv.asJava(graph.allNodes()):
            name = n.name()
            if not name.startswith(NODES):
                continue
            ms = {}
            for m in self.conv.asJava(n.metrics()):
                ms[m.name()] = parse_metric(vals.get(m.accumulatorId()))
            out.append({"name": name, "desc": n.desc(), "metrics": ms})
        return out

    def _execution(self, eid: int):
        e = self.sql.execution(eid)
        return e.get() if e.isDefined() else None

    def stage(self, sid: int) -> dict | None:
        try:
            s = self.core.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — skipped/evicted stage: no data
            return None
        durs = []
        if s.shuffleReadBytes() > 0:  # task times only for reduce stages
            tasks = self.conv.asJava(self.core.taskList(sid, s.attemptId(),
                                                        1 << 30))
            for t in tasks:
                d = t.duration()
                if d.isDefined() and t.status() == "SUCCESS":
                    durs.append(d.get() / 1000.0)
        return {
            "tasks": int(s.numTasks()),
            "failed": int(s.numFailedTasks()),
            "killed": int(s.numKilledTasks()),
            "shuffle_write": int(s.shuffleWriteBytes()),
            "shuffle_read": int(s.shuffleReadBytes()),
            "spill": int(s.diskBytesSpilled()),
            "durations": durs,
        }

    def summarize(self, eids: list[int], nodes: dict | None = None) -> dict:
        """Fold the executions `eids` into one record of node metrics
        summed by (node name, metric name), plus stage data. `nodes`
        caches nodes() per execution id."""
        agg: dict = {}
        scans: list[str] = []
        jobs = 0
        stages: dict[int, dict] = {}
        for eid in eids:
            e = self._execution(eid)
            if e is None:
                continue
            jobs += len(self.conv.asJava(e.jobs()))
            for n in (nodes or {}).get(eid) or self.nodes(eid):
                if n["name"].startswith("Scan"):
                    scans.append(n["desc"])
                for mname, v in n["metrics"].items():
                    key = (n["name"].split(" (")[0].strip(), mname)
                    cur = agg.setdefault(key, {"total": 0.0, "max": 0.0})
                    cur["total"] += v.get("total") or 0.0
                    cur["max"] = max(cur["max"], v.get("max") or 0.0)
            for sid in self.conv.asJava(e.stages()):
                sid = int(sid)
                if sid not in stages:
                    st = self.stage(sid)
                    if st is not None:
                        stages[sid] = st
        return {"metrics": agg, "scans": scans, "jobs": jobs,
                "stages": stages}


def metric(summary: dict, node: str, name: str, field: str = "total"
           ) -> float:
    """Sum of `field` of metric `name` over nodes whose name starts with
    `node` (0.0 when absent)."""
    return sum(v[field] for (n, m), v in summary["metrics"].items()
               if n.startswith(node) and m == name)


# ----------------------------------------- streaming checkpoint-log reader


def read_source_log(ckpt: Path) -> dict[str, list[int]]:
    """file name -> batch ids it was listed in, from the file source's
    metadata log (`sources/0/<id>` and compacted `<id>.compact` files:
    a "v1" header line, then one JSON entry per file)."""
    seen: dict[str, set[int]] = {}
    d = ckpt / "sources" / "0"
    if not d.is_dir():
        return {}
    for f in d.iterdir():
        if f.name.startswith(".") or f.name.endswith(".tmp"):
            continue
        for line in f.read_text().splitlines()[1:]:
            if not line.strip():
                continue
            e = json.loads(line)
            name = os.path.basename(e["path"])
            seen.setdefault(name, set()).add(int(e["batchId"]))
    return {k: sorted(v) for k, v in seen.items()}


def read_commits(ckpt: Path) -> dict[int, float]:
    """batch id -> commit time (mtime of `commits/<id>`)."""
    d = ckpt / "commits"
    if not d.is_dir():
        return {}
    return {int(f.name): f.stat().st_mtime for f in d.iterdir()
            if f.name.isdigit()}


def file_lags(drops: dict[str, float], ckpt: Path) -> dict:
    """Per dropped file: the commit time of the batch that listed it
    minus its rename time. Also reports files listed by more than one
    batch and dropped files no committed batch listed."""
    listed = read_source_log(ckpt)
    commits = read_commits(ckpt)
    lags, missing, twice = {}, [], []
    for name, t in drops.items():
        batches = [b for b in listed.get(name, []) if b in commits]
        if len(listed.get(name, [])) > 1:
            twice.append(name)
        if not batches:
            missing.append(name)
            continue
        lags[name] = commits[batches[0]] - t
    return {"lags": lags, "missing": sorted(missing), "twice": sorted(twice),
            "batch_of": {k: v[0] for k, v in listed.items() if v}}


def wait_for(pred, timeout: float, period: float = 0.05) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if pred():
            return True
        time.sleep(period)
    return pred()
