"""Measurement plumbing shared by every workload: the Spark session and its
teardown, spans, Spark status-store readers, process-tree RSS and host
noise stamps.

Nothing here changes what the program does.  Per-layer numbers come from
two places only: timing calls into the program's public functions, and
reading what Spark already records (the core status store for jobs, stages
and tasks; the SQL status store for per-node metrics such as the Python
worker times).
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans ``(name, start, end, parent, pass_id)``; written out
    once, when the run ends.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, pass_id=None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": pass_id,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0


# --------------------------------------------------------------------------
# process-tree memory and host noise


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss() -> dict[str, float]:
    """RSS in MiB of this process and all its descendants — the JVM it
    launched and the JVM's Python workers — keyed ``"<pid>:<command>"``."""
    kids = _children_map()
    todo, out = [os.getpid()], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmRSS" in fields:
            name = fields.get("Name", "?").strip()
            out[f"{pid}:{name}"] = int(fields["VmRSS"].split()[0]) / 1024.0
    return out


class Noise:
    """Host-noise stamps: hypervisor steal over the run, 1-minute load at
    start and its maximum, CPUs used.  Sampled at the same points as RSS."""

    def __init__(self, cpus: int):
        from bench import _cpu_jiffies

        self._jiffies = _cpu_jiffies
        self.cpus = cpus
        self.start_jiffies = _cpu_jiffies()
        self.load_start = os.getloadavg()[0]
        self.load_max = self.load_start
        self.peak_rss_mb = 0.0
        self.peak_rss_parts: dict[str, float] = {}

    def sample(self) -> None:
        self.load_max = max(self.load_max, os.getloadavg()[0])
        rss = tree_rss()
        total = sum(rss.values())
        if total > self.peak_rss_mb:
            self.peak_rss_mb, self.peak_rss_parts = total, rss

    def stamp(self) -> dict:
        end = self._jiffies()
        steal = None
        if self.start_jiffies and end:
            steal = 100.0 * (end[0] - self.start_jiffies[0]) / max(
                1, end[1] - self.start_jiffies[1]
            )
        return {
            "steal_pct": steal,
            "load_start": self.load_start,
            "load_max": self.load_max,
            "cpus": self.cpus,
            "peak_rss_parts_mb": self.peak_rss_parts,
        }


# --------------------------------------------------------------------------
# session


def build_session(cpus: int, work_dir: str):
    """The engine's own session factory on ``local[cpus]``; the warehouse
    goes under ``work_dir`` (the run's environment places the rest)."""
    from tsdisagg_spark.spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM (and
    with it every Python worker) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — teardown continues regardless
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# Spark status stores

#: SQL-metric names of the Python-worker plan nodes (FlatMapGroupsInPandas,
#: MapInPandas, ArrowEvalPython) -> per-layer metric suffix
PY_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float | None:
    """Total of a formatted SQL metric (``'14.9 s (3.2 s, ...)'`` after a
    ``total (min, med, max ...)`` header line, or a bare ``'0 ms'``) in
    seconds or bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2), 1.0)


class SparkStatus:
    """Reads jobs, stages, tasks and SQL node metrics for one job group
    out of Spark's status stores (they work with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._execs: list[tuple[object, set[int]]] = []

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def group_metrics(self, group: str) -> dict:
        jobs = self.jobs(group)
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "task_max_over_mean": 1.0,
        }
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        busiest = None
        for sid in sorted(stage_ids):
            try:
                sd = self.core.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            if str(sd.status().toString()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            run_s = sd.executorRunTime() / 1e3
            out["task_run_s"] += run_s
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            if busiest is None or run_s > busiest[0]:
                busiest = (run_s, sid, sd.attemptId(), sd.numCompleteTasks())
        if busiest and busiest[3] > 0 and busiest[0] > 0:
            # the busiest stage is the grouped-kernel stage wherever one runs
            tl = self.core.taskList(busiest[1], busiest[2], busiest[3])
            runs = []
            for i in range(tl.size()):
                tm = tl.apply(i).taskMetrics()
                if tm.isDefined():
                    runs.append(tm.get().executorRunTime())
            if runs and sum(runs) > 0:
                out["task_max_over_mean"] = max(runs) / (sum(runs) / len(runs))
        out.update(self.python_metrics(set(jobs)))
        return out

    def _executions(self) -> list[tuple[object, set[int]]]:
        """(execution, its job ids) for every SQL execution so far; only
        executions added since the last call cross the gateway."""
        n = self.sql.executionsCount()
        if n > len(self._execs):
            new = self.sql.executionsList(len(self._execs), n - len(self._execs))
            for i in range(new.size()):
                ex = new.apply(i)
                keys = ex.jobs().keys().mkString(",")
                self._execs.append((ex, {int(j) for j in keys.split(",") if j}))
        return self._execs

    def python_metrics(self, jobs: set[int]) -> dict:
        """Summed Python-node SQL metrics over the SQL executions whose
        jobs belong to ``jobs``."""
        out = {v: 0.0 for v in PY_METRICS.values()}
        if not jobs:
            return out
        for ex, ex_jobs in self._executions():
            if not ex_jobs & jobs:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            seen: set[int] = set()
            plan_metrics = ex.metrics()
            for k in range(plan_metrics.size()):
                pm = plan_metrics.apply(k)
                key = PY_METRICS.get(pm.name())
                acc = pm.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    parsed = parse_sql_metric(v.get())
                    if parsed is not None:
                        out[key] += parsed
        return out
