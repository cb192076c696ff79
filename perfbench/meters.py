"""Outside-in meters for the benchmark.

- Process-tree CPU from ``/proc``: utime + stime + cutime + cstime of the
  Python driver, the Spark JVM and every Python worker below it.  Spark's
  ``executorCpuTime`` leaves out Python worker CPU, so this is the only
  source for the ``py_cpu_s`` figures.
- Host steal from the ``cpu`` line of ``/proc/stat``.
- Spark's own stage metrics (status store) and SQL metrics (SQL status
  store), read over py4j after the run.  Both stores are filled with the
  UI disabled.
"""

from __future__ import annotations

import os
import re

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces or parens: fields resume after the last ')'
        rest = raw[raw.rindex(b")") + 2 :].split()
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(name)] = (int(rest[1]), ticks / CLK_TCK)
    return out


def _descendants(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


class ProcTree:
    """CPU seconds of the driver's process tree, split by role."""

    def __init__(self, driver_pid: int, jvm_pid: int | None = None):
        self.driver_pid = driver_pid
        self.jvm_pid = jvm_pid

    def sample(self) -> dict[str, float]:
        stats = _proc_stats()
        cpu = lambda pids: sum(stats[p][1] for p in pids if p in stats)  # noqa: E731
        driver = cpu([self.driver_pid])
        total = driver + cpu(_descendants(stats, self.driver_pid))
        jvm = cpu([self.jvm_pid]) if self.jvm_pid else 0.0
        py = cpu(_descendants(stats, self.jvm_pid)) if self.jvm_pid else 0.0
        return {"cpu_s": total, "driver_cpu_s": driver, "jvm_cpu_s": jvm, "py_cpu_s": py}

    def pids(self) -> list[int]:
        return _descendants(_proc_stats(), self.driver_pid)


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) summed over every CPU of the host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


# ---------------------------------------------------------------------------
# Spark status stores (py4j)
# ---------------------------------------------------------------------------

def _seq(x) -> list:
    """A py4j Scala Seq as a Python list."""
    return [x.apply(i) for i in range(x.size())]


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9.]+)\s*([A-Za-z]+)")
SQL_METRICS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to run Python workers": "py_run_s",
    "time to initialize Python workers": "py_init_s",
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: '0 ms', '2.4 MiB', or
    'total (min, med, max ...)\\n11.5 s (...)' -> bytes or seconds."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1)), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def spark_metrics_by_group(spark) -> dict[str, dict[str, float]]:
    """Stage and SQL metrics summed per job group over the whole session."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for job in _seq(store.jobsList(None)):
        group = job.jobGroup()
        if group.isDefined():
            job_group[job.jobId()] = group.get()
            for sid in _seq(job.stageIds()):
                stage_group[int(sid)] = group.get()

    out: dict[str, dict[str, float]] = {}

    def add(group, key, value):
        row = out.setdefault(group, {})
        row[key] = row.get(key, 0.0) + value

    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
        group = stage_group.get(st.stageId())
        if group is None:
            continue
        add(group, "tasks", st.numCompleteTasks())
        add(group, "shuffle_write_bytes", st.shuffleWriteBytes())
        add(group, "shuffle_read_bytes", st.shuffleReadBytes())

    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql.executionsList()):
        jobs = [int(j) for j in ex.jobs().keys().mkString(",").split(",") if j]
        groups = {job_group[j] for j in jobs if j in job_group}
        if len(groups) != 1:
            continue
        group = groups.pop()
        # entries render as "SQLPlanMetric(name,accumulatorId,metricType)"
        names = {}
        for entry in filter(None, ex.metrics().mkString("\x01").split("\x01")):
            name, acc, _ = entry[entry.find("(") + 1 : -1].rsplit(",", 2)
            if name in SQL_METRICS:
                names[int(acc)] = SQL_METRICS[name]
        if not names:
            continue
        # one py4j call: entries render as "accumulatorId -> formatted value"
        entries = sql.executionMetrics(ex.executionId()).mkString("\x01")
        for entry in filter(None, entries.split("\x01")):
            acc, _, text = entry.partition(" -> ")
            if acc.strip().isdigit() and int(acc) in names:
                add(group, names[int(acc)], parse_sql_metric(text))
    return out
