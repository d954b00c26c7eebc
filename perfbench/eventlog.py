"""Stdlib-only reader for Spark event logs written as plain JSON lines.

A session started with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``
writes one JSON object per line.  This module folds the job, stage and task
events of such a log into per-group totals:

* by **job description** (``spark.job.description``, which the span
  recorder in :mod:`perfbench.spans` sets to the active span path);
* by **stage RDD scope** (the physical operator names a stage ran, e.g.
  ``MapInPandas``, ``MapInArrow``, ``ArrowEvalPython``, ``Window``).

For every group it reports executor run and CPU time, shuffle bytes read and
written, spill, task count, the max/median task run time, the shuffle
records each task read, the Python worker run time and the bytes sent to and
returned from Python workers.
:func:`driver_gap` splits a wall-clock window (a crawl wave) into the time
covered by at least one running job and the driver-side gap between them.

Run as a script to print a summary of one log::

    python3 perfbench/eventlog.py <event-log-file>
"""

from __future__ import annotations

import gzip
import json
import statistics
import sys
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
# the physical operators of Spark 4.1 that run Python workers
PYTHON_OPS = frozenset({
    "ArrowEvalPython", "BatchEvalPython", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow", "ArrowAggregatePython", "ArrowWindowPython",
})


@dataclass
class Task:
    run_s: float
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    py_run_s: float
    py_bytes: int
    records_in: int


@dataclass
class Stage:
    stage_id: int
    scopes: frozenset = frozenset()
    tasks: list = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    description: str
    start_s: float
    end_s: float | None
    stage_ids: tuple


@dataclass
class Totals:
    """Task-metric totals over one group of stages."""

    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    py_run_s: float = 0.0
    py_bytes: int = 0
    task_run: list = field(default_factory=list)
    task_records_in: list = field(default_factory=list)

    def add(self, t: Task) -> None:
        self.tasks += 1
        self.run_s += t.run_s
        self.cpu_s += t.cpu_s
        self.shuffle_read += t.shuffle_read
        self.shuffle_write += t.shuffle_write
        self.spill += t.spill
        self.py_run_s += t.py_run_s
        self.py_bytes += t.py_bytes
        self.task_run.append(t.run_s)
        self.task_records_in.append(t.records_in)

    @property
    def task_skew(self) -> float:
        """max / median task run time (1.0 = perfectly even)."""
        if not self.task_run:
            return 0.0
        med = statistics.median(self.task_run)
        return max(self.task_run) / med if med > 0 else 0.0


def _accum(task_info: dict) -> dict:
    out = {}
    for a in task_info.get("Accumulables", ()):
        name, upd = a.get("Name"), a.get("Update")
        if name in (PY_RUN, PY_SENT, PY_RECV) and upd is not None:
            out[name] = out.get(name, 0) + int(upd)
    return out


def _open(path: str):
    if path.endswith(".gz"):
        return gzip.open(path, "rt", encoding="utf-8")
    return open(path, encoding="utf-8")


class EventLog:
    """Jobs, stages and tasks of one application's event log."""

    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.stage_job: dict[int, int] = {}

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with _open(path) as f:
            for line in f:
                # cheap pre-filter: the SQL plan events dominate the file
                # and carry nothing this reader uses
                if '"SparkListenerJob' not in line and \
                        '"SparkListenerStage' not in line and \
                        '"SparkListenerTaskEnd"' not in line:
                    continue
                log._event(json.loads(line))
        return log

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = Job(
                jid, props.get("spark.job.description") or "",
                e["Submission Time"] / 1000.0, None, tuple(e["Stage IDs"]))
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_s = e["Completion Time"] / 1000.0
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            scopes = set()
            for rdd in info.get("RDD Info", ()):
                raw = rdd.get("Scope")
                if raw:
                    try:
                        scopes.add(json.loads(raw)["name"].strip())
                    except (ValueError, KeyError):
                        pass
            st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.scopes = st.scopes | frozenset(scopes)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                return
            acc = _accum(e.get("Task Info") or {})
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            sid = e["Stage ID"]
            self.stages.setdefault(sid, Stage(sid)).tasks.append(Task(
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                shuffle_read=rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0),
                shuffle_write=wr.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                py_run_s=acc.get(PY_RUN, 0) / 1000.0,
                py_bytes=acc.get(PY_SENT, 0) + acc.get(PY_RECV, 0),
                records_in=rd.get("Total Records Read", 0),
            ))

    # -- grouping -------------------------------------------------------------
    def description_of(self, stage_id: int) -> str:
        jid = self.stage_job.get(stage_id)
        return self.jobs[jid].description if jid is not None else ""

    def totals(self, description=None, scope=None) -> Totals:
        """Task totals over the stages whose job description satisfies
        ``description`` and whose RDD scopes satisfy ``scope``.  Each filter
        is a string (description: prefix match; scope: exact operator name)
        or a predicate; ``None`` matches everything."""
        if isinstance(description, str):
            prefix = description
            description = lambda d: d.startswith(prefix)  # noqa: E731
        if isinstance(scope, str):
            name = scope
            scope = lambda s: name in s  # noqa: E731
        out = Totals()
        for sid, st in self.stages.items():
            if description is not None and not description(self.description_of(sid)):
                continue
            if scope is not None and not scope(st.scopes):
                continue
            for t in st.tasks:
                out.add(t)
        return out

    def by_description(self) -> dict[str, Totals]:
        groups: dict[str, Totals] = {}
        for sid, st in self.stages.items():
            g = groups.setdefault(self.description_of(sid), Totals())
            for t in st.tasks:
                g.add(t)
        return groups

    def by_scope(self) -> dict[str, Totals]:
        """Each stage counts once under every operator scope it ran."""
        groups: dict[str, Totals] = {}
        for st in self.stages.values():
            for name in st.scopes:
                g = groups.setdefault(name, Totals())
                for t in st.tasks:
                    g.add(t)
        return groups

    def jobs_in(self, start_s: float, end_s: float) -> list[Job]:
        """Jobs submitted inside the wall-clock window [start_s, end_s]."""
        return [j for j in self.jobs.values() if start_s <= j.start_s <= end_s]


def only_python_op(name: str):
    """A scope predicate for :meth:`EventLog.totals`: stages that ran
    ``name`` and no other Python operator, so their Python worker time is
    ``name``'s alone."""
    def pred(scopes) -> bool:
        return name in scopes and not (set(scopes) & PYTHON_OPS) - {name}
    return pred


def driver_gap(log: EventLog, start_s: float, end_s: float) -> dict:
    """Split the window [start_s, end_s] into time covered by at least one
    running job and the driver gap (no job running).  ``covered_s +
    gap_s == wall_s`` by construction."""
    iv = []
    for j in log.jobs.values():
        a = max(j.start_s, start_s)
        b = min(j.end_s if j.end_s is not None else end_s, end_s)
        if b > a:
            iv.append((a, b))
    iv.sort()
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    wall = end_s - start_s
    return {"wall_s": wall, "covered_s": covered, "gap_s": wall - covered,
            "jobs": len(log.jobs_in(start_s, end_s))}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        return 2
    log = EventLog.read(argv[1])
    print(f"jobs {len(log.jobs)}  stages {len(log.stages)}")
    for title, groups in (("by job description", log.by_description()),
                          ("by stage RDD scope", log.by_scope())):
        print(f"\n{title}:")
        print(f"  {'group':48s} {'tasks':>6s} {'run_s':>8s} {'cpu_s':>8s} "
              f"{'shufR_MB':>9s} {'shufW_MB':>9s} {'spill_MB':>9s} "
              f"{'py_s':>7s} {'py_MB':>7s} {'skew':>6s}")
        for name, t in sorted(groups.items(), key=lambda kv: -kv[1].run_s):
            print(f"  {name[-48:] or '(none)':48s} {t.tasks:6d} {t.run_s:8.2f} "
                  f"{t.cpu_s:8.2f} {t.shuffle_read / 1e6:9.2f} "
                  f"{t.shuffle_write / 1e6:9.2f} {t.spill / 1e6:9.2f} "
                  f"{t.py_run_s:7.2f} {t.py_bytes / 1e6:7.2f} "
                  f"{t.task_skew:6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
