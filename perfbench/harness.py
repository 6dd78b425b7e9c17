"""Session pinning, process sampling, Spark status-store reads and spans.

Everything the benchmark measures about the program comes through this
module, and none of it instruments the program itself:

- process CPU and resident memory of the Spark JVM and its Python workers
  are read from ``/proc`` (the benchmark's own interpreter is excluded);
- per-job shuffle/input/output/spill bytes and task CPU are read from
  Spark's status store after an operation, with no extra Spark action;
- spans are recorded by the benchmark around the calls it makes into the
  program, kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0


def work_dir(root: Path) -> Path:
    """All files a run writes live under the checkout's ``.bench_build``."""
    return root / ".bench_build" / "perfbench"


def session_settings(work: Path) -> dict:
    """Every session setting the measurement depends on, pinned here so a
    stray ``SPARK_GRAFT_*`` environment cannot change the program being
    measured (``get_spark`` would otherwise default to a 48g driver and
    ``local[*]``). Printed with every run record."""
    cores = min(4, len(os.sched_getaffinity(0)))
    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": 4,
        "conf": {
            "spark.driver.memory": "1g",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata file under /tmp: a run writes only in its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
        "env": {
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
            # the launcher JVM spark-submit starts first: no hsperfdata either
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        },
    }


def pin_environment(root: Path, settings: dict) -> None:
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update(settings["env"])
    # Python workers are forked by the JVM and import the package by name
    os.environ["PYTHONPATH"] = str(root)
    for d in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        Path(settings["env"][d]).mkdir(parents=True, exist_ok=True)


# -- /proc sampling -----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces or parentheses: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _proc_cpu(pid: int) -> tuple[str, float] | None:
    """(comm, user+sys seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    comm = stat[stat.index(b"(") + 1 : stat.rindex(b")")].decode(errors="replace")
    fields = stat[stat.rindex(b")") + 2 :].split()
    # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
    ticks = sum(int(x) for x in fields[11:15])
    return comm, ticks / CLK_TCK


def cpu_sample() -> dict[str, float]:
    """CPU seconds so far of the JVM and of its Python workers. A worker
    that exits is reaped by its parent, whose ``cutime`` then carries it,
    so the sums are monotone across worker churn."""
    jvm = py = 0.0
    for pid in descendants():
        got = _proc_cpu(pid)
        if got is None:
            continue
        comm, sec = got
        if comm.startswith("python") or comm.startswith("pyspark"):
            py += sec
        else:
            jvm += sec
    return {"jvm": jvm, "python": py, "total": jvm + py}


def rss_hwm_mb() -> float:
    """Sum of VmHWM (per-process resident high-water mark) over the JVM and
    its Python workers alive now."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests while this
    host's CPUs wanted to run (``steal`` of the ``cpu`` line in
    ``/proc/stat``), summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


# -- Spark status store -------------------------------------------------------


class StatusStore:
    """Reads finished jobs and their stages from Spark's own status store
    (the data behind the web UI, kept even with the UI disabled). Reading
    it runs no Spark job."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self.next_job = 0
        self._seen_stages: set[int] = set()

    def drain(self) -> list[dict]:
        """Jobs submitted since the last call, each with the summed metrics
        of the stages it ran (a stage shared with an earlier job is counted
        once, on the job that ran it)."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = []
        from py4j.protocol import Py4JJavaError

        while True:
            try:
                j = self._store.job(self.next_job)
            except Py4JJavaError:
                break
            self.next_job += 1
            sub = j.submissionTime()
            rec = {
                "job_id": int(j.jobId()),
                "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "task_cpu_s": 0.0,
                "shuffle_write_mb": 0.0,
                "input_mb": 0.0,
                "output_mb": 0.0,
                "spill_mb": 0.0,
            }
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.numTasks() == 0 or str(st.status().toString()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                rec["task_cpu_s"] += st.executorCpuTime() / 1e9
                rec["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                rec["input_mb"] += st.inputBytes() / MB
                rec["output_mb"] += st.outputBytes() / MB
                rec["spill_mb"] += st.diskBytesSpilled() / MB
            jobs.append(rec)
        return jobs


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent id, plus
    the Python-worker CPU reading at each boundary. Written out by
    ``dump`` when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "parent": parent,
                "start": time.time(),
                "end": None,
                "py_cpu0": cpu_sample()["python"] if self.enabled else None,
                "py_cpu1": None,
                **attrs,
            }
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int, end: float | None = None) -> None:
        sp = self.spans[sid]
        sp["end"] = time.time() if end is None else end
        if self.enabled:
            sp["py_cpu1"] = cpu_sample()["python"]
        while self._stack and self._stack[-1] != sid:
            self._stack.pop()
        if self._stack:
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """A span whose boundaries were observed, not bracketed."""
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "start": start, "end": end,
             "py_cpu0": None, "py_cpu1": None, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self.open(name, **attrs)
        try:
            yield sid
        finally:
            self.close(sid)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        sp = self.spans[sid]
        kids = sum(k["end"] - k["start"] for k in self.children(sid))
        return (sp["end"] - sp["start"]) - kids

    def check_nesting(self, sid: int, tol: float = 1e-3) -> list[str]:
        """Problems with the span tree under ``sid``: a child that starts
        before or ends after its parent, siblings that overlap, a negative
        self time. Self times add up to the root's wall only when none of
        these holds (``tol`` seconds of slack for clock reads)."""
        problems = []
        sp = self.spans[sid]
        kids = sorted(self.children(sid), key=lambda k: k["start"])
        for k in kids:
            if k["start"] < sp["start"] - tol or k["end"] > sp["end"] + tol:
                problems.append(f"span {k['name']} lies outside its parent {sp['name']}")
        for a, b in zip(kids, kids[1:]):
            if b["start"] < a["end"] - tol:
                problems.append(f"spans {a['name']} and {b['name']} overlap")
        if self.self_time(sid) < -tol:
            problems.append(f"span {sp['name']} has negative self time")
        for k in kids:
            problems += self.check_nesting(k["id"], tol)
        return problems

    def innermost(self, t: float, within: int) -> int:
        """Deepest span under ``within`` that was open at time ``t``."""
        best = within
        for s in self.spans:
            if s["start"] <= t < s["end"] and self._is_under(s["id"], within):
                if self._depth(s["id"]) > self._depth(best):
                    best = s["id"]
        return best

    def _depth(self, sid: int) -> int:
        d = 0
        while self.spans[sid]["parent"] is not None:
            sid = self.spans[sid]["parent"]
            d += 1
        return d

    def _is_under(self, sid: int, root: int) -> bool:
        while sid is not None:
            if sid == root:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def attribute_jobs(self, op_sid: int, jobs: list[dict]) -> None:
        """Charge each Spark job to the span open when it was submitted."""
        for j in jobs:
            if j["submit"] is None:
                continue
            sid = self.innermost(j["submit"], op_sid)
            self.spans[sid].setdefault("jobs", []).append(j)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0
