"""In-memory spans around calls into the package, Spark's own counters for
each span, plan counters, and the host/process readings of a run record.

A span is opened by the benchmark around one call into a layer. Each span
runs its Spark jobs under a job group of its own, so that after the op the
jobs, stages, tasks, executor time and shuffle bytes of that call can be read
from Spark's status store. Nothing here runs inside the timed region except
opening and closing spans, and only in a traced run.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ms", "shuffle_bytes", "driver_ms",
)


class Tracer:
    """Records spans (name, start, end, parent, op id) while ``enabled``."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self.notes: list[dict] = []

    def note(self, name: str, **counts) -> None:
        """Attach counts measured outside a span's timed region to layer
        ``name`` for the current op."""
        if self.enabled:
            self.notes.append({"name": name, "op": self.op_id, "counts": counts})

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "group": f"perfbench-{len(self.spans)}",
            "counts": {},
        }
        self.spans.append(rec)
        self._pending.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1e3
            rec["end"] = rec["start"] + rec["wall_ms"] / 1e3
            rec["counts"]["wall_ms"] = rec["wall_ms"]
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def read_spark_counters(self) -> None:
        """Attach Spark's counters to every span closed since the last call.
        Called after an op, outside its timed region."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self._pending:
            c = dict.fromkeys(SPARK_COUNTERS, 0.0)
            intervals = []
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                c["jobs"] += 1
                job = store.job(jid)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append(
                        (
                            job.submissionTime().get().getTime() / 1e3,
                            job.completionTime().get().getTime() / 1e3,
                        )
                    )
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never submitted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["exec_run_ms"] += st.executorRunTime()
                    c["exec_cpu_ms"] += st.executorCpuTime() / 1e6
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
            c["driver_ms"] = max(
                0.0, rec["wall_ms"] - 1e3 * _covered(intervals, rec["start"], rec["end"])
            )
            rec["counts"].update(c)
        self._pending = []

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["wall_ms"] - 1e3 * _covered(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------ plans


def plan_nodes(df) -> int:
    """Node count of the optimized logical plan."""
    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    return sum(1 for line in tree.splitlines() if line.strip())


def arrow_eval_nodes(df, udf_name: str | None = None) -> int:
    """ArrowEvalPython nodes in the formatted physical plan, optionally only
    those that evaluate the Python function ``udf_name``."""
    return count_arrow_eval(
        df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"),
        udf_name,
    )


def count_arrow_eval(text: str, udf_name: str | None = None) -> int:
    """Count ArrowEvalPython nodes in a formatted plan. An executed adaptive
    plan, also one nested in a cached relation, prints its final and then
    its initial plan; nodes of an initial plan are not counted."""
    tree, _, details = text.partition("\n\n")
    ids, initial_col = set(), None
    for line in tree.splitlines():
        col = re.match(r"[ :|+-]*", line).end()
        if initial_col is not None and col >= initial_col:
            continue
        initial_col = col if "== Initial Plan ==" in line else None
        ids.update(re.findall(r"\((\d+)\)", line))
    n = 0
    for block in details.split("\n\n"):
        m = re.match(r"\((\d+)\) ArrowEvalPython", block.strip())
        if m and m.group(1) in ids:
            if udf_name is None or re.search(rf"Arguments: \[{re.escape(udf_name)}\(", block):
                n += 1
    return n


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


# ------------------------------------------------------ process and host


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, own and of reaped children) used so far by
    ``root_pid`` and every descendant alive now: the driver Python, the JVM
    and its Python workers. Time the hypervisor steals from this VM is not
    charged to any process, so this reading grows much less with host load
    than wall time does."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    todo, total = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        total += ticks.get(pid, 0)
    return total / _TICK


def tree_peak_rss_mb(root_pid: int) -> dict[str, list[float]]:
    """Peak resident set size (VmHWM, MB) of ``root_pid`` and every
    descendant alive now, by process name: the driver Python, the JVM and
    its Python workers."""
    kids = _children()
    todo, out = [root_pid], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out.setdefault(fields["Name"].strip(), []).append(int(fields["VmHWM"].split()[0]) / 1024.0)
    return out


def host_state() -> dict:
    """Load average, CPU pressure and the CPU time stolen from this VM
    (``/proc/stat``, in clock ticks), so a drifting host shows in the record."""
    out = {}
    try:
        with open("/proc/stat") as f:
            out["steal_ticks"] = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        out["steal_ticks"] = None
    for key, path in (("loadavg", "/proc/loadavg"), ("cpu_pressure", "/proc/pressure/cpu")):
        try:
            with open(path) as f:
                out[key] = " | ".join(line.strip() for line in f)
        except OSError:
            out[key] = None
    return out
