"""Outside-in tracing for the benchmark.

Nothing here changes engine code. The traced run wraps public calls in
spans, tags the Spark jobs that start inside a span with that span, and
reads per-job executor metrics back from the JVM status store (which works
with the UI disabled). Layer busy time is the UNION of a layer's span
intervals: the crawl round commits four tables concurrently, so summing
their durations double-counts the overlap.

Job attribution, in order:

1. a job carrying a ``pb:<span id>`` tag belongs to the innermost tagged
   span. Tags are thread-local, so the wrapper sets them in the calling
   thread; jobs of the round's commit-pool threads are tagged by the
   wrappers that run in those threads;
2. untagged jobs are grouped into their SQL execution (Spark's
   ``execution-root-id`` tag) and named by Spark's own call site, e.g.
   ``localCheckpoint`` for the round's ``selected`` and ``fetched``
   checkpoints.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
from dataclasses import dataclass

_EXEC_ROOT = "-execution-root-id-"
_TAG_PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str


class Tracer:
    """Records spans in memory; optional Spark job tagging once ``sc`` is set.

    Spans opened on a thread with no open span of its own take the
    innermost open span of the main thread as parent, so the commit-pool
    threads' commits nest under the round that started them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.main_thread()
        self._patched: list[tuple[object, str, object]] = []
        # span name -> (args, result) of its latest call, for wrappers
        # installed with capture=True (counted after the timed unit)
        self.captured: dict[str, tuple] = {}

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        sid = next(self._ids)
        tag = f"{_TAG_PREFIX}{sid}"
        sc = self.sc
        if sc is not None:
            sc.addJobTag(tag)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            if sc is not None:
                sc.removeJobTag(tag)
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, threading.current_thread().name)
                )

    def wrap(self, owner, attr: str, name_fn, capture: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper running it inside a span
        named ``name_fn(args)``; ``unwrap_all`` restores the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = name_fn(args)
            with self.span(name):
                out = orig(*args, **kwargs)
            if capture:
                self.captured[name] = (args, out)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the engine's public layer boundaries (the round itself is
    spanned by the caller): every SnapshotTable commit and read, the table
    tier's end-of-round flush, and the two image-pipeline stages."""
    from web_crawler_spark.operators import membership, multimodal, textdedup
    from web_crawler_spark.sources.lake import SnapshotTable

    for op in ("read", "append", "overwrite", "append_local", "overwrite_local"):
        tracer.wrap(
            SnapshotTable, op,
            lambda a, op=op: f"lake.{os.path.basename(a[0].path)}.{op}",
        )
    tracer.wrap(membership.TableSeenTiers, "end_round", lambda a: "membership.end_round")
    tracer.wrap(multimodal, "phash_table", lambda a: "phash_table", capture=True)
    tracer.wrap(textdedup, "connected_components", lambda a: "components", capture=True)


# ---------------------------------------------------------------- intervals


def union_s(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# -------------------------------------------------------------- status store


@dataclass
class Job:
    id: int
    name: str
    tags: list[str]
    start: float
    end: float
    stage_ids: list[int]
    num_tasks: int

    @property
    def execution(self) -> str | None:
        for t in self.tags:
            if _EXEC_ROOT in t:
                return t
        return None

    def span_ids(self) -> list[int]:
        return [int(t[len(_TAG_PREFIX):]) for t in self.tags if t.startswith(_TAG_PREFIX)]


STAGE_FIELDS = (
    "run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "records_in", "records_out",
)


def drain_listener(sc) -> None:
    """The status store is fed asynchronously by the listener bus; wait
    until every finished job's events have landed before reading it."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def jobs_after(sc, last_id: int) -> list[Job]:
    """Completed jobs with id > last_id, oldest first."""
    store = sc._jsc.sc().statusStore()
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= last_id:
            continue
        sub, comp = j.submissionTime(), j.completionTime()
        start = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        end = comp.get().getTime() / 1000.0 if comp.isDefined() else start
        out.append(
            Job(
                j.jobId(), j.name(),
                [t for t in j.jobTags().mkString("\u0001").split("\u0001") if t],
                start, end,
                [int(s) for s in j.stageIds().mkString(",").split(",") if s],
                j.numTasks(),
            )
        )
    return sorted(out, key=lambda j: j.id)


def stage_metrics(sc, stage_ids) -> dict[str, float]:
    """Executor metrics summed over every attempt of the given stages."""
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    no_status = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    acc = dict.fromkeys(STAGE_FIELDS, 0.0)
    mb = 1024.0 * 1024.0
    for sid in set(stage_ids):
        try:
            seq = store.stageData(sid, False, no_status, False, no_quantiles)
        except Exception:  # evicted from the store (retainedStages)
            continue
        it = seq.iterator()
        while it.hasNext():
            st = it.next()
            acc["run_s"] += st.executorRunTime() / 1e3
            acc["cpu_s"] += st.executorCpuTime() / 1e9
            acc["gc_s"] += st.jvmGcTime() / 1e3
            acc["shuffle_read_mb"] += st.shuffleReadBytes() / mb
            acc["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
            acc["spill_mb"] += st.diskBytesSpilled() / mb
            acc["records_in"] += st.inputRecords()
            acc["records_out"] += st.outputRecords()
    return acc


def call_site(jobs: list[Job]) -> str:
    """Spark's call site of an execution: the action's job name (AQE
    stage and broadcast jobs carry an anonymous-function name)."""
    for j in reversed(jobs):
        if not j.name.startswith("$anonfun"):
            return j.name.split(" at ", 1)[0]
    return jobs[-1].name.split(" at ", 1)[0]


# ------------------------------------------------------------ host sampling


def _proc_table():
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                tail = f.read().rsplit(")", 1)[1].split()
            procs[int(pid)] = (int(tail[1]), tail)
        except (OSError, IndexError):
            continue
    return procs


def own_tree(procs=None) -> list[int]:
    """This process and every live descendant (JVM, Python workers)."""
    procs = procs if procs is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def stop_tree(timeout_s: float = 60.0) -> None:
    """Wait until this process has no live descendants; terminate any
    still there when the timeout runs out."""
    import signal

    deadline = time.time() + timeout_s
    while True:
        rest = [p for p in own_tree() if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5.0
        try:  # reap our own exited children
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def tree_pss_mb() -> float:
    """Summed resident memory of the process tree, counted as PSS: pages
    shared between processes (the forked Python workers share most of
    theirs with the worker daemon) are split between them instead of
    being counted once per process."""
    total_kb = 0
    for pid in own_tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024.0


def total_busy_jiffies() -> int:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals) - vals[3] - vals[4]  # all but idle + iowait


def steal_jiffies() -> int:
    """Host-wide time the hypervisor ran something else on this
    machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def own_tree_jiffies() -> int:
    """utime+stime+cutime+cstime of the process tree; cutime/cstime keep
    the CPU of Python workers that were reaped inside the window."""
    procs = _proc_table()
    total = 0
    for pid in own_tree(procs):
        tail = procs.get(pid, (0, None))[1]
        if tail is not None:
            total += sum(int(x) for x in tail[11:15])
    return total


class MemSampler:
    """Background sampler of the process tree's peak resident memory."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, tree_pss_mb())

    def __enter__(self):
        self.peak_mb = tree_pss_mb()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------- attribution


def descendants(spans: list[Span], root: int) -> list[Span]:
    """Spans whose parent chain reaches ``root`` (``root`` excluded)."""
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s.id)
    return out


def attribute(jobs: list[Job], spans: list[Span], unit: Span, roles: dict) -> dict[str, list[Job]]:
    """Layer name -> jobs. A job inside a child span of the unit belongs
    to its innermost such span; the rest go, per SQL execution in
    submission order, to ``roles[call_site][k]`` for the k-th execution
    with that call site, or to the call site itself."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def _depth(sid: int) -> int:
        if sid not in depth:
            p = by_id[sid].parent if sid in by_id else None
            depth[sid] = 0 if p is None else _depth(p) + 1
        return depth[sid]

    out: dict[str, list[Job]] = {}
    executions: dict[str, list[Job]] = {}
    for j in jobs:
        inner = [s for s in j.span_ids() if s in by_id and s != unit.id]
        if inner:
            out.setdefault(by_id[max(inner, key=_depth)].name, []).append(j)
        else:
            executions.setdefault(j.execution or f"job-{j.id}", []).append(j)
    seen: dict[str, int] = {}
    for ex in sorted(executions.values(), key=lambda js: js[0].id):
        site = call_site(ex)
        k = seen.get(site, 0)
        seen[site] = k + 1
        names = roles.get(site, [])
        out.setdefault(names[k] if k < len(names) else site, []).extend(ex)
    return out


def unit_layers(sc, tracer: Tracer, unit: Span, jobs: list[Job], roles: dict) -> dict:
    """Per-layer figures of one timed unit (a crawl round or image pass)."""
    lo, hi = unit.start, unit.end
    wall = hi - lo
    desc = descendants(tracer.spans, unit.id)
    child_iv = [(s.start, s.end) for s in desc if s.parent == unit.id]
    busy_children = union_s(clip(child_iv, lo, hi))
    by_name: dict[str, list[tuple[float, float]]] = {}
    for s in desc:
        by_name.setdefault(s.name, []).append((s.start, s.end))
    layers = attribute(jobs, tracer.spans, unit, roles)
    stages = {
        name: stage_metrics(sc, [sid for j in js for sid in j.stage_ids])
        for name, js in layers.items()
    }
    total = stage_metrics(sc, [sid for j in jobs for sid in j.stage_ids])
    return {
        "wall_s": wall,
        "self_s": wall - busy_children,
        # > 0 only when a child span sticks out of its unit
        "reconcile_err": abs(union_s(child_iv) + (wall - busy_children) - wall) / wall,
        "children_sum_s": sum(e - s for s, e in child_iv),
        "driver_s": wall - union_s(clip([(j.start, j.end) for j in jobs], lo, hi)),
        "jobs": len(jobs),
        "tasks": sum(j.num_tasks for j in jobs),
        "busy": {n: union_s(clip(iv, lo, hi)) for n, iv in by_name.items()},
        "calls": {n: len(iv) for n, iv in by_name.items()},
        "layer_jobs": {n: len(js) for n, js in layers.items()},
        "stages": stages,
        "total": total,
    }
