"""Tracing from outside the engine: spans around public engine calls, Spark
job groups per span, stage metrics read back from the JVM status store, and
a process-tree peak-memory (Pss) sampler.

A span records (id, parent id, name, start, end, thread). Every wrapped call
opens a span and sets the Spark job group of its thread to the span name, so
the status store later tells which jobs (and stages) each layer ran.

Two kinds of wrapper:
  * call   - the span covers the call; the cost is paid inside it
             (e.g. vocab_and_corpus_agg runs its aggregate jobs).
  * marker - for lazy plan constructors (build_runs, build_postings) whose
             cost lands in the NEXT actions of the same thread: the span and
             the job group stay open until the next traced call of that
             thread starts or its enclosing span ends. A marker's wall time
             is therefore measured from its jobs (submission -> completion),
             not from the span.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time


class Tracer:
    """Spans kept in memory; written out once, when the run ends."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root_thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        self.phase = "setup"  # tag copied into each span: setup/timed/check

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _current_root_span(self) -> dict | None:
        # a pool thread opened by the engine has an empty stack: parent its
        # spans to the innermost span open on the thread that started tracing
        with self._lock:
            for s in reversed(self.spans):
                if s["thread"] == self._root_thread and s["end"] is None and not s["marker"]:
                    return s
        return None

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group_id(span), span["name"])

    def _close_markers(self, stack: list[dict]) -> None:
        while stack and stack[-1]["marker"]:
            stack.pop()["end"] = time.perf_counter()

    def open(self, name: str, marker: bool = False, fn: str | None = None) -> dict:
        stack = self._stack()
        self._close_markers(stack)
        parent = stack[-1] if stack else self._current_root_span()
        span = {
            "id": None,
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "thread": threading.get_ident(),
            "marker": marker,
            "phase": self.phase,
            "fn": fn,
            "wall_start": time.time(),
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: dict) -> None:
        stack = self._stack()
        self._close_markers(stack)
        if stack and stack[-1] is span:
            stack.pop()
        span["end"] = now = time.perf_counter()
        # markers left open by engine pool threads end with their parent
        with self._lock:
            for s in self.spans:
                if s["parent"] == span["id"] and s["marker"] and s["end"] is None:
                    s["end"] = now
        self._set_group(stack[-1] if stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrappers ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str | None = None, marker: bool = False,
             name_fn=None) -> None:
        """Replace owner.attr (a module function or a class method) by a
        traced version. name_fn(args, kwargs) -> span name overrides name."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span_name = name_fn(args, kwargs) if name_fn else name
            s = tracer.open(span_name, marker=marker, fn=attr)
            if marker:
                return orig(*args, **kwargs)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.close(s)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- results -------------------------------------------------------------

    def finish(self) -> None:
        now = time.perf_counter()
        for s in self.spans:
            if s["end"] is None:
                s["end"] = now


def group_id(span: dict) -> str:
    """The Spark job group of a span: its name plus its id, so jobs can be
    attributed to one call as well as to its layer."""
    return f"{span['name']}#{span['id']}"


def layer_of(group: str | None) -> str:
    return group.split("#", 1)[0] if group else "(none)"


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of its interval covered by its
    children (children of one parent may overlap when they run on a thread
    pool, so the covered part is the union of their intervals)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- JVM status store -------------------------------------------------------

STAGE_FIELDS = (
    "executorRunTime",  # ms of task time
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "inputRecords",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numFailedTasks",
)


def _opt(o):
    return o.get() if o.isDefined() else None


def read_status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the driver's AppStatusStore. Jobs carry
    group, stage ids and submission/completion ms; stages carry
    STAGE_FIELDS. The store returns Scala Seqs, hence .apply(i)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        ids = j.stageIds()
        jobs.append({
            "job": j.jobId(),
            "group": _opt(j.jobGroup()),
            "stages": [ids.apply(k) for k in range(ids.size())],
            "submitted_ms": sub.getTime() if sub is not None else None,
            "completed_ms": done.getTime() if done is not None else None,
            "failed_tasks": j.numFailedTasks(),
        })
    stages: dict[int, dict] = {}
    seq = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    for i in range(seq.size()):
        s = seq.apply(i)
        row = {f: getattr(s, f)() for f in STAGE_FIELDS}
        row["status"] = str(s.status())
        # a stage retried under a new attempt id: keep the metrics summed
        prev = stages.get(s.stageId())
        if prev is not None:
            for f in STAGE_FIELDS:
                row[f] += prev[f]
        stages[s.stageId()] = row
    return jobs, stages


def aggregate_by_group(
    jobs: list[dict], stages: dict[int, dict], key=layer_of
) -> dict[str, dict]:
    """Per key(job group) - by default the layer name: job count, wall
    seconds covered by its jobs (union of submission->completion intervals),
    task seconds, shuffle/input/spill totals, failed tasks, and task seconds
    of the stages that read a shuffle (the post-exchange side, where query
    kernels run).

    A stage shared by several jobs of one key (a reused exchange) counts
    once."""
    out: dict[str, dict] = {}
    seen: dict[str, set] = {}
    spans: dict[str, list[tuple[int, int]]] = {}
    for j in jobs:
        g = key(j["group"])
        agg = out.setdefault(g, {
            "jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "input_records": 0,
            "spill_bytes": 0, "failed_tasks": 0,
            "post_shuffle_task_s": 0.0,
        })
        agg["jobs"] += 1
        agg["failed_tasks"] += j["failed_tasks"]
        if j["submitted_ms"] is not None and j["completed_ms"] is not None:
            spans.setdefault(g, []).append((j["submitted_ms"], j["completed_ms"]))
        for sid in j["stages"]:
            st = stages.get(sid)
            if st is None or sid in seen.setdefault(g, set()):
                continue
            seen[g].add(sid)
            agg["task_s"] += st["executorRunTime"] / 1000.0
            agg["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            agg["shuffle_read_bytes"] += st["shuffleReadBytes"]
            agg["input_records"] += st["inputRecords"]
            agg["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            if st["shuffleReadBytes"] > 0:
                agg["post_shuffle_task_s"] += st["executorRunTime"] / 1000.0
    for g, ivs in spans.items():
        wall, hi = 0, None
        for a, b in sorted(ivs):
            if hi is None or a > hi:
                wall += b - a
                hi = b
            elif b > hi:
                wall += b - hi
                hi = b
        out[g]["wall_s"] = wall / 1000.0
    for agg in out.values():
        agg.setdefault("wall_s", 0.0)
    return out


# -- memory -----------------------------------------------------------------

class RssSampler:
    """Peak memory of this process and all its descendants (driver JVM,
    Python workers): every `period` seconds, the sum over the live process
    tree of each process's proportional set size (Pss: a page shared by n
    processes, such as the forked Python workers' common pages, counts 1/n
    in each); the result is the largest such sum."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self.largest_at_peak_kb = 0  # the biggest process (the JVM) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    @staticmethod
    def tree_pss_kb(root: int) -> tuple[int, int]:
        """(sum, largest) of the current Pss over root and its descendants."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, largest, todo = 0, 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb = int(line.split()[1])
                            total += kb
                            largest = max(largest, kb)
                            break
            except OSError:
                continue
        return total, largest

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total, largest = self.tree_pss_kb(me)
            if total > self.peak_kb:
                self.peak_kb, self.largest_at_peak_kb = total, largest
            self._stop.wait(self.period)
