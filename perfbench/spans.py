"""Measurement plumbing that lives outside the library.

* ``ProcTree``: CPU seconds and resident memory (RSS) of this process and
  every descendant (the Spark JVM and its Python workers), read from
  ``/proc``; ``RssSampler`` keeps the peak of the summed memory in a thread.
* ``Tracer``: spans (name, layer, start, end, parent, run id) kept in memory
  and written as JSON lines when the run ends, plus a py4j round-trip
  counter.  Only the benchmark's own calls into the library are spanned.
* ``stage_records``: Spark's per-job and per-stage accounting read from the
  driver's status store after the work is done, and ``attribute`` to assign
  each job to the innermost span whose time window holds its submission.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import uuid

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """The process tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def parents(self) -> dict[int, int | None]:
        """Each process of the tree, parents before children, with its
        parent (``None`` for the root)."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out: dict[int, int | None] = {}
        todo: list[tuple[int, int | None]] = [(self.root, None)]
        while todo:
            pid, parent = todo.pop()
            out[pid] = parent
            todo.extend((c, pid) for c in children.get(pid, ()))
        return out

    def pids(self) -> list[int]:
        return list(self.parents())

    def rss(self) -> dict[int, int]:
        """Resident bytes of each live process in the tree.  ``statm`` reads
        the kernel's counters; ``smaps_rollup`` (PSS) walks every page table
        under the process's memory lock, which stalled the JVM enough to
        slow the timed calls when sampled twice a second.

        See ``own_resident`` for the children left out."""
        statm = {}
        for pid, parent in self.parents().items():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    statm[pid] = (fh.read(), parent)
            except OSError:
                pass
        return own_resident(statm)

    def cpu_s(self) -> float:
        """User + system CPU of live processes in the tree, plus what their
        reaped children used."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read()
            except OSError:
                continue
            fields = f[f.rindex(")") + 2:].split()
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / _TICK


def own_resident(statm: dict[int, tuple[str, int | None]]) -> dict[int, int]:
    """Resident bytes by pid from each process's ``statm`` text and parent.

    A child whose address space has exactly its parent's size shares the
    parent's pages (spawned and not yet exec'd, as the JVM's helper
    processes are for a moment while it writes files; or forked and not yet
    grown) and is left out: counting such a child once added the JVM's
    1.5 GB a second time to a run's peak.  The size is compared, not the
    resident count, because the parent's can change between the two reads."""
    return {pid: int(text.split()[1]) * _PAGE for pid, (text, parent) in statm.items()
            if parent not in statm or statm[parent][0].split()[0] != text.split()[0]}


class RssSampler:
    """Samples the tree's resident memory (summed RSS) every ``interval``
    seconds and keeps the largest sum, and the per-process sizes at that
    sample, from ``start()`` until ``stop()``."""

    def __init__(self, tree: ProcTree, interval: float = 0.5):
        self.tree, self.interval = tree, interval
        self.peak = 0
        self.at_peak: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        sizes = self.tree.rss()
        total = sum(sizes.values())
        if total > self.peak:
            self.peak, self.at_peak = total, sizes

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


class Py4jCounter:
    """Counts py4j commands sent to the JVM by patching the client class's
    ``send_command``.  ``itertools.count`` makes each increment atomic.

    The release of a JVM object whose Python proxy was garbage-collected is
    not counted: when it is sent depends on when Python's collector runs,
    so it moved the count by a few percent between identical calls."""

    def __init__(self):
        self._ticks = itertools.count()
        self._seen = 0

    def install(self, gateway) -> None:
        from py4j import protocol

        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        cls = type(gateway._gateway_client)
        orig = cls.send_command
        ticks = self._ticks

        def send_command(client, command, *a, **kw):
            if not command.startswith(release):
                next(ticks)
            return orig(client, command, *a, **kw)

        cls.send_command = send_command

    def read(self) -> int:
        """Commands sent so far (each read itself costs nothing: it is
        subtracted)."""
        n = next(self._ticks) - self._seen
        self._seen += 1
        return n


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "id", "attrs")

    def __init__(self, name, layer, start, parent, sid):
        self.name, self.layer, self.start = name, layer, start
        self.end = None
        self.parent, self.id = parent, sid
        self.attrs: dict = {}


class Tracer:
    """Spans around the benchmark's calls into the library.

    Disabled tracers still time spans (the untraced run needs the walls),
    but skip the py4j counter and the ``/proc`` CPU reads.  ``overhead_s``
    is the time those extras took inside the measured window: what tracing
    adds to a traced run's wall over an untraced one (the py4j counter's
    own increment, well under a microsecond a call, is left out)."""

    def __init__(self, enabled: bool, tree: ProcTree):
        self.enabled = enabled
        self.tree = tree
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.py4j = Py4jCounter() if enabled else None
        #: tag for spans opened from now on: inside the measured window or not
        self.timed = False
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def _open(self, name, layer) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(name, layer, time.time(), parent, len(self.spans))
        s.attrs["timed"] = self.timed
        if self.enabled:
            t = time.perf_counter()
            s.attrs["_py4j0"] = self.py4j.read()
            s.attrs["_cpu0"] = self.tree.cpu_s()
            self._charge(t)
        self.spans.append(s)
        self._stack.append(s)
        s.attrs["_t0"] = time.perf_counter()
        return s

    def _close(self, s: Span) -> None:
        wall = time.perf_counter() - s.attrs.pop("_t0")
        s.end = time.time()
        s.attrs["wall_s"] = wall
        if self.enabled:
            t = time.perf_counter()
            s.attrs["py4j_calls"] = self.py4j.read() - s.attrs.pop("_py4j0")
            s.attrs["cpu_s"] = self.tree.cpu_s() - s.attrs.pop("_cpu0")
            self._charge(t)
        self._stack.pop()

    def _charge(self, t0: float) -> None:
        if self.timed:
            self.overhead_s += time.perf_counter() - t0

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, jobs: list[dict] = ()) -> None:
        """Spans, then the Spark jobs read for them, one JSON object a line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "parent": s.parent,
                    "name": s.name, "layer": s.layer, "start": s.start,
                    "end": s.end, **s.attrs,
                }, default=str) + "\n")
            for j in jobs:
                fh.write(json.dumps({"run_id": self.run_id, "job": j}) + "\n")


class _SpanCtx:
    def __init__(self, tracer, name, layer):
        self.t, self.args = tracer, (name, layer)
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.t._open(*self.args)
        return self.span

    def __exit__(self, *exc) -> None:
        self.t._close(self.span)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _module_of(call_site: str) -> str | None:
    """``collect at /x/linked_maps_spark/ingest.py:123`` → ``ingest``."""
    marker = "linked_maps_spark/"
    i = call_site.find(marker)
    if i < 0:
        return None
    return call_site[i + len(marker):].split(".py", 1)[0].replace("/", ".")


#: longest wait for the listener bus to mark every job finished
_SETTLE_S = 10.0


def stage_records(spark) -> list[dict]:
    """Every job of the session with its stages' accounting.

    Waits up to ``_SETTLE_S`` for the listener bus to mark all jobs
    finished, so the last job's stages are complete when read."""
    store = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.monotonic() + _SETTLE_S
    while True:
        jobs = store.jobsList(None)
        running = [jobs.apply(i) for i in range(jobs.size())
                   if jobs.apply(i).status().toString() == "RUNNING"]
        if not running or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        stages = []
        sids = j.stageIds()
        for k in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(k))
            if st.status().toString() == "SKIPPED":
                continue
            stages.append({
                "id": st.stageId(),
                "start": _opt_ms(st.submissionTime()),
                "end": _opt_ms(st.completionTime()),
                "tasks": st.numTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "shuffle_write": st.shuffleWriteBytes(),
                "shuffle_read": st.shuffleReadBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "input_bytes": st.inputBytes(),
            })
        out.append({
            "id": j.jobId(), "name": j.name(), "module": _module_of(j.name()),
            "start": _opt_ms(j.submissionTime()), "end": _opt_ms(j.completionTime()),
            "stages": stages,
        })
    return sorted(out, key=lambda r: r["id"])


def attribute(jobs: list[dict], spans: list[Span]) -> dict[int, list[dict]]:
    """Jobs per span id: each job goes to the innermost (latest-opened) span
    whose window holds the job's submission time, and takes that span's
    layer as ``layer``.  Window attribution needs no job groups, so jobs the
    library submits from its own thread pools are counted too.  ``module``
    stays what the call site says: many jobs (parquet writes, adaptive
    execution's asynchronous jobs) carry only a JVM call site."""
    by_span: dict[int, list[dict]] = {}
    closed = [s for s in spans if s.end is not None]
    for j in jobs:
        j["layer"] = None
        if j["start"] is None:
            continue
        hit = None
        for s in closed:
            if s.start <= j["start"] <= s.end:
                hit = s  # spans are in open order, so the last hit is innermost
        if hit is None:
            continue
        j["layer"] = hit.layer
        by_span.setdefault(hit.id, []).append(j)
    return by_span


#: span layers that are the benchmark's own, not a library module
OWN_LAYERS = ("bench", "session")


def stage_shares(jobs: list[dict], lo: float, hi: float) -> tuple[float, float]:
    """Shares of the stage time of jobs submitted in ``[lo, hi]``: on jobs
    whose call site names a library module, and on jobs named by that or by
    the library layer of the innermost span holding them (``attribute`` must
    have run).  Jobs held only by a span of the benchmark's own layers count
    for neither."""
    total = by_site = by_either = 0.0
    for j in jobs:
        if j["start"] is None or not lo <= j["start"] <= hi:
            continue
        dur = sum((st["end"] or hi) - st["start"] for st in j["stages"] if st["start"])
        total += dur
        if j["module"]:
            by_site += dur
        if j["module"] or j["layer"] not in (None, *OWN_LAYERS):
            by_either += dur
    if not total:
        return 0.0, 0.0
    return by_site / total, by_either / total


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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
