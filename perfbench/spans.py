"""Spans and counters recorded from the benchmark's own code.

The traced run wraps the public functions of each engine module (see
``install_layer_wrappers``) so that every call becomes a span with a parent.
Spans stay in memory; ``self_times`` turns the spans of one cycle into
per-layer self time by sweeping the cycle's timeline and giving each instant
to the deepest span open at that instant (parallel siblings share it
equally).  The self times of all layers plus ``other`` (instants no span
covers) therefore add up to the cycle's wall time exactly.

Nothing here is active unless ``Tracer.enabled`` is true, so the untraced
run pays one attribute check per wrapped call.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from typing import Callable, Optional


class Span:
    __slots__ = ("name", "start", "end", "parent", "depth")

    def __init__(self, name: str, start: float, parent: Optional["Span"]):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.depth = 0 if parent is None else parent.depth + 1


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list = []
        self.counts: dict = defaultdict(float)
        self._local = threading.local()
        self._main_ident = threading.main_thread().ident
        self._main_stack: list = []
        self._lock = threading.Lock()

    # -------------------------------------------------------------- spans
    def _stack(self) -> list:
        if threading.get_ident() == self._main_ident:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Optional[Span]:
        if not self.enabled:
            return None
        st = self._stack()
        # a span opened on a pool thread has no parent of its own thread:
        # it was caused by whatever the main thread is inside right now
        parent = st[-1] if st else (
            self._main_stack[-1] if self._main_stack else None)
        sp = Span(name, time.perf_counter(), parent)
        st.append(sp)
        return sp

    def end(self, sp: Optional[Span]) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def take(self) -> tuple:
        """Return and reset (spans, counts) recorded so far."""
        with self._lock:
            spans, counts = self.spans, dict(self.counts)
            self.spans, self.counts = [], defaultdict(float)
        return spans, counts

    # ------------------------------------------------------------ wrapping
    def wrap(self, owner, attr: str, layer: str,
             on_result: Optional[Callable] = None,
             before: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a ``layer`` span
        around each call.  ``before(tracer, args, kwargs)`` runs before the
        call and ``on_result(tracer, result, args, kwargs)`` after it; both
        run only while tracing is enabled."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if before is not None:
                before(tracer, args, kwargs)
            sp = tracer.begin(layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(sp)
            if on_result is not None:
                on_result(tracer, out, args, kwargs)
            return out

        setattr(owner, attr, wrapper)


class _SpanCtx:
    __slots__ = ("tracer", "name", "sp")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.sp = tracer, name, None

    def __enter__(self):
        self.sp = self.tracer.begin(self.name)
        return self.sp

    def __exit__(self, *exc):
        self.tracer.end(self.sp)
        return False


def self_times(spans: list, t0: float, t1: float) -> dict:
    """Per-layer self time inside the window [t0, t1].

    Each instant of the window belongs to the deepest span open at that
    instant; k parallel spans at the same depth get 1/k of it each.  Time no
    span covers is returned under ``other``.  The values sum to t1 - t0."""
    inside = [s for s in spans if s.end > t0 and s.start < t1]
    cuts = sorted({t0, t1, *(min(max(s.start, t0), t1) for s in inside),
                   *(min(max(s.end, t0), t1) for s in inside)})
    out: dict = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in inside if s.start <= a and s.end >= b]
        if not open_:
            out["other"] += b - a
            continue
        deepest = max(s.depth for s in open_)
        top = [s for s in open_ if s.depth == deepest]
        for s in top:
            out[s.name] += (b - a) / len(top)
    return dict(out)


# ------------------------------------------------------------ layer wiring
def _count_manifest_rows(tr, table, args, kwargs):
    tr.count("manifests.manifests_read")
    tr.count("manifests.entries_read", getattr(table, "num_rows", 0))


def _planned(tr, tasks, args, kwargs):
    tr.count("scan.files_planned", len(tasks))
    tr.count("scan.delete_files_matched",
             sum(len(getattr(t, "deletes", None) or ()) for t in tasks))


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the engine's module functions the benchmark reaches.  A function
    missing in the engine version under test is skipped (its layer then
    reads 0) so that two versions can be traced with one benchmark."""
    from linkedin_iceberg_spark.catalog import catalog as C
    from linkedin_iceberg_spark.catalog import deletes as D
    from linkedin_iceberg_spark.catalog import manifests as M
    from linkedin_iceberg_spark.catalog import metadata as MD
    from linkedin_iceberg_spark.catalog import scan as S
    from linkedin_iceberg_spark.catalog import stats as ST
    from linkedin_iceberg_spark.catalog import table as T

    def manifest_cache_probe(tr, args, kwargs):
        cache = getattr(M, "_MANIFEST_TABLE_CACHE", None)
        path = args[0] if args else kwargs.get("path")
        if cache is None or path is None:
            return
        try:
            key = (os.path.abspath(path), os.stat(path).st_mtime_ns)
        except OSError:
            return
        if key in cache:
            tr.count("manifests.cache_hits")

    def commit_attempt(tr, args, kwargs):
        tr.count("metadata.commit_calls")

    footered = lambda tr, out, a, k: tr.count("stats.files_footered")
    written = lambda tr, out, a, k: tr.count("manifests.written")

    plan = [
        (C.Catalog, "load_table", "catalog.load_table", None, None),
        (C.Catalog, "sql", "catalog.sql_build", None, None),
        (MD.TableOperations, "refresh", "metadata.refresh", None, None),
        (MD.TableOperations, "commit", "metadata.commit", None,
         commit_attempt),
        (M, "read_manifest_list", "manifests.read_list", None, None),
        (M, "read_manifest_table", "manifests.read_manifest",
         _count_manifest_rows, manifest_cache_probe),
        (M, "write_manifest", "manifests.write", written, None),
        (M, "write_manifest_list", "manifests.write", written, None),
        (S.TableScan, "plan_files", "scan.plan_files", _planned, None),
        (S.TableScan, "to_df", "scan.to_df_self", None, None),
        (D, "apply_deletes", "deletes.apply", None, None),
        (ST, "collect_file_stats", "stats.collect_file_stats", footered,
         None),
        (T, "collect_file_stats", "stats.collect_file_stats", footered,
         None),
        (T.Table, "append", "table.append_spark", None, None),
        (T.Table, "delete_where", "table.delete_where", None, None),
        (T.Table, "upsert", "row_delta.upsert", None, None),
        (T.Table, "expire_snapshots", "maintenance.expire", None, None),
        (T.Table, "remove_dangling_deletes", "maintenance.remove_dangling",
         None, None),
    ]
    for owner, attr, layer, on_result, before in plan:
        if hasattr(owner, attr):
            tracer.wrap(owner, attr, layer, on_result=on_result,
                        before=before)
    _wrap_commit_retries(tracer, MD)


def _wrap_commit_retries(tracer: Tracer, MD) -> None:
    """A commit that raises CommitFailedException is a lost CAS race: the
    table's optimistic loop retries it."""
    ops = MD.TableOperations
    fn = ops.commit

    @functools.wraps(fn)
    def commit(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except MD.CommitFailedException:
            tracer.count("metadata.commit_retries")
            raise

    ops.commit = commit


# ------------------------------------------------------- process CPU time
_CLK = os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s(root_pid: int = None) -> float:
    """utime+stime of every live descendant of ``root_pid`` (not the root
    itself), from /proc; 0.0 where /proc is unavailable."""
    root_pid = root_pid or os.getpid()
    parents: dict = {}
    cpu: dict = {}
    try:
        pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        parents[pid] = int(rest[1])
        cpu[pid] = (int(rest[11]) + int(rest[12])) / _CLK
    children = defaultdict(list)
    for pid, ppid in parents.items():
        children[ppid].append(pid)
    total, todo = 0.0, list(children[root_pid])
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children[pid])
    return total
