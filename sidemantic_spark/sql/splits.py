"""Single-split sources: declare the partitioning Spark already plans.

Spark reads a source whose files fit one input split with one task.  A
grouped query over it still plans partial aggregate -> Exchange -> final
aggregate, and an ORDER BY adds a range-partitioning sample job and one
more Exchange, because a file scan reports no output partitioning.
Reading such a source as ``SELECT /*+ COALESCE(1) */ ... FROM <source>``
declares it single-partition, so Catalyst plans the aggregate, DISTINCT,
window and ORDER BY above it in the scan's own stage.  No parallelism is
lost: the scan runs one task either way.  A source that Spark splits into
two or more partitions is read as before.

The decision counts the partitions of the scan Spark plans for a bare
read of the source (its executed plan: no job, and no adaptive wrapper,
since a bare scan has no exchange).  It is cached per session and
source, and is taken again when the temp view is re-registered or its
file listing is refreshed.  Only session temp views over exactly one file
scan are decided.  Every other source keeps the plain read: a catalog
table, derived SQL, an in-memory or streaming frame.
"""

from __future__ import annotations

import re
import threading
import weakref
from contextlib import contextmanager

HINT = "/*+ COALESCE(1) */"

_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_PROBES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PROBES_LOCK = threading.Lock()


def probe_for(spark) -> SplitProbe:
    """The session's probe, shared by every layer on it.  Without a JVM
    session (no session, or a Spark Connect client) every read is
    plain."""
    if getattr(spark, "_jsparkSession", None) is None:
        return SplitProbe(None)
    with _PROBES_LOCK:
        probe = _PROBES.get(spark)
        if probe is None:
            probe = _PROBES[spark] = SplitProbe(spark)
        return probe


class SplitProbe:
    """Per-session cache of single-split decisions.

    An entry is ``(views, view, location, size, single)``: the hash of
    the session's temp-view map and of the view registered under the
    name when last checked, the file index of a single-split scan and
    that index's byte size when decided.  A lookup compares the map hash
    (one call for every view); only when it moved is the view itself
    re-read, and only a view that was replaced is planned again.  A
    single-split entry also re-reads its index size, so a refreshed
    listing is decided again.
    """

    def __init__(self, spark) -> None:
        self._jss = None if spark is None else spark._jsparkSession
        self._views = None
        if self._jss is not None:
            self._catalog = self._jss.sessionState().catalog()
            try:
                self._views = self._catalog.tempViews()
            except Exception:  # noqa: BLE001 - map not exposed: re-read each view
                self._views = None
        self._decided: dict[str, tuple] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    def single_split(self, source: str, views: int | None = None) -> bool:
        """Whether Spark reads ``source`` with one task.  The answer is
        recorded in every open :meth:`recording` of this thread."""
        single = False
        if self._jss is not None and _NAME_RE.fullmatch(source):
            try:
                if views is None:
                    views = self._views_hash()
                single = self._lookup(source, views)
            except Exception:  # noqa: BLE001 - no catalog to ask: plain read
                single = False
        for used in getattr(self._local, "stack", ()):
            used[source] = single
        return single

    @contextmanager
    def recording(self):
        """Collect ``{source: decision}`` for every source looked up in
        this thread inside the block, nested recordings included."""
        stack = self._local.__dict__.setdefault("stack", [])
        used: dict[str, bool] = {}
        stack.append(used)
        try:
            yield used
        finally:
            stack.pop()

    def holds(self, used) -> bool:
        """Whether every recorded ``(source, decision)`` still holds."""
        if not used:
            return True
        views = self._views_hash() if self._jss is not None else None
        return all(self.single_split(s, views) == single for s, single in used)

    def _views_hash(self) -> int | None:
        return None if self._views is None else self._views.hashCode()

    def _lookup(self, source: str, views: int | None) -> bool:
        with self._lock:
            entry = self._decided.get(source)
        if entry is None or views is None or entry[0] != views:
            registered = self._catalog.getRawTempView(source)
            view = registered.hashCode()
            if entry is None or entry[1] != view:
                entry = (views, view, *self._decide(source, registered))
            else:
                entry = (views, *entry[1:])
            with self._lock:
                self._decided[source] = entry
        _views, view, location, size, single = entry
        if single and location.sizeInBytes() != size:
            entry = (views, view, *self._decide(source, registered=None))
            with self._lock:
                self._decided[source] = entry
        return entry[4]

    def _decide(self, source: str, registered) -> tuple:
        """``(location, size, single)`` from the bare read's executed
        plan; a view Spark cannot plan (a streaming source, a dropped
        base table) reads plainly."""
        try:
            if registered is not None and registered.isEmpty():
                return None, None, False
            plan = self._jss.table(source).queryExecution().executedPlan()
            leaves = plan.collectLeaves()
            if leaves.size() != 1 or "Exchange" in plan.treeString():
                return None, None, False
            scan = leaves.head()
            if scan.getClass().getSimpleName() != "FileSourceScanExec":
                return None, None, False
            location = scan.relation().location()
            if scan.inputRDD().getNumPartitions() != 1:
                return None, None, False
            return location, location.sizeInBytes(), True
        except Exception:  # noqa: BLE001
            return None, None, False
