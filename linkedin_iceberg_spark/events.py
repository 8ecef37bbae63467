"""Listener event hooks (ref: api/.../events/Listeners.java:31-54,
ScanEvent.java, core CreateSnapshotEvent emission in FastAppend.java:152
and BaseTableScan.java:209-210).

Type-keyed static registry: register a callback per event class; the scan
and commit paths notify.  Listeners run on the driver, synchronously, and
must never raise into the data path — exceptions are swallowed (a
misbehaving metrics hook must not fail a commit), and each one is counted
in ``listener_failures`` so a broken hook is not invisible.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Any, Callable, Optional


@dataclass(frozen=True)
class ScanEvent:
    """Emitted when a table scan is planned (ref: ScanEvent.java)."""
    table_name: str
    snapshot_id: Optional[int]
    filter: Any            # bound Expression (or None)
    projection: Any        # list of selected column names (or None)


@dataclass(frozen=True)
class CreateSnapshotEvent:
    """Emitted when a commit creates a snapshot (ref: CreateSnapshotEvent)."""
    table_name: str
    operation: str
    snapshot_id: int
    sequence_number: int
    summary: dict = field(default_factory=dict)


_listeners: dict = {}

# listener exceptions swallowed by notify_all since import (commits may
# notify from several threads, hence the lock)
listener_failures = 0
_failures_lock = threading.Lock()


def register(event_type: type, listener: Callable) -> None:
    """Listeners.register analog: subscribe `listener(event)` to events of
    exactly `event_type`."""
    _listeners.setdefault(event_type, []).append(listener)


def unregister(event_type: type, listener: Callable) -> None:
    lst = _listeners.get(event_type, [])
    if listener in lst:
        lst.remove(listener)


def notify_all(event: Any) -> None:
    """Listeners.notifyAll analog (exact-type dispatch, like the Java map
    keyed by event.getClass())."""
    global listener_failures
    for listener in list(_listeners.get(type(event), ())):
        try:
            listener(event)
        except Exception:
            # hooks must never break the scan/commit path
            with _failures_lock:
                listener_failures += 1
