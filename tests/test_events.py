"""Listener hooks (ref: api/.../events/Listeners.java, ScanEvent,
CreateSnapshotEvent emitted by scan planning and commits)."""

from linkedin_iceberg_spark import events as EV
from linkedin_iceberg_spark.expressions import gt_eq


def test_scan_and_snapshot_events(catalog, spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100)
    scans, snaps = [], []
    EV.register(EV.ScanEvent, scans.append)
    EV.register(EV.CreateSnapshotEvent, snaps.append)
    try:
        t = catalog.create_table("db.evt", o)
        t.append(o)
        assert len(snaps) == 1
        assert snaps[0].operation == "append"
        assert snaps[0].snapshot_id == t.current_snapshot().snapshot_id
        assert snaps[0].summary.get("added-records") == "100"

        t.scan(gt_eq("o_orderkey", 50)).count()
        assert len(scans) >= 1
        assert scans[-1].snapshot_id == t.current_snapshot().snapshot_id
        assert "o_orderkey" in repr(scans[-1].filter)
    finally:
        EV.unregister(EV.ScanEvent, scans.append)  # no-op (different obj)
        EV._listeners.clear()


def test_listener_errors_do_not_break_commits(catalog, spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(10)

    def bad(_e):
        raise RuntimeError("boom")

    EV.register(EV.CreateSnapshotEvent, bad)
    try:
        t = catalog.create_table("db.evt2", o)
        t.append(o)  # must not raise
        assert t.to_df().count() == 10
    finally:
        EV._listeners.clear()


def test_swallowed_listener_errors_are_counted():
    seen = []

    def bad(_e):
        raise RuntimeError("boom")

    EV.register(EV.ScanEvent, bad)
    EV.register(EV.ScanEvent, seen.append)
    before = EV.listener_failures
    try:
        event = EV.ScanEvent("db.t", None, None, None)
        EV.notify_all(event)
        EV.notify_all(event)
    finally:
        EV._listeners.clear()
    assert EV.listener_failures == before + 2
    assert seen == [event, event]  # a failing hook does not stop the next
