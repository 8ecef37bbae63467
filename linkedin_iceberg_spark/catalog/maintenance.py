"""Maintenance actions: compaction, manifest rewrite, snapshot expiry,
orphan cleanup — implemented WITH Spark DataFrames, mirroring the reference's
own Spark actions.

ref: spark/.../actions/RewriteDataFilesAction.java:61-281 (A1),
RewriteManifestsAction.java:78-294 (A2), ExpireSnapshotsAction.java:54-232
(A3), RemoveOrphanFilesAction.java:70-257 (A4),
core/.../RemoveSnapshots.java:55-148 (W14).
"""

from __future__ import annotations

import os
import time
import urllib.parse
from typing import Optional

from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog import manifests as M

TARGET_FILE_SIZE = 128 * 1024 * 1024   # ref: TableProperties.java:69
MANIFEST_TARGET_ENTRIES = 10_000       # ~8 MB of entries (TableProperties:38-42)


def rewrite_data_files(table, target_size_bytes: int = TARGET_FILE_SIZE,
                       min_input_files: int = 2,
                       sort_by: Optional[list] = None,
                       zorder_by: Optional[list] = None,
                       partial_progress: bool = False,
                       max_groups_per_commit: int = 1,
                       remove_dangling: bool = False,
                       where=None) -> dict:
    """Bin-pack small files per partition and rewrite them (A1).

    With `sort_by`, the rewrite also CLUSTERS rows: unpartitioned tables
    are range-repartitioned on the sort columns (each output file covers a
    tight, non-overlapping min/max band), partitioned tables sort within
    their partition clusters.  Clustering is what makes file-level stats
    pruning bite at 100 TB — a point/range predicate on a sort column
    skips every file whose bounds exclude it, turning O(files) scans into
    O(matching files).  min_input_files=1 forces a resort of already
    right-sized files.

    `zorder_by` clusters on the Morton interleave of SEVERAL columns
    instead — coarser per-column bounds than a single sort, but predicates
    on EVERY z-column prune files (catalog/zorder.py).  On partitioned
    tables the interleave applies within each partition's rewrite group.

    Algorithm (as the reference's action): group live files by partition;
    keep groups with > min_input_files whose members are under target size;
    read all groups in ONE distributed job; the write path re-clusters by
    partition key, so each partition's rows land in fresh right-sized files;
    commit swaps old for new with data unchanged (RewriteFiles, W6).

    Only CONTENT_DATA files are compaction candidates — v2 delete files are
    carried through untouched — and pending deletes are APPLIED while
    rewriting (the compacted file gets a higher sequence number, so stale
    equality deletes no longer re-hit the surviving rows; ref: the
    scan/DeleteFileIndex path the reference routes rewrites through).

    `partial_progress` (ref: RewriteDataFiles PARTIAL_PROGRESS_ENABLED):
    instead of one table-wide swap, commit every `max_groups_per_commit`
    partition groups separately.  At 100 TB a full compaction can run for
    hours — per-group commits make completed work DURABLE (a failure or
    a lost conflict only forfeits the in-flight group), shrink each
    commit's conflict window, and let concurrent writers interleave.
    Each commit goes through the same validated optimistic loop.
    """
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    if max_groups_per_commit < 1:
        raise ValueError("max_groups_per_commit must be >= 1")

    entries, delete_entries = table._live_data_and_deletes()
    if where is not None:
        # scope the compaction to files the expression MIGHT touch
        # (ref: BaseRewriteDataFilesAction.filter — partition projection
        # + file metrics through the scan planner's own selection, so
        # "compact last month" never rewrites cold history).  Data is
        # unchanged either way: the filter picks files, never rows.
        scoped = {t_.file.file_path
                  for t_ in table.new_scan().filter(where).plan_files()}
        entries = [e for e in entries
                   if e.data_file.file_path in scoped]
    # files with pending v2 deletes are candidates REGARDLESS of size or
    # group count: rewriting them materializes the deletes (the reference's
    # delete-threshold behavior in RewriteDataFiles) — until then every
    # read pays the anti-join and external file lists stay unexportable
    from linkedin_iceberg_spark.catalog.scan import match_deletes
    delete_laden = {t_.file.file_path
                    for t_ in match_deletes(entries, delete_entries)
                    if t_.deletes}
    by_partition: dict = {}
    for e in entries:
        key = tuple(sorted(e.data_file.partition.items()))
        by_partition.setdefault(key, []).append(e)

    clustering = bool(sort_by or zorder_by)
    rewrite_groups = []
    for _key, group in by_partition.items():
        # a clustering rewrite re-sorts EVERY live file (right-sized files
        # still have loose bounds until resorted); plain compaction only
        # bin-packs the small ones — plus every delete-laden file
        cand = group if clustering else \
            [e for e in group
             if e.data_file.file_size_in_bytes < target_size_bytes
             or e.data_file.file_path in delete_laden]
        if len(cand) >= min_input_files or \
                any(e.data_file.file_path in delete_laden for e in cand):
            rewrite_groups.append(cand)
    if not rewrite_groups:
        return {"rewritten_files": 0, "added_files": 0, "commits": 0}

    if not partial_progress or len(rewrite_groups) <= max_groups_per_commit:
        to_rewrite = [e for g in rewrite_groups for e in g]
        new_files = _compact_write(table, to_rewrite, delete_entries,
                                   target_size_bytes, sort_by, zorder_by)
        table.rewrite_files({e.data_file.file_path for e in to_rewrite},
                            new_files)
        out = {"rewritten_files": len(to_rewrite),
               "added_files": len(new_files), "commits": 1}
        if remove_dangling:
            # ref: RewriteDataFiles REMOVE_DANGLING_DELETES — compaction
            # just raised the inputs' sequence numbers, so deletes that
            # only guarded them are dead metadata now
            out.update(remove_dangling_deletes(table))
        # stats.auto tables keep their KMV/dictionary stores covered
        # across compaction too (only the rewrite's OUTPUT files sketch)
        table._auto_analyze()
        return out

    rewritten = added = commits = 0
    for i in range(0, len(rewrite_groups), max_groups_per_commit):
        planned = {e.data_file.file_path
                   for g in rewrite_groups[i:i + max_groups_per_commit]
                   for e in g}
        # re-plan this batch against the state it will actually commit
        # on: an earlier batch's commit (or its CAS retry) may have
        # adopted CONCURRENT commits into table.metadata — a delete file
        # that landed mid-run must be APPLIED while rewriting (the
        # output takes a higher sequence number, so carrying the
        # plan-time delete list would silently resurrect its rows), and
        # an input a concurrent DML already rewrote must be dropped
        table.refresh()
        cur_entries, cur_deletes = table._live_data_and_deletes()
        ents = [e for e in cur_entries if e.data_file.file_path in planned]
        if not ents:
            continue
        new_files = _compact_write(table, ents, cur_deletes,
                                   target_size_bytes, sort_by, zorder_by)
        # a failure here leaves every PRIOR batch durable — that is the
        # point of partial progress
        table.rewrite_files({e.data_file.file_path for e in ents},
                            new_files)
        rewritten += len(ents)
        added += len(new_files)
        commits += 1
    out = {"rewritten_files": rewritten, "added_files": added,
           "commits": commits}
    if remove_dangling:
        out.update(remove_dangling_deletes(table))
    table._auto_analyze()
    return out


def _compact_write(table, to_rewrite: list, delete_entries: list,
                   target_size_bytes: int, sort_by: Optional[list],
                   zorder_by: Optional[list]) -> list:
    """Read the live rows of `to_rewrite` (pending deletes applied) and
    write them back clustered — plain bin-packing, sort-clustered, or
    z-ordered (see rewrite_data_files)."""
    df = table._read_live_rows(to_rewrite, delete_entries)
    if not table.spec.is_partitioned():
        # bin-pack: one output file per target_size of input
        total = sum(e.data_file.file_size_in_bytes for e in to_rewrite)
        n_out = max(1, (total + target_size_bytes - 1) // target_size_bytes)
        if zorder_by:
            from linkedin_iceberg_spark.catalog.zorder import zorder_cluster
            df = zorder_cluster(df, zorder_by, n_out)
            # sort_by=[] suppresses the write.sort-by table property —
            # it would re-sort within partitions and undo the z-order
            return table._write_data_files(df, sort_by=[])
        if sort_by:
            df = (df.repartitionByRange(n_out, *sort_by)
                  .sortWithinPartitions(*sort_by))
            return table._write_data_files(df, sort_by=[])
        return table._write_data_files(df.coalesce(n_out))
    # partitioned: write clustered by partition key (plus the sort
    # columns within each cluster when sorting).  zorder_by: the Morton
    # interleave is partition-agnostic — pass it as a sort EXPRESSION so
    # each partition's rewrite group comes out z-clustered (scaling
    # stats are table-global: the mapping stays monotone inside every
    # partition, and predicates on each z-column prune that partition's
    # files)
    if zorder_by:
        from linkedin_iceberg_spark.catalog.zorder import zorder_value
        return table._write_data_files(
            df, sort_by=[zorder_value(df, zorder_by)])
    return table._write_data_files(df, sort_by=sort_by)


DISTRIBUTED_REWRITE_THRESHOLD = 100_000


def rewrite_manifests(table,
                      target_entries: int = MANIFEST_TARGET_ENTRIES,
                      distributed: Optional[bool] = None) -> dict:
    """Re-cluster manifest entries by partition into right-sized manifests
    (A2).  Small tables sort driver-side and chunk; past
    DISTRIBUTED_REWRITE_THRESHOLD entries (or with distributed=True) the
    rewrite runs as the reference's Spark action does
    (RewriteManifestsAction.java:226-247): entries as a DataFrame,
    repartitionByRange on the partition tuple, each output partition
    writing ONE manifest on an executor."""
    infos0 = table._base_manifest_infos(table.metadata)
    total = sum(i.added_files_count + i.existing_files_count for i in infos0)
    if distributed is None:
        distributed = total >= DISTRIBUTED_REWRITE_THRESHOLD
    if distributed and infos0:
        return _rewrite_manifests_distributed(table, target_entries)
    entries = table._live_entries()
    if not entries:
        return {"manifests": 0}
    # cluster by partition so level-1 summaries prune well
    entries.sort(key=lambda e: tuple(sorted(
        (k, str(v)) for k, v in e.data_file.partition.items())))
    chunks = [entries[i:i + target_entries]
              for i in range(0, len(entries), target_entries)]
    types_by_id = table._types_by_id()

    def build(base, snap_id, seq):
        ptypes = base.all_partition_types()
        infos = []
        for chunk in chunks:
            name = M.new_manifest_name()
            existing = [M.ManifestEntry(M.STATUS_EXISTING, e.snapshot_id,
                                        e.sequence_number, e.data_file)
                        for e in chunk]
            info = M.write_manifest(table.ops.new_metadata_path(name),
                                    existing, types_by_id, ptypes)
            info.manifest_path = name
            infos.append(info)
        return infos, {"manifests-replaced": str(len(chunks))}, None

    from linkedin_iceberg_spark.catalog.metadata import OP_REPLACE
    table._commit(build, OP_REPLACE)
    return {"manifests": len(chunks)}


def _rewrite_manifests_distributed(table, target_entries: int) -> dict:
    """A2 exactly as the reference's Spark action executes it
    (RewriteManifestsAction.java:78-294): the live entries become ONE
    DataFrame read straight from the manifest parquet files (no driver
    materialization), get range-repartitioned on the partition tuple so
    level-1 summaries prune well, and each output partition writes its
    manifest ON AN EXECUTOR — summaries included — returning the
    manifest-list row to the driver.  Driver work is O(manifests), never
    O(entries)."""
    import json as _json
    import math

    from linkedin_iceberg_spark.catalog.metadata import OP_REPLACE
    from linkedin_iceberg_spark.shipping import ship_package

    spark = table.spark
    ship_package(spark)  # workers import the manifest writer from the zip
    metadata_dir = table.ops.metadata_dir
    types_by_id = table._types_by_id()
    result = {}

    _INFO_FIELDS = ("manifest_path", "added_snapshot_id",
                    "added_files_count", "existing_files_count",
                    "deleted_files_count", "added_rows_count",
                    "min_sequence_number", "sequence_number", "content")

    def build(base, snap_id, seq):
        ptypes = base.all_partition_types()
        paths = [table.ops.new_metadata_path(i.manifest_path)
                 for i in table._base_manifest_infos(base)]
        edf = (spark.read.parquet(*paths)
               .filter(F.col("status") != M.STATUS_DELETED)
               .withColumn("status",
                           F.lit(M.STATUS_EXISTING).cast("tinyint")))
        total = edf.count()
        n_out = max(1, math.ceil(total / target_entries))
        part = (edf.repartitionByRange(n_out, "partition")
                .sortWithinPartitions("partition"))

        def write_part(batches):
            import json
            import os as _os

            import pandas as pd
            import pyarrow as pa

            from linkedin_iceberg_spark.catalog import manifests as MM

            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True)
            tbl = pa.Table.from_pandas(pdf, schema=MM._MANIFEST_SCHEMA,
                                       preserve_index=False)
            entries = MM.entries_from_table(tbl, types_by_id, ptypes)
            name = MM.new_manifest_name()
            info = MM.write_manifest(_os.path.join(metadata_dir, name),
                                     entries, types_by_id, ptypes)
            info.manifest_path = name
            enc = {pn: {"contains_null": s["contains_null"],
                        "lower": MM.encode_value(
                            s["lower"], ptypes.get(pn, "string")),
                        "upper": MM.encode_value(
                            s["upper"], ptypes.get(pn, "string"))}
                   for pn, s in info.partition_summaries.items()}
            row = {f: getattr(info, f) for f in _INFO_FIELDS}
            row["partition_summaries"] = json.dumps(enc)
            yield pd.DataFrame([row])

        rows = part.mapInPandas(
            write_part,
            schema=("manifest_path string, added_snapshot_id long, "
                    "added_files_count int, existing_files_count int, "
                    "deleted_files_count int, added_rows_count long, "
                    "min_sequence_number long, sequence_number long, "
                    "content int, partition_summaries string")).collect()

        infos = []
        for r in rows:
            summaries = {
                pn: {"contains_null": s["contains_null"],
                     "lower": M.decode_value(s["lower"],
                                             ptypes.get(pn, "string")),
                     "upper": M.decode_value(s["upper"],
                                             ptypes.get(pn, "string"))}
                for pn, s in _json.loads(r["partition_summaries"]).items()}
            infos.append(M.ManifestFileInfo(
                partition_summaries=summaries,
                **{f: r[f] for f in _INFO_FIELDS}))
        result["n"] = len(infos)
        return infos, {"manifests-replaced": str(len(paths)),
                       "rewrite-distributed": "true"}, None

    table._commit(build, OP_REPLACE)
    return {"manifests": result["n"]}


def _check_gc_enabled(table, action: str) -> None:
    """Physical-file deletion guard (ref: the snapshot-table action
    setting gc.enabled=false and RemoveSnapshots/DeleteOrphanFiles
    validating it): a zero-copy clone shares data files with its source,
    so file-deleting maintenance on it could destroy rows another table
    still references.  Metadata-only maintenance stays allowed."""
    if table.properties.get("gc.enabled", "true").lower() in ("false", "0"):
        raise ValueError(
            f"{action}: gc.enabled=false on this table (it shares files "
            "with another table, e.g. a snapshot_table clone) — deleting "
            "physical files could corrupt the other table; rewrite the "
            "clone's files first, then set gc.enabled=true")
    from linkedin_iceberg_spark.catalog.catalog import clone_registry
    clones = clone_registry(table.properties)
    if clones:
        raise ValueError(
            f"{action}: zero-copy clones still reference this table's "
            f"files ({clones}); drop the clones (Catalog.drop_table "
            "auto-releases) or clear snapshot.clone-locations after "
            "rewriting their files")


def expire_snapshots(table, older_than_ms: Optional[int] = None,
                     retain_last: int = 1, dry_run: bool = False) -> dict:
    """Expire old snapshots and delete files only they reference (W14 + A3).

    Reachability diff exactly as the reference's Spark action: the set of
    files reachable BEFORE minus the set reachable AFTER is deleted.  Our
    manifest lists/manifests are parquet, so both sets are DataFrames and the
    diff is a distributed ``left_anti`` join — O(metadata) at any scale.
    """
    # maintenance acts on the LATEST table state: a stale handle must not
    # miss a concurrently registered clone (fence would fail open) or
    # expire against an outdated snapshot list
    table.refresh()
    if not dry_run:  # a dry run deletes nothing — always allowed
        _check_gc_enabled(table, "expire_snapshots")
    md = table.metadata
    now_ms = int(time.time() * 1000)
    cutoff = older_than_ms if older_than_ms is not None else now_ms
    ancestry = md.ancestry()
    keep_ids = set(ancestry[:max(1, retain_last)])
    staged = set(md.staged_wap.values())
    # named refs pin snapshots unconditionally — a tagged release stays
    # readable until the tag is dropped (ref: RemoveSnapshots retaining
    # SnapshotRef targets).  A BRANCH pins its whole ancestry: its head
    # must stay rollback-able/diffable until the branch is dropped.
    # per-ref retention (ref: SnapshotRef maxRefAgeMs): a ref whose
    # TARGET snapshot is older than its declared limit stops pinning and
    # is dropped in the same expiry commit — tags/branches without a
    # limit are retained forever
    stale_refs = set()
    for rname, sid in md.refs.items():
        limit = md.ref_ages.get(rname)
        snap_r = md.snapshot_by_id(sid)
        if limit is not None and snap_r is not None and \
                now_ms - snap_r.timestamp_ms > int(limit):
            stale_refs.add(rname)
    pinned = set()
    for rname, sid in md.refs.items():
        if rname in stale_refs:
            continue
        if md.ref_types.get(rname, "tag") == "branch":
            pinned.update(md.ancestry(sid))
        else:
            pinned.add(sid)
    for s in md.snapshots:
        sid = s.snapshot_id
        if sid in keep_ids or sid == md.current_snapshot_id:
            keep_ids.add(sid)
        elif sid in staged or sid in pinned or s.timestamp_ms >= cutoff:
            keep_ids.add(sid)
    def drop_stale_refs(base):
        import dataclasses
        m2 = dataclasses.replace(base)
        m2.refs = {k: v for k, v in base.refs.items()
                   if k not in stale_refs}
        m2.ref_types = {k: v for k, v in base.ref_types.items()
                        if k not in stale_refs}
        m2.ref_ages = {k: v for k, v in base.ref_ages.items()
                       if k not in stale_refs}
        return m2

    expired = [s for s in md.snapshots if s.snapshot_id not in keep_ids]
    if not expired:
        out0 = {"expired_snapshots": 0, "deleted_data_files": 0,
                "deleted_manifests": 0}
        if stale_refs:
            out0["dropped_refs"] = sorted(stale_refs)
            if not dry_run:
                table._commit_metadata_edit(drop_stale_refs)
        return out0

    spark = table.spark
    mdp = table.ops.new_metadata_path

    def reachable(snaps):
        lists = [mdp(s.manifest_list) for s in snaps]
        if not lists:
            return None, None
        man_df = spark.read.parquet(*lists).select("manifest_path").distinct()
        man_paths = [mdp(r.manifest_path) for r in man_df.collect()]
        file_df = (spark.read.parquet(*man_paths)
                   .filter(F.col("status") != M.STATUS_DELETED)
                   .select("file_path").distinct()) if man_paths else None
        return man_df, file_df

    kept_snaps = [s for s in md.snapshots if s.snapshot_id in keep_ids]
    man_before, files_before = reachable(md.snapshots)
    man_after, files_after = reachable(kept_snaps)

    dead_manifests = (man_before.join(man_after, "manifest_path", "left_anti")
                      .collect() if man_after is not None
                      else man_before.collect())
    dead_files = (files_before.join(files_after, "file_path", "left_anti")
                  .collect() if files_after is not None and files_before is not None
                  else (files_before.collect() if files_before is not None else []))

    stats = {"expired_snapshots": len(expired),
             "deleted_data_files": len(dead_files),
             "deleted_manifests": len(dead_manifests)}
    if dry_run:
        return stats

    # commit metadata without the expired snapshots first, then delete files
    expired_ids = {s.snapshot_id for s in expired}

    def edit(base):
        import dataclasses
        m2 = dataclasses.replace(drop_stale_refs(base))
        m2.snapshots = [s for s in m2.snapshots
                        if s.snapshot_id not in expired_ids]
        m2.snapshot_log = [e for e in m2.snapshot_log
                           if e["snapshot-id"] not in expired_ids]
        return m2

    if stale_refs:
        stats["dropped_refs"] = sorted(stale_refs)
    table._commit_metadata_edit(edit)
    for s in expired:
        _rm(mdp(s.manifest_list))
    for r in dead_manifests:
        _rm(mdp(r.manifest_path))
    # files imported in place (add_files) live OUTSIDE the table location
    # and belong to the source dataset: expiring a snapshot must never
    # physically delete them (the gc.enabled=false discipline Iceberg
    # applies to snapshot-imported tables).  Files under our own location
    # are engine-owned and safe to remove.
    loc = os.path.abspath(table.location).rstrip(os.sep) + os.sep
    kept_external = 0
    for r in dead_files:
        if os.path.abspath(r.file_path).startswith(loc):
            _rm(r.file_path)
        else:
            kept_external += 1
    if kept_external:
        stats["deleted_data_files"] -= kept_external
        stats["external_files_kept"] = kept_external
    return stats


def remove_orphan_files(table, older_than_ms: Optional[int] = None,
                        dry_run: bool = False) -> dict:
    """Delete data files on disk not referenced by ANY snapshot (A4).

    Fully distributed, matching RemoveOrphanFilesAction.java:70-257: the
    per-commit staging directories fan out to executors, each of which walks
    its directories and emits (file_path, mtime); the orphan set is a
    ``left_anti`` join against the manifest-referenced files; deletion runs
    via ``foreachPartition`` on executors.  Age-gated so in-flight
    (uncommitted) writes are never swept — same guard as the reference's
    3-day default.  Driver work is one readdir of data/ — O(commits), never
    O(files)."""
    table.refresh()  # same rationale as expire_snapshots: act on latest
    if not dry_run:  # a dry run deletes nothing — always allowed
        _check_gc_enabled(table, "remove_orphan_files")
    spark = table.spark
    md = table.metadata
    cutoff = older_than_ms if older_than_ms is not None \
        else int(time.time() * 1000) - 3 * 24 * 3600 * 1000
    data_dir = os.path.join(md.location, "data")
    if not os.path.isdir(data_dir):
        return {"orphans_deleted": 0}
    dirs = [(os.path.join(data_dir, d),) for d in os.listdir(data_dir)
            if os.path.isdir(os.path.join(data_dir, d))]
    if not dirs:
        return {"orphans_deleted": 0}
    n_slices = min(len(dirs), spark.sparkContext.defaultParallelism)
    dirs_df = spark.createDataFrame(dirs, "dir string") \
        .repartition(n_slices)

    def list_files(batches):
        import os as _os

        import pandas as _pd
        for pdf in batches:
            out_p, out_m = [], []
            for d in pdf["dir"]:
                for root, _sub, files in _os.walk(d):
                    for fn in files:
                        # data files only; skip job markers / checksums
                        if fn.startswith((".", "_")) or not fn.endswith(
                                (".parquet", ".orc", ".avro")):
                            continue
                        p = _os.path.join(root, fn)
                        try:
                            mt = int(_os.path.getmtime(p) * 1000)
                        except FileNotFoundError:
                            continue
                        out_p.append(p)
                        out_m.append(mt)
            yield _pd.DataFrame({"file_path": out_p, "mtime_ms": out_m})

    listed_df = dirs_df.mapInPandas(list_files,
                                    "file_path string, mtime_ms long") \
        .filter(F.col("mtime_ms") < cutoff).select("file_path")

    lists = [table.ops.new_metadata_path(s.manifest_list)
             for s in md.snapshots]
    if lists:
        man_paths = [table.ops.new_metadata_path(r.manifest_path)
                     for r in spark.read.parquet(*lists)
                     .select("manifest_path").distinct().collect()]
        valid = spark.read.parquet(*man_paths).select("file_path").distinct()
        orphans_df = listed_df.join(valid, "file_path", "left_anti")
    else:
        orphans_df = listed_df
    n = orphans_df.count()
    if n and not dry_run:
        def delete_part(rows):
            import os as _os
            for r in rows:
                try:
                    _os.unlink(r.file_path)
                except FileNotFoundError:
                    pass
        orphans_df.foreachPartition(delete_part)
    return {"orphans_deleted": n}


def _rm(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def export_symlink_manifest(table, dest_dir: str,
                            snapshot_id: int = None) -> dict:
    """Export the CURRENT (or a given) snapshot's live data-file list as
    Hive-layout manifest text files — one ``manifest.txt`` per partition
    directory, one absolute data-file path per line (the public
    SymlinkTextInputFormat convention external engines read).

    This is the engine's analog of the reference's Hive-metadata sync
    (hive-metastore/.../HiveMetadataPreservingTableOperations.java:54 —
    keep a non-engine-reader-visible view of the table consistent with
    the engine's snapshot): after deletes/overwrites/compactions the data
    directory contains dead files, so a naive directory read is WRONG;
    the exported manifest pins exactly the live set.

    Tables carrying unapplied v2 delete files are refused — an external
    reader cannot apply position/equality deletes to a plain file list;
    compact first (rewrite_data_files applies pending deletes).

    Scale: metadata-only — O(live files) driver work, no data read."""
    from linkedin_iceberg_spark.catalog.serde import encode_value

    md = table.metadata
    snap = md.snapshot_by_id(snapshot_id) if snapshot_id is not None \
        else md.current_snapshot
    if snapshot_id is not None and snap is None:
        raise ValueError(f"unknown snapshot {snapshot_id}")
    tasks = table.new_scan().use_snapshot(snap.snapshot_id).plan_files() \
        if snap else []
    if any(t.deletes for t in tasks):
        raise ValueError(
            "table has unapplied v2 delete files; external readers cannot "
            "apply them to a plain file list — run rewrite_data_files() "
            "(compaction applies pending deletes) and re-export")

    by_dir: dict = {}
    bound_specs: dict = {}  # spec_id -> bound spec (spec_by_id re-binds)
    for t_ in tasks:
        f = t_.file
        sid = getattr(f, "spec_id", md.default_spec_id)
        spec = bound_specs.get(sid)
        if spec is None:
            spec = bound_specs[sid] = md.spec_by_id(sid) or md.spec
        comps = []
        for pf in spec.fields:
            v = f.partition.get(pf.name)
            enc = "__HIVE_DEFAULT_PARTITION__" if v is None else \
                urllib.parse.quote(str(encode_value(v, pf.bound_transform()
                                                    .result_type(
                                                        pf.source_type
                                                        or "string"))),
                                   safe="")
            comps.append(f"{pf.name}={enc}")
        by_dir.setdefault(os.path.join(*comps) if comps else "",
                          []).append(os.path.abspath(f.file_path))

    written = []
    for rel, paths in sorted(by_dir.items()):
        d = os.path.join(dest_dir, rel) if rel else dest_dir
        os.makedirs(d, exist_ok=True)
        mpath = os.path.join(d, "manifest.txt")
        with open(mpath + ".tmp", "w") as fh:
            fh.write("\n".join(sorted(paths)) + "\n")
        os.replace(mpath + ".tmp", mpath)  # atomic per-partition swap
        written.append(mpath)
    # partitions that dropped out of the snapshot must lose their manifest
    # too, or a re-export leaves stale file lists pointing at dead data —
    # the exact inconsistency this function exists to prevent
    removed = []
    current = set(written)
    for root, _dirs, files in os.walk(dest_dir):
        for fn in files:
            p = os.path.join(root, fn)
            if fn == "manifest.txt" and p not in current:
                os.unlink(p)
                removed.append(p)
    return {"manifests": written,
            "files": sum(len(p) for p in by_dir.values()),
            "stale_removed": len(removed),
            "snapshot_id": snap.snapshot_id if snap else None}


def remove_dangling_deletes(table) -> dict:
    """Drop v2 delete files that no longer apply to ANY live data file
    (ref: RewriteDataFiles' remove-dangling-deletes option layered on
    DeleteFileIndex applicability).

    A delete entry dangles once every data file it could hit is gone:
    equality deletes when no live data file has a strictly lower
    sequence number (compaction rewrote them higher), position deletes
    when their target files were removed.  Reads already ignore dangling
    entries — but they bloat manifests and pay the per-scan matching
    forever, and growing metadata is exactly what the maintenance plane
    exists to bound.

    Applicability is recomputed METADATA-ONLY with the same
    match_deletes index the scan path uses, so "dangling" here is by
    construction "ignored by every read".  The removal commit uses the
    strictest conflict fence (any concurrent commit invalidates the
    computation and raises for a re-plan)."""
    from linkedin_iceberg_spark.catalog.metadata import OP_REPLACE
    from linkedin_iceberg_spark.catalog.scan import match_deletes

    entries, delete_entries = table._live_data_and_deletes()
    if not delete_entries:
        return {"removed_delete_files": 0}
    attached = set()
    for t_ in match_deletes(entries, delete_entries):
        for d in t_.deletes:
            attached.add(d.data_file.file_path)
    dangling = [d for d in delete_entries
                if d.data_file.file_path not in attached]
    if not dangling:
        return {"removed_delete_files": 0}
    table._commit_file_swap(
        removed=dangling, added=[], operation=OP_REPLACE,
        seen_paths={e.data_file.file_path
                    for e in entries + delete_entries},
        conflict_fn=lambda e: True)
    return {"removed_delete_files": len(dangling)}


def rewrite_position_deletes(table,
                             target_size_bytes: int = TARGET_FILE_SIZE,
                             min_input_files: int = 2) -> dict:
    """Compact v2 position-delete files (the modern
    RewritePositionDeleteFiles action; this fork's analog discipline is
    merge/expire on every growing metadata surface, ref:
    core/.../ManifestMergeManager.java:39-96).  Every row-level DML adds
    another small pos-delete file; reads pay per-file matching forever
    until the maintenance plane folds them.

    One pass does three things:
      * MERGES many small delete files into right-sized ones,
      * DEDUPES repeated (file_path, pos) rows across inputs (two DMLs
        may have deleted the same row),
      * PURGES rows referencing data files no longer live — the per-ROW
        danglers remove_dangling_deletes cannot drop because their file
        also covers live paths.

    Output files are range-clustered and sorted by (file_path, pos), so
    each output's referenced-path bounds are TIGHT and non-overlapping —
    _pos_delete_may_hit then attaches each delete file to the narrowest
    possible band of data files (the pruning that matters at 100 TB).

    Sequence-number note: rewritten deletes land at the NEW commit's
    sequence number.  That is safe because position deletes match by
    explicit file_path (paths are unique and never reused), so a higher
    sequence number cannot make a delete row hit data it didn't already
    hit; file-level over-attachment to newer files inside the path range
    costs a skipped anti-join at worst, never a wrong row.

    Scale: reading/writing delete files is a distributed Spark job; the
    live-path list is metadata-sized (one row per data file) and joins
    by BROADCAST.  The commit uses the strict conflict fence — any
    concurrent commit invalidates the purge computation and raises for
    a re-plan."""
    from pyspark.sql import functions as F

    from linkedin_iceberg_spark.catalog import manifests as M
    from linkedin_iceberg_spark.catalog.metadata import OP_REPLACE
    from linkedin_iceberg_spark.catalog.row_delta import (
        _write_delete_parquet)

    entries, delete_entries = table._live_data_and_deletes()
    pos = [d for d in delete_entries
           if d.data_file.content == M.CONTENT_POSITION_DELETES]
    if not pos:
        return {"rewritten_delete_files": 0, "added_delete_files": 0,
                "purged_rows": 0}

    spark = table.spark
    src = spark.read.parquet(
        *[d.data_file.file_path for d in pos]).select("file_path", "pos")
    live = sorted({e.data_file.file_path for e in entries})
    live_df = spark.createDataFrame([(p,) for p in live],
                                    "file_path: string")
    # size-gated like every metadata-driven join hint (deletes.py):
    # one row per LIVE DATA FILE — a million-file table would force a
    # ~100MB broadcast here; past the gate the semi-shape join shuffles
    from linkedin_iceberg_spark.catalog.deletes import _maybe_broadcast
    kept = (src.join(_maybe_broadcast(live_df, len(live)), "file_path")
            .dropDuplicates(["file_path", "pos"]))
    # one materialization total: the input row count comes from manifest
    # record_counts (exact for delete files, zero I/O) and `kept` is
    # persisted across its count and the clustered write
    n_src = sum(d.data_file.record_count for d in pos)
    kept = kept.persist()
    try:
        n_kept = kept.count()
        purged = n_src - n_kept
        if purged == 0 and len(pos) < min_input_files:
            return {"rewritten_delete_files": 0, "added_delete_files": 0,
                    "purged_rows": 0}

        new_files: list = []
        if n_kept:
            total = sum(d.data_file.file_size_in_bytes for d in pos)
            n_out = max(1, (total + target_size_bytes - 1)
                        // target_size_bytes)
            clustered = (kept.repartitionByRange(n_out, "file_path", "pos")
                         .sortWithinPartitions("file_path", "pos"))
            new_files = _write_delete_parquet(
                table, clustered, M.CONTENT_POSITION_DELETES, [])
    finally:
        kept.unpersist()

    table._commit_file_swap(
        removed=pos, added=new_files, operation=OP_REPLACE,
        seen_paths={e.data_file.file_path
                    for e in entries + delete_entries},
        conflict_fn=lambda e: True)
    return {"rewritten_delete_files": len(pos),
            "added_delete_files": len(new_files),
            "purged_rows": int(purged)}


def purge_where(table, expr, older_than_ms: Optional[int] = None,
                drop_refs: bool = False) -> dict:
    """Right-to-be-forgotten: remove matching rows AND every physical
    trace of them — a composite of this module's primitives in the one
    order that actually erases bytes (each step alone leaves copies):

      1. ``delete_where(expr)``   — rows leave the CURRENT snapshot, but
         metadata-only whole-file drops leave the bytes on disk, and CoW
         leaves the ORIGINAL files reachable from history;
      2. ``rewrite_data_files``   — materializes any pre-existing v2
         deletes still masking matching rows inside kept files
         (delete-laden files are compaction candidates regardless of
         size), so no live data file carries masked copies;
      3. ``remove_dangling_deletes`` — drops equality-delete files whose
         guarded files are gone; relevant here because eq-delete files
         CONTAIN the deleted key values (a purge that leaves them
         reachable still leaks the keys);
      4. ``expire_snapshots(retain_last=1)`` — severs history so no
         reachable snapshot references the pre-purge files, physically
         deleting them via the reachability diff.

    Remaining copies after this: only files held by a failed writer's
    staging dir (remove_orphan_files after its age gate) or external
    backups.  The gc fence applies: purging a table with zero-copy
    clones raises instead of corrupting them.  `older_than_ms` bounds
    step 4 (default: everything but the purge commit).

    Named refs and staged WAP snapshots PIN history past step 4 —
    an erasure that silently left a tagged pre-purge snapshot readable
    would not be an erasure.  purge_where therefore refuses while any
    tag, branch, or staged snapshot exists; with ``drop_refs=True`` it
    drops them all first (the explicit opt-in that makes the erasure
    total)."""
    table.refresh()
    # fence FIRST: a purge that deletes rows and then fails on the
    # expire step would leave a half-applied erasure
    _check_gc_enabled(table, "purge_where")
    md = table.metadata
    if md.refs or md.staged_wap:
        if not drop_refs:
            raise ValueError(
                "purge_where: named refs/staged snapshots pin history — "
                f"tags/branches {sorted(md.refs)} staged "
                f"{sorted(md.staged_wap)} would keep pre-purge files "
                "readable.  Pass drop_refs=True to drop them all, or "
                "drop them by hand first")
        for name in sorted(md.refs):
            if table.metadata.ref_types.get(name) == "branch":
                table.drop_branch(name)
            else:
                table.drop_tag(name)

        def _clear_wap(base):
            import dataclasses
            m = dataclasses.replace(base)
            m.staged_wap = {}
            return m
        table._commit_metadata_edit(_clear_wap)
    out = {}
    table.delete_where(expr)
    out["compaction"] = rewrite_data_files(table, min_input_files=2)
    out["dangling"] = remove_dangling_deletes(table)
    out["expire"] = expire_snapshots(
        table, older_than_ms=older_than_ms, retain_last=1)
    return out


def vacuum_stats(table, dry_run: bool = False) -> dict:
    """GC the advisory stats planes (r10): drop store rows whose
    ``file_path`` is referenced by NO snapshot.

    Every per-file stats plane (the kinds of stats_store.py) keys its
    rows by immutable data-file path, so
    entries never go STALE; but after compaction / expiry the dead
    paths linger and every plan-time probe scans them forever.  This
    action rewrites each leaf store with only the rows whose path some
    snapshot still references (the same all-snapshots reference set
    remove_orphan_files uses — time travel to ANY retained snapshot
    keeps its store rows).

    The secondary key index (index/) is NOT touched: it has its own
    snapshot-stamped freshness contract (key_index.py) and rebuilding
    it is the documented remedy.

    No gc.enabled gate: the stores are advisory (absence only costs
    pruning, never correctness), and the swap is per-leaf-dir — a crash
    between swaps loses at most one store directory, which the next
    ``analyze_*`` call rebuilds for live files.

    Scale: one manifest read for the reference set; per store a
    left_semi join of (store rows) x (referenced paths) — both sides
    one row per FILE, metadata-sized at any corpus scale; the rewrite
    coalesces to one part (a store is ~bytes-per-file, not per-row).

    Returns {"rows_dropped": total, "stores": {relpath: dropped}}."""
    table.refresh()
    spark = table.spark
    md = table.metadata

    lists = [table.ops.new_metadata_path(s.manifest_list)
             for s in md.snapshots]
    if lists:
        man_paths = [table.ops.new_metadata_path(r.manifest_path)
                     for r in spark.read.parquet(*lists)
                     .select("manifest_path").distinct().collect()]
        valid = spark.read.parquet(*man_paths) \
            .select("file_path").distinct()
    else:
        valid = spark.createDataFrame([], "file_path string")

    # collect leaf stores first (the swap renames dirs); leftovers of
    # a run that died mid-swap are not leaves (stats_store.leaves)
    from linkedin_iceberg_spark.catalog.stats_store import leaves
    stores: dict = {}
    for store in leaves(table):
        dropped = store.retain(valid, dry_run)
        if dropped:
            stores[os.path.relpath(store.path, md.location)] = dropped
    total_dropped = sum(stores.values())
    return {"rows_dropped": total_dropped, "stores": stores,
            "dry_run": dry_run}
