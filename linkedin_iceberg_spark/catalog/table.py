"""Table: append / overwrite / delete / scan / time travel / snapshot management.

Write path (ref: core/.../io/PartitionedWriter.java + spark2/.../Writer.java):
  1. derive hidden-partition columns as Spark Columns (JVM-side except bucket)
  2. cluster by partition key (repartition + sortWithinPartitions — the
     reference's PartitionedWriter requires key-clustered input, W15)
  3. write parquet into a per-commit staging dir (files are immutable; no
     in-place mutation anywhere)
  4. read footers back for exact per-column stats (driver-side pyarrow pass
     over only the new files, same as the reference's commit path)
  5. commit: new manifest + manifest list + metadata JSON via CAS with
     4-retry exponential backoff (ref: SnapshotProducer.java:249-285,
     util/Tasks.java:161-176)

Scale note: everything driver-side here is O(files-in-commit) or
O(manifests), never O(rows) — the same envelope that lets the reference plan
multi-petabyte tables from one node."""

from __future__ import annotations

import os
import random
import re
import time
import urllib.parse
import uuid
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog import manifests as M
from linkedin_iceberg_spark.catalog.metadata import (
    OP_APPEND,
    OP_DELETE,
    OP_OVERWRITE,
    OP_REPLACE,
    CommitFailedException,
    ValidationException,
    Snapshot,
    TableMetadata,
    TableOperations,
)
from linkedin_iceberg_spark.catalog.spec import PartitionSpec
from linkedin_iceberg_spark.catalog.serde import decode_value
from linkedin_iceberg_spark.catalog.stats import collect_file_stats
from linkedin_iceberg_spark.expressions import (
    Evaluator,
    Expression,
    StrictMetricsEvaluator,
    always_true,
    bind,
    inclusive_projection,
    strict_projection,
    to_spark_column,
)
from linkedin_iceberg_spark.schema import Schema

COMMIT_NUM_RETRIES = 4  # ref: TableProperties.java:27


def _new_snapshot_id() -> int:
    return uuid.uuid4().int >> 75  # 53-bit positive id (JSON-safe)


class Table:
    # None = the main lineage; a branch handle (Table.branch) sets the
    # branch name here — reads resolve through the branch head and
    # commits advance the branch ref instead of main
    _branch: Optional[str] = None

    def __init__(self, spark: SparkSession, ops: TableOperations,
                 metadata: TableMetadata, version: int, name: str = ""):
        self.spark = spark
        self.ops = ops
        self.metadata = metadata
        self.version = version
        self.name = name or os.path.basename(ops.location)

    # ------------------------------------------------------------------ api
    @property
    def schema(self) -> Schema:
        return self.metadata.schema

    @property
    def spec(self) -> PartitionSpec:
        return self.metadata.spec

    @property
    def location(self) -> str:
        return self.metadata.location

    @property
    def properties(self) -> dict:
        return self.metadata.properties

    def _column_metrics_modes(self) -> dict:
        """Per-column metrics overrides from
        ``write.metadata.metrics.column.<name>`` properties (ref:
        TableProperties METRICS_MODE_COLUMN_CONF_PREFIX) — e.g. turn a
        giant text/binary column's bounds off (``none``/``counts``) or
        keep an URL column's bounds exact (``full``)."""
        prefix = "write.metadata.metrics.column."
        return {k[len(prefix):]: v for k, v in self.properties.items()
                if k.startswith(prefix)}

    def refresh(self) -> "Table":
        md = self.ops.refresh()
        if md is not None:
            self.metadata = md
            self.version = getattr(md, "_version", self.version)
        return self

    def snapshots(self) -> list:
        return list(self.metadata.snapshots)

    def current_snapshot(self):
        if self._branch is not None:
            sid = self.metadata.refs.get(self._branch)
            if sid is None:
                raise ValueError(f"branch {self._branch!r} no longer exists")
            return self.metadata.snapshot_by_id(sid)
        return self.metadata.current_snapshot

    def history(self) -> list:
        return list(self.metadata.snapshot_log)

    # ----------------------------------------------------------- data write
    def _partition_columns(self, df: DataFrame) -> tuple:
        spec = self.spec
        write_cols = []
        for pf in spec.fields:
            t = pf.bound_transform()
            c = t.to_spark_column(F.col(pf.source_name))
            if t.result_type(pf.source_type or "string") == "string":
                # Spark's partitionBy renders BOTH null and "" as
                # __HIVE_DEFAULT_PARTITION__, collapsing two distinct
                # partition values into one directory.  Prefix non-null
                # string values ("v" + value) so the directory encoding is
                # injective; _collect_data_files strips it on decode.
                c = F.when(c.isNotNull(), F.concat(F.lit("v"), c))
            df = df.withColumn(pf.write_col, c)
            write_cols.append(pf.write_col)
        return df, write_cols

    @property
    def file_format(self) -> str:
        """Data file format (ref: TableProperties DEFAULT_FILE_FORMAT,
        S14-S16: parquet/avro/orc).  Avro has no spark-avro jar in this
        environment, so it runs through the pure-Python container codec
        inside mapInPandas tasks (sources/avro_spark.py)."""
        fmt = self.properties.get("write.format-default", "parquet").lower()
        if fmt not in ("parquet", "orc", "avro"):
            raise ValueError(f"unsupported write.format-default: {fmt}")
        return fmt

    def _write_data_files(self, df: DataFrame,
                          sort_by: Optional[list] = None) -> list:
        """Write df into a fresh staging dir (format per table property);
        return DataFile list.  `sort_by` additionally orders rows inside
        each partition cluster so file stats bounds are tight (see
        maintenance.rewrite_data_files)."""
        staging = os.path.join(self.location, "data", uuid.uuid4().hex[:12])
        schema = self.schema
        fmt = self.file_format
        cols = schema.column_names()
        df = df.select(*cols)  # enforce column order == table schema
        zorder_cols = None
        if sort_by is None:
            # table-level sort order: every write clusters rows so file
            # stats stay tight from the first append (the reference's
            # write-order table property; compaction sort_by overrides).
            # zorder(c1,c2,...) orders by the Morton interleave instead:
            # multi-dimensional clustering at write time, so range
            # predicates on EVERY z-column prune files
            prop = self.properties.get("write.sort-by")
            if prop:
                zm = re.match(r"zorder\s*\((.+)\)\s*$", prop.strip(),
                              re.IGNORECASE)
                if zm:
                    zorder_cols = [c.strip()
                                   for c in zm.group(1).split(",")]
                else:
                    sort_by = [c.strip() for c in prop.split(",")
                               if c.strip()]
        if zorder_cols:
            from linkedin_iceberg_spark.catalog.zorder import zorder_value
            df = df.withColumn("_liceberg_z",
                               zorder_value(df, zorder_cols))
            sort_by = ["_liceberg_z"]
        df, write_cols = self._partition_columns(df)
        # ref: TableProperties WRITE_DISTRIBUTION_MODE (none/hash/range).
        #   hash (default): cluster by partition key — one writer-open per
        #     partition (W15), one task per partition.
        #   range: range-partition on (partition key, sort columns) — a
        #     GIANT partition splits across tasks in contiguous sort
        #     ranges instead of funneling through one writer (the skewed-
        #     partition write fix), each file still covers a tight bound.
        #   none: no exchange — trust the incoming distribution (the
        #     low-shuffle path when the plan already clustered, e.g. a
        #     z-order rewrite or a repartitionByRange upstream).
        dist = self.properties.get("write.distribution-mode", "hash")
        if dist not in ("hash", "range", "none"):
            raise ValueError(f"unsupported write.distribution-mode: {dist}")
        if write_cols:
            if dist == "hash":
                df = df.repartition(*write_cols) \
                    .sortWithinPartitions(*write_cols, *(sort_by or []))
            elif dist == "range":
                df = df.repartitionByRange(*write_cols, *(sort_by or [])) \
                    .sortWithinPartitions(*write_cols, *(sort_by or []))
            else:
                df = df.sortWithinPartitions(*write_cols, *(sort_by or []))
        elif sort_by:
            if dist == "range":
                # unpartitioned + range mode: globally range-cluster on
                # the sort columns so FILES carry disjoint min/max
                # bounds — the layout that makes metrics skipping
                # effective on high-cardinality non-partition keys
                df = df.repartitionByRange(*sort_by) \
                    .sortWithinPartitions(*sort_by)
            else:
                df = df.sortWithinPartitions(*sort_by)
        if zorder_cols:
            df = df.drop("_liceberg_z")  # clustering key, not data
        if fmt == "avro":
            from linkedin_iceberg_spark.sources.avro_spark import (
                write_avro_files)
            write_avro_files(df, write_cols, staging, schema,
                             self.spec.partition_type())
            return self._collect_data_files(staging, write_cols, fmt)
        writer = df.write.mode("errorifexists")
        max_records = self.properties.get("write.target-max-records-per-file")
        if max_records:
            writer = writer.option("maxRecordsPerFile", int(max_records))
        if write_cols:
            writer = writer.partitionBy(*write_cols)
        writer.format(fmt).save(staging)
        return self._collect_data_files(staging, write_cols, fmt)

    def _relocate_object_store(self, found: list, staging: str) -> list:
        """Hashed data-file layout (ref: core/.../LocationProviders.java:
        67-106 ObjectStoreLocationProvider): object stores throttle per
        key PREFIX, so a 100 TB table whose every file lands under one
        .../data/ prefix turns that prefix into the write/read
        bottleneck.  With ``write.object-storage.enabled=true`` each
        fresh file moves to ``data/<%08x bucket-hash>/<context>/
        <partition path>/<filename>`` — the LEADING hash (murmur3 bucket
        of the partition-relative path, Integer.MAX_VALUE buckets, the
        reference's exact recipe) spreads keys across prefixes, the
        trailing context (last two components of the table location)
        keeps files attributable to their table.  Readers never notice:
        manifests record absolute paths.  Driver cost is one rename per
        file — the same O(files) class as the footer-stats pass."""
        import shutil

        from linkedin_iceberg_spark.transforms.transforms import (
            BucketTransform)
        hash_fn = BucketTransform(0x7FFFFFFF, "string")
        loc = self.location.rstrip("/")
        parent = os.path.dirname(loc)
        context = os.path.join(os.path.basename(parent),
                               os.path.basename(loc)) \
            if parent else os.path.basename(loc)
        out = []
        for fpath, partition in found:
            rel = os.path.relpath(fpath, staging)
            h = hash_fn.apply(rel.replace(os.sep, "/"))
            dest_dir = os.path.join(self.location, "data", f"{h:08x}",
                                    context, os.path.dirname(rel)) \
                if os.path.dirname(rel) else \
                os.path.join(self.location, "data", f"{h:08x}", context)
            os.makedirs(dest_dir, exist_ok=True)
            dest = os.path.join(dest_dir, os.path.basename(fpath))
            os.replace(fpath, dest)
            out.append((dest, partition))
        # the emptied staging tree goes away so orphan scans stay clean
        shutil.rmtree(staging, ignore_errors=True)
        return out

    def _collect_data_files(self, staging: str, write_cols: list,
                            fmt: str = "parquet") -> list:
        from concurrent.futures import ThreadPoolExecutor

        spec = self.spec
        ptypes = spec.partition_type()
        prefix_len = len("_p_")
        ext = ".orc" if fmt == "orc" else f".{fmt}"
        found = []  # (fpath, partition)
        for root, _dirs, files in os.walk(staging):
            for fn in files:
                if fn.startswith((".", "_")) or not fn.endswith(ext):
                    continue
                fpath = os.path.join(root, fn)
                rel = os.path.relpath(root, staging)
                partition = {}
                if rel != ".":
                    for comp in rel.split(os.sep):
                        if "=" not in comp:
                            continue
                        k, v = comp.split("=", 1)
                        name = k[prefix_len:] if k.startswith("_p_") else k
                        v = urllib.parse.unquote(v)
                        if v == "__HIVE_DEFAULT_PARTITION__":
                            partition[name] = None
                        else:
                            t = ptypes.get(name, "string")
                            if t == "string" and v.startswith("v"):
                                v = v[1:]  # strip the injective-encoding prefix
                            partition[name] = decode_value(v, t)
                found.append((fpath, partition))

        if self.properties.get("write.object-storage.enabled",
                               "false").lower() in ("true", "1"):
            found = self._relocate_object_store(found, staging)

        schema = self.schema

        # ref: TableProperties.java:116 DEFAULT_WRITE_METRICS_MODE
        metrics_mode = self.properties.get(
            "write.metadata.metrics.default", "truncate(16)")
        column_modes = self._column_metrics_modes()

        def build(item):
            fpath, partition = item
            if fmt == "orc":
                from linkedin_iceberg_spark.catalog.stats import (
                    collect_orc_file_stats)
                stats = collect_orc_file_stats(fpath, schema)
            elif fmt == "avro":
                # counts mode: record count from block headers, no decode
                from linkedin_iceberg_spark.sources.avro_codec import (
                    count_avro_records)
                stats = {
                    "record_count": count_avro_records(fpath),
                    "file_size_in_bytes": os.path.getsize(fpath),
                    "value_counts": {}, "null_value_counts": {},
                    "nan_value_counts": {}, "lower_bounds": {},
                    "upper_bounds": {},
                }
            else:
                stats = collect_file_stats(fpath, schema, metrics_mode,
                                           column_modes=column_modes)
            return M.DataFile(
                file_path=fpath,
                file_format=fmt,
                partition=partition,
                record_count=stats["record_count"],
                file_size_in_bytes=stats["file_size_in_bytes"],
                value_counts=stats["value_counts"],
                null_value_counts=stats["null_value_counts"],
                nan_value_counts=stats["nan_value_counts"],
                lower_bounds=stats["lower_bounds"],
                upper_bounds=stats["upper_bounds"],
                spec_id=spec.spec_id,
                schema_id=self.metadata.current_schema_id,
            )

        # footer reads are I/O bound — parallelize (commit-path analog of the
        # reference's worker-pool manifest writes)
        if len(found) > 4:
            with ThreadPoolExecutor(max_workers=16) as pool:
                return list(pool.map(build, found))
        return [build(it) for it in found]

    # ------------------------------------------------------------ commit ops
    def _types_by_id(self) -> dict:
        return {f.field_id: f.type for f in self.schema.fields
                if isinstance(f.type, str)}

    def _commit(self, build_fn: Callable, operation: str,
                wap_id: Optional[str] = None,
                seq_span: int = 1) -> "Table":
        """Optimistic commit loop (ref: SnapshotProducer.commit:249-285).

        build_fn(base_metadata, snapshot_id, sequence_number)
          -> (manifest_list_infos, summary, set_current)

        ``seq_span``: how many sequence numbers this commit consumes.
        build_fn receives the FIRST; the snapshot records the LAST
        (seq + span - 1), so the table's sequence space advances past
        every per-entry number the build assigned — merge_branch lands
        an n-commit series in ONE atomic commit this way, each
        re-applied branch commit keeping its own ordinal so delete
        scoping ("strictly older") replays exactly."""
        if self._branch is not None and wap_id is not None:
            raise ValueError("WAP staging and branch commits are separate "
                             "isolation mechanisms; pick one")
        attempt = 0
        while True:
            base = self.ops.refresh() or self.metadata
            version = getattr(base, "_version", 0)
            snap_id = _new_snapshot_id()
            seq = base.next_sequence_number()
            if self._branch is not None:
                # commit ON a branch: build against the BRANCH head (so
                # appends chain and DML plans see branch state), publish by
                # advancing the branch ref — main's head and snapshot log
                # never move.  Sequence numbers stay table-global, exactly
                # like the v2 format across refs.
                head = base.refs.get(self._branch)
                if head is None or \
                        base.ref_types.get(self._branch) != "branch":
                    raise ValueError(
                        f"branch {self._branch!r} was dropped concurrently")
                import dataclasses
                build_base = dataclasses.replace(base)
                build_base.current_snapshot_id = head
            else:
                build_base = base
            infos, summary, extra = build_fn(build_base, snap_id, seq)
            if wap_id is not None:
                summary = {**summary, "wap.id": wap_id}
            ml_name = M.manifest_list_name(snap_id)
            ptypes = base.all_partition_types()
            M.write_manifest_list(self.ops.new_metadata_path(ml_name), infos, ptypes)
            snap = Snapshot(
                snapshot_id=snap_id,
                parent_snapshot_id=build_base.current_snapshot_id,
                sequence_number=seq + seq_span - 1,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                manifest_list=ml_name,
                summary=summary,
                schema_id=base.current_schema_id,
            )
            if self._branch is not None:
                md = base.with_snapshot(snap, set_current=False)
                md.refs = {**md.refs, self._branch: snap_id}
                staged = False
            else:
                staged = wap_id is not None
                md = base.with_snapshot(snap, set_current=not staged)
                if staged:
                    md.staged_wap = {**md.staged_wap, wap_id: snap_id}
            try:
                new_version = self.ops.commit(version, md)
                md._version = new_version  # type: ignore[attr-defined]
                self.metadata, self.version = md, new_version
                # ref: FastAppend.java:152 CreateSnapshotEvent on commit.
                # Inside a Transaction, ops is a _StagedOps: the snapshot is
                # not durable yet, so the event is queued and emitted by
                # Transaction.commit after the real atomic publish (the
                # reference fires listeners only on durable commits).
                from linkedin_iceberg_spark import events as EV
                ev = EV.CreateSnapshotEvent(
                    self.name, operation, snap_id, seq, summary)
                pending = getattr(self.ops, "pending_events", None)
                if pending is not None:
                    pending.append(ev)
                else:
                    EV.notify_all(ev)
                return self
            except CommitFailedException:
                attempt += 1
                if attempt > COMMIT_NUM_RETRIES:
                    raise
                # exponential backoff w/ jitter (ref: Tasks.java:161-176)
                time.sleep(min(0.1 * (2 ** attempt) * (1 + random.random()), 2.0))

    def _base_manifest_infos(self, base: TableMetadata) -> list:
        snap = base.current_snapshot
        if snap is None:
            return []
        ptypes = base.all_partition_types()
        return M.read_manifest_list(self.ops.new_metadata_path(snap.manifest_list),
                                    ptypes)

    def append(self, df: DataFrame, wap_id: Optional[str] = None,
               merge_schema: bool = False,
               extra_summary: Optional[dict] = None) -> "Table":
        """FastAppend semantics: new manifest per commit, never rewrites old
        manifests (ref: core/.../FastAppend.java).  Manifest merging is done
        by maintenance.rewrite_manifests (A2).

        merge_schema=True evolves the table by union-by-name first (ref:
        SchemaUpdate.applyChanges:403-406): new df columns are added as
        optional fields; missing table columns are written as null.

        extra_summary entries land in the snapshot summary verbatim —
        the `snapshot-property.*` write-option plane of the reference
        (spark/.../TestDataSourceOptions.java:369
        testExtraSnapshotMetadata): lineage tags, job ids, audit keys."""
        if merge_schema:
            self._merge_schema(df)
            cols = []
            for f in self.schema.fields:
                if f.name in df.columns:
                    cols.append(F.col(f.name))
                else:
                    from linkedin_iceberg_spark.schema import type_to_spark
                    cols.append(F.lit(None).cast(type_to_spark(f.type))
                                .alias(f.name))
            df = df.select(*cols)
        files = self._write_data_files(df)
        out = self._commit_append_files(files, wap_id=wap_id,
                                        extra_summary=extra_summary)
        self._auto_analyze()
        return out

    def _auto_analyze(self) -> None:
        """Write-time stats maintenance, property-driven: with
        ``stats.auto`` set (e.g. ``kmv:user_id,doc_id;dict:lang;
        bloom:doc_id;dictpair:lang+source``), an
        append incrementally extends the named per-file stores — only
        the files this commit added get sketched, so the cost rides on
        the write, and approx_count_distinct / dictionary skipping stay
        metadata-only without a separate ANALYZE cadence.  Best-effort
        by design: a stats failure must never fail the data commit
        (every consumer falls back to live computation for uncovered
        files with identical values), so errors are swallowed."""
        spec = (self.properties or {}).get("stats.auto")
        if not spec:
            return
        from linkedin_iceberg_spark.catalog.stats_store import auto_analyze
        try:
            auto_analyze(self, spec)
        except Exception:
            pass  # stats are advisory; the write already committed

    @staticmethod
    def _rolling_totals(base: TableMetadata, d_files: int = 0,
                        d_records: int = 0,
                        d_delete_files: int = 0) -> dict:
        """SnapshotSummary rolling totals (ref: core/.../SnapshotSummary
        total-records / total-data-files / total-delete-files): the
        parent snapshot's totals plus this commit's deltas — O(1) per
        commit, an O(1) answer to "how big is this table" per snapshot.
        A parent WITHOUT totals (created before this field existed)
        yields no totals rather than wrong ones; fresh tables carry them
        from their first snapshot.  Informational only — reads never
        depend on them."""
        snap = base.current_snapshot
        if snap is None:
            prev = {"total-data-files": "0", "total-records": "0",
                    "total-delete-files": "0"}
        else:
            prev = snap.summary or {}
            if "total-records" not in prev:
                return {}
        return {
            "total-data-files": str(max(
                int(prev["total-data-files"]) + d_files, 0)),
            "total-records": str(max(
                int(prev["total-records"]) + d_records, 0)),
            "total-delete-files": str(max(
                int(prev["total-delete-files"]) + d_delete_files, 0)),
        }

    def _commit_append_files(self, files: list,
                             wap_id: Optional[str] = None,
                             extra_summary: Optional[dict] = None) -> "Table":
        """Commit pre-built DataFiles as a fast append (shared by append()
        and the in-place import path)."""
        types_by_id = self._types_by_id()

        def build(base, snap_id, seq):
            entries = [M.ManifestEntry(M.STATUS_ADDED, snap_id, seq, f)
                       for f in files]
            ptypes = base.all_partition_types()
            mname = M.new_manifest_name()
            info = M.write_manifest(self.ops.new_metadata_path(mname), entries,
                                    types_by_id, ptypes)
            info.manifest_path = mname
            infos = [info, *self._base_manifest_infos(base)]
            infos = self._merge_small_manifests(infos, base)
            summary = {
                "added-data-files": str(len(files)),
                "added-records": str(sum(f.record_count for f in files)),
                "added-files-size": str(sum(f.file_size_in_bytes for f in files)),
                **self._rolling_totals(
                    base, d_files=len(files),
                    d_records=sum(f.record_count for f in files)),
                **(extra_summary or {}),
            }
            return infos, summary, None

        return self._commit(build, OP_APPEND, wap_id=wap_id)

    # manifest merge on commit (ref: core/.../ManifestMergeManager.java,
    # TableProperties.java:38-45: target 8 MB, min-count 100, enabled)
    MANIFEST_MIN_MERGE_COUNT_DEFAULT = 100
    MANIFEST_TARGET_ENTRIES = 10_000  # ~8 MB of parquet manifest rows

    def _merge_small_manifests(self, infos: list, base: TableMetadata) -> list:
        """Merge small manifests at commit time once their count passes
        commit.manifest.min-count-to-merge, so a long-lived table with
        thousands of appends keeps planning O(merged manifests) without
        waiting for a manual rewrite_manifests() (the reference's default
        MergeAppend behavior).  Delete manifests are binned separately from
        data manifests; large manifests pass through untouched."""
        props = self.properties
        if props.get("commit.manifest-merge.enabled", "true").lower() \
                not in ("true", "1"):
            return infos
        min_count = int(props.get("commit.manifest.min-count-to-merge",
                                  self.MANIFEST_MIN_MERGE_COUNT_DEFAULT))
        if len(infos) < min_count:
            return infos
        target = self.MANIFEST_TARGET_ENTRIES
        types_by_id = self._types_by_id()
        ptypes = base.all_partition_types()

        out: list = []
        for content in sorted({i.content for i in infos}):
            group = [i for i in infos if i.content == content]
            small = [i for i in group
                     if (i.added_files_count + i.existing_files_count)
                     < target]
            out.extend(i for i in group if i not in small)
            # bin-pack small manifests up to the target entry count
            bins: list = []
            cur: list = []
            cur_n = 0
            for i in small:
                n = i.added_files_count + i.existing_files_count
                if cur and cur_n + n > target:
                    bins.append(cur)
                    cur, cur_n = [], 0
                cur.append(i)
                cur_n += n
            if cur:
                bins.append(cur)
            for b in bins:
                if len(b) == 1:
                    out.append(b[0])
                    continue
                merged: list = []
                for i in b:
                    for e in M.read_manifest(
                            self.ops.new_metadata_path(i.manifest_path),
                            types_by_id, ptypes):
                        if e.status == M.STATUS_DELETED:
                            continue
                        merged.append(M.ManifestEntry(
                            M.STATUS_EXISTING, e.snapshot_id,
                            e.sequence_number, e.data_file))
                name = M.new_manifest_name()
                info = M.write_manifest(self.ops.new_metadata_path(name),
                                        merged, types_by_id, ptypes)
                info.manifest_path = name
                out.append(info)
        return out

    def _merge_schema(self, df: DataFrame) -> None:
        """Union-by-name schema evolution for merge_schema appends."""
        from linkedin_iceberg_spark.schema import Schema as _S
        incoming = _S.from_spark(df.schema)
        known = {f.name for f in self.schema.fields}
        new_fields = [f for f in incoming.fields if f.name not in known]
        if not new_fields:
            return
        up = self.update_schema()
        for f in new_fields:
            up.add_column(f.name, f.type if isinstance(f.type, str)
                          else f.type)
        up.commit()

    # ------------------------------------------------------ in-place import
    def add_files(self, source_dir: str, fmt: str = "parquet") -> "Table":
        """Metadata-only import of EXISTING files — no data rewrite.

        The 100 TB counterpart of ``Catalog.migrate`` (which is CTAS and
        copies every row): list the files under ``source_dir``, read
        parquet footers for per-column metrics (distributed over executors
        when the file count is large), recover Hive-style ``k=v`` partition
        values from the directory names, and commit manifest entries that
        point at the original files (ref: spark/.../SparkTableUtil.java:
        122-280 importSparkTable/listPartition — same design: partition
        listing + footer metrics + append, data left in place).

        Name mapping (ref: core/.../mapping/NameMapping.java,
        MappingUtil.java): imported files carry no engine field ids, so
        physical columns are matched to the table schema BY NAME at import
        time — the import-time schema is recorded as the files' written
        schema, after which normal field-id alignment applies.  Later
        renames/moves/adds therefore never corrupt imported files.

        Hive-layout caveats: only identity partitioning can be recovered
        from directory names, and ``__HIVE_DEFAULT_PARTITION__`` decodes to
        null (Hive itself collapses null and empty string)."""
        source_dir = os.path.abspath(source_dir)
        spec = self.spec
        schema = self.schema
        by_source = {}
        for pf in spec.fields:
            if pf.transform_str != "identity":
                raise ValueError(
                    "add_files recovers partition values from Hive directory "
                    f"names; non-identity transform {pf.transform_str!r} on "
                    f"{pf.source_name!r} cannot be recovered — use migrate() "
                    "(CTAS) for transformed partitioning")
            by_source[pf.source_name] = pf

        ext = ".orc" if fmt == "orc" else f".{fmt}"
        found = []  # (fpath, partition dict keyed by pf.name)
        if os.path.isfile(source_dir):
            if spec.is_partitioned():
                raise ValueError(
                    "single-file import into a partitioned table: no "
                    "directory names to recover partition values from")
            found.append((source_dir, {}))
        for root, _dirs, fnames in os.walk(source_dir):
            for fn in fnames:
                if fn.startswith((".", "_")) or not fn.endswith(ext):
                    continue
                fpath = os.path.join(root, fn)
                rel = os.path.relpath(root, source_dir)
                partition = {}
                if rel != ".":
                    for comp in rel.split(os.sep):
                        if "=" not in comp:
                            continue
                        k, v = comp.split("=", 1)
                        pf = by_source.get(k)
                        if pf is None:
                            raise ValueError(
                                f"directory partition column {k!r} is not an "
                                "identity partition field of the table spec")
                        v = urllib.parse.unquote(v)
                        partition[pf.name] = None \
                            if v == "__HIVE_DEFAULT_PARTITION__" \
                            else decode_value(v, pf.source_type or "string")
                missing = {src for src, pf in by_source.items()
                           if pf.name not in partition}
                if spec.is_partitioned() and missing:
                    raise ValueError(
                        f"file {fpath!r} lacks directory values for partition "
                        f"column(s) {sorted(missing)}")
                found.append((fpath, partition))
        if not found:
            raise ValueError(f"no *{ext} files under {source_dir!r}")

        # reject re-imports: a second add_files over the same directory (or
        # any file already referenced) would append duplicate manifest
        # entries and double-count rows (ref: SparkTableUtil importSparkTable
        # rejects duplicate files by default)
        live_paths = {e.data_file.file_path
                      for e in self._live_entries()}
        dup = sorted(p for p, _ in found if p in live_paths)
        if dup:
            raise ValueError(
                f"add_files: {len(dup)} file(s) already referenced by the "
                f"table (first: {dup[0]!r}); re-importing would double-count "
                "rows. Remove them first (delete_where/expire) or import a "
                "disjoint directory.")

        # sanity: physical columns must overlap the table schema by name
        import pyarrow.parquet as _pq
        if fmt == "parquet":
            phys = set(_pq.read_schema(found[0][0]).names)
            if not phys & set(schema.column_names()):
                raise ValueError(
                    f"no column of {found[0][0]!r} matches the table schema "
                    f"by name (file has {sorted(phys)[:8]})")

        metrics_mode = self.properties.get(
            "write.metadata.metrics.default", "truncate(16)")
        stats_by_path = _collect_import_stats(
            self.spark, [p for p, _ in found], schema, metrics_mode, fmt)

        files = []
        for fpath, partition in found:
            st = stats_by_path[fpath]
            files.append(M.DataFile(
                file_path=fpath,
                file_format=fmt,
                partition=partition,
                record_count=st["record_count"],
                file_size_in_bytes=st["file_size_in_bytes"],
                value_counts=st["value_counts"],
                null_value_counts=st["null_value_counts"],
                nan_value_counts=st["nan_value_counts"],
                lower_bounds=st["lower_bounds"],
                upper_bounds=st["upper_bounds"],
                spec_id=spec.spec_id,
                schema_id=self.metadata.current_schema_id,
            ))

        if spec.is_partitioned():
            # register the base path so reads reconstruct the partition
            # columns from the directory names (committed before the append:
            # registration is monotonic and harmless on its own)
            import json as _json
            raw = self.properties.get("import.base-paths")
            bps = _json.loads(raw) if raw else []
            if source_dir not in bps:
                self.update_properties(
                    {"import.base-paths": _json.dumps([*bps, source_dir])})

        return self._commit_append_files(
            files, extra_summary={"import.source": source_dir})

    # ---------------------------------------------------------------- scans
    def new_scan(self):
        from linkedin_iceberg_spark.catalog.scan import TableScan
        return TableScan(self)

    def scan(self, row_filter: Optional[Expression] = None,
             select: Optional[list] = None,
             snapshot_id: Optional[int] = None,
             as_of_timestamp_ms: Optional[int] = None) -> DataFrame:
        s = self.new_scan()
        if row_filter is not None:
            s = s.filter(row_filter)
        if select is not None:
            s = s.select(select)
        if snapshot_id is not None:
            s = s.use_snapshot(snapshot_id)
        if as_of_timestamp_ms is not None:
            s = s.as_of_time(as_of_timestamp_ms)
        return s.to_df()

    def to_df(self) -> DataFrame:
        return self.new_scan().to_df()

    def _projection_evals(self, bound: Expression) -> tuple:
        """Per-spec (strict, inclusive) partition-projection evaluators as
        two lookup callables DataFile -> Evaluator.  After partition-spec
        evolution a table's live entries mix specs (ref:
        TableMetadata.specsById); judging an old file's partition tuple
        under the default spec would wrongly skip (inclusive) or wrongly
        whole-file-drop (strict) it."""
        strict_by = {s.spec_id: Evaluator(strict_projection(s, bound))
                     for s in self.metadata.bound_specs()}
        incl_by = {s.spec_id: Evaluator(inclusive_projection(s, bound))
                   for s in self.metadata.bound_specs()}
        cur = self.metadata.default_spec_id

        def strict_for(df_):
            return strict_by.get(df_.spec_id, strict_by[cur])

        def incl_for(df_):
            return incl_by.get(df_.spec_id, incl_by[cur])

        return strict_for, incl_for

    def update_spec(self, build_fn: Callable) -> "Table":
        """Partition-spec evolution (ref: TableMetadata.updatePartitionSpec
        core/.../TableMetadata.java:416 + specsById): register a NEW default
        spec; existing files keep their spec_id and stay scannable — scan
        planning and DML judge every file under its own spec, and new writes
        cluster by the new spec.  ``build_fn`` receives a SpecBuilder bound
        to the current schema:

            t.update_spec(lambda b: b.identity("region").day("ts"))

        Note: dynamic partition overwrite matches partitions under the
        CURRENT spec; files written under OLDER specs that may hold rows
        of a replaced partition are degraded to copy-on-write
        (overwrite_partitions → _rewrite_stale_spec_partitions), so
        mixed-spec tables work — stale-spec files are rewritten, not
        raised on."""
        def do(base: TableMetadata):
            import dataclasses
            b = PartitionSpec.builder_for(base.schema)
            build_fn(b)
            new = b.with_spec_id(max(s.spec_id for s in base.specs) + 1) \
                .build()
            md = dataclasses.replace(base)
            md.specs = [*base.specs, new]
            md.default_spec_id = new.spec_id
            return md

        return self._commit_metadata_edit(do)

    # ------------------------------------------------- delete / overwrite
    def delete_where(self, expr: Expression) -> "Table":
        """DELETE FROM t WHERE expr (ref: core/.../StreamingDelete.java +
        ManifestFilterManager.java).

        Metadata-only when the strict projection / strict metrics prove whole
        files match; otherwise copy-on-write: rewrite the partially-matching
        files without the matching rows and swap them in the same commit."""
        bound = bind(self.schema, expr)
        snap = self.current_snapshot()
        if snap is None:
            return self
        entries, delete_entries = self._live_data_and_deletes()
        strict_evals, incl_evals = self._projection_evals(bound)
        metrics_strict = StrictMetricsEvaluator(bound)
        from linkedin_iceberg_spark.expressions import InclusiveMetricsEvaluator
        metrics_incl = InclusiveMetricsEvaluator(bound)

        drop_whole: list = []
        rewrite: list = []
        keep: list = []
        for e in entries:
            df_ = e.data_file
            might_match = incl_evals(df_).eval(df_.partition) and \
                metrics_incl.eval(e.stats_dict())
            if not might_match:
                keep.append(e)
                continue
            # strict match proves every ORIGINAL row matches; live rows are
            # a subset, so whole-file drop stays safe under pending deletes
            all_match = strict_evals(df_).eval(df_.partition) or \
                metrics_strict.eval(e.stats_dict())
            if all_match:
                drop_whole.append(e)
            else:
                rewrite.append(e)

        new_files: list = []
        if rewrite:
            survivors = self._read_live_rows(rewrite, delete_entries) \
                .filter(~to_spark_column(bound))
            new_files = self._write_data_files(survivors)

        return self._commit_file_swap(
            removed=drop_whole + rewrite, added=new_files, operation=OP_DELETE,
            seen_paths={e.data_file.file_path
                        for e in entries + delete_entries},
            conflict_fn=self._filter_conflict_fn(bound))

    def update_where(self, expr: Expression, assignments: dict) -> "Table":
        """UPDATE t SET col = <Column> WHERE expr — copy-on-write in ONE
        snapshot, no key columns required (the keyed path is merge()).

        Candidate files are selected by inclusive partition-projection +
        metrics evaluation, so a selective predicate rewrites only the
        files that MAY hold matching rows; each candidate is rewritten
        with the assignments applied to its matching LIVE rows (pending
        v2 deletes applied first, like compaction) and swapped atomically.
        Assignment values are Column expressions and may reference other
        columns (SET a = a * 2)."""
        unknown = set(assignments) - set(self.schema.column_names())
        if unknown:
            raise ValueError(f"update_where: unknown columns {sorted(unknown)}")
        bound = bind(self.schema, expr)
        if self.current_snapshot() is None:
            return self
        entries, delete_entries = self._live_data_and_deletes()
        _strict_evals, incl_evals = self._projection_evals(bound)
        from linkedin_iceberg_spark.expressions import InclusiveMetricsEvaluator
        metrics_incl = InclusiveMetricsEvaluator(bound)
        candidates = [
            e for e in entries
            if incl_evals(e.data_file).eval(e.data_file.partition)
            and metrics_incl.eval(e.stats_dict())]
        if not candidates:
            return self
        rows = self._read_live_rows(candidates, delete_entries)
        pred = to_spark_column(bound)
        cols = []
        for c in self.schema.column_names():
            if c in assignments:
                cols.append(F.when(pred, assignments[c])
                            .otherwise(F.col(c)).alias(c))
            else:
                cols.append(F.col(c))
        new_files = self._write_data_files(rows.select(*cols))
        return self._commit_file_swap(removed=candidates, added=new_files,
                                      operation=OP_OVERWRITE,
                                      seen_paths={e.data_file.file_path
                                                  for e in entries
                                                  + delete_entries},
                                      conflict_fn=self._filter_conflict_fn(
                                          bound))

    def overwrite_where(self, df: DataFrame, expr: Expression) -> "Table":
        """INSERT OVERWRITE ... WHERE expr (ref: core/.../BaseOverwriteFiles.java).
        Deletes matching rows (validated strict) then appends df in the same
        snapshot."""
        bound = bind(self.schema, expr)
        entries, delete_entries = self._live_data_and_deletes()
        strict_evals, incl_evals = self._projection_evals(bound)
        metrics_strict = StrictMetricsEvaluator(bound)
        from linkedin_iceberg_spark.expressions import InclusiveMetricsEvaluator
        metrics_incl = InclusiveMetricsEvaluator(bound)

        removed, rewrite, keep = [], [], []
        for e in entries:
            might = incl_evals(e.data_file).eval(e.data_file.partition) and \
                metrics_incl.eval(e.stats_dict())
            if not might:
                keep.append(e)
            elif strict_evals(e.data_file).eval(e.data_file.partition) or \
                    metrics_strict.eval(e.stats_dict()):
                removed.append(e)
            else:
                rewrite.append(e)
        extra_files: list = []
        if rewrite:
            survivors = self._read_live_rows(rewrite, delete_entries) \
                .filter(~to_spark_column(bound))
            extra_files = self._write_data_files(survivors)
        new_files = self._write_data_files(df) + extra_files
        return self._commit_file_swap(removed=removed + rewrite,
                                      added=new_files, operation=OP_OVERWRITE,
                                      seen_paths={e.data_file.file_path
                                                  for e in entries
                                                  + delete_entries},
                                      conflict_fn=self._filter_conflict_fn(
                                          bound))

    def overwrite_partitions(self, df: DataFrame) -> "Table":
        """Dynamic partition overwrite: replace exactly the partitions present
        in df (ref: api/.../ReplacePartitions.java, spark2/.../Writer.java:182-190).

        Partition matching is by exact partition tuple under the CURRENT
        default spec.  After partition-spec evolution, live old-spec entries
        carry different tuples (e.g. {} for formerly-unpartitioned files) and
        can never match by tuple — their rows logically belonging to the
        overwritten partitions would silently survive.  Those files are
        handled copy-on-write instead: candidates are pruned per-spec
        (inclusive projection of the touched partitions' identity components
        + file metrics), then each candidate's live rows are re-evaluated
        under the CURRENT spec's transforms in Spark and rows landing in a
        touched partition are dropped; survivors are rewritten in the same
        overwrite snapshot (the same degrade path delete_where/
        overwrite_where take via _projection_evals)."""
        entries, delete_entries = self._live_data_and_deletes()
        cur = self.metadata.default_spec_id
        new_files = self._write_data_files(df)
        touched = {tuple(sorted(f.partition.items(), key=lambda kv: kv[0]))
                   for f in new_files}

        removed = [e for e in entries
                   if e.data_file.spec_id == cur
                   and tuple(sorted(e.data_file.partition.items(),
                                    key=lambda kv: kv[0])) in touched]
        stale_entries = [e for e in entries if e.data_file.spec_id != cur]
        rewrite: list = []
        extra_files: list = []
        if stale_entries and touched:
            rewrite, extra_files = self._rewrite_stale_spec_partitions(
                stale_entries, delete_entries, touched)

        def dyn_conflict(e) -> bool:
            # concurrent delete-file, old-spec file (tuple semantics
            # unknowable), or a current-spec file in a touched partition
            if e.data_file.content != M.CONTENT_DATA:
                return True
            if e.data_file.spec_id != cur:
                return True
            return tuple(sorted(e.data_file.partition.items(),
                                key=lambda kv: kv[0])) in touched

        return self._commit_file_swap(removed=removed + rewrite,
                                      added=new_files + extra_files,
                                      operation=OP_OVERWRITE,
                                      seen_paths={e.data_file.file_path
                                                  for e in entries
                                                  + delete_entries},
                                      conflict_fn=dyn_conflict)

    def _rewrite_stale_spec_partitions(self, stale_entries: list,
                                       delete_entries: list,
                                       touched: set) -> tuple:
        """Copy-on-write half of a dynamic overwrite over files written
        under OLDER partition specs: remove their rows that land in a
        `touched` partition (a tuple under the CURRENT spec), keep the
        rest.  Returns (entries_to_remove, survivor_files_to_add).

        Pruning is metadata-only and spec-aware: a row predicate built
        from the touched tuples' IDENTITY components (non-identity
        transform components are dropped — a widening, so inclusive-safe)
        is projected onto each file's own spec and checked against file
        metrics; only files that might hold a touched-partition row are
        read.  The row-level test applies the current spec's transforms
        as Spark columns (null-safe equality per component), so bucket/
        truncate/date transforms are honored exactly even though they
        have no row-predicate inverse."""
        from functools import reduce

        from linkedin_iceberg_spark.expressions import (
            InclusiveMetricsEvaluator, and_, eq, or_)

        spec = self.metadata.spec  # bound current spec
        tuples = [dict(t) for t in touched]

        per_tuple = []
        for tv in tuples:
            conj = [eq(pf.source_name, tv[pf.name])
                    for pf in spec.fields
                    if pf.bound_transform().name == "identity"
                    and tv.get(pf.name) is not None]
            per_tuple.append(reduce(lambda a, b: and_(a, b), conj)
                             if conj else always_true())
        pred = reduce(lambda a, b: or_(a, b), per_tuple)
        bound = bind(self.schema, pred)
        _strict, incl_evals = self._projection_evals(bound)
        metrics_incl = InclusiveMetricsEvaluator(bound)
        rewrite = [e for e in stale_entries
                   if incl_evals(e.data_file).eval(e.data_file.partition)
                   and metrics_incl.eval(e.stats_dict())]
        if not rewrite:
            return [], []

        rows = self._read_live_rows(rewrite, delete_entries)
        in_touched = None
        for tv in tuples:
            conds = None
            for pf in spec.fields:
                tcol = pf.bound_transform() \
                    .to_spark_column(F.col(pf.source_name))
                c = tcol.eqNullSafe(F.lit(tv.get(pf.name)))
                conds = c if conds is None else (conds & c)
            if conds is None:  # current spec unpartitioned: one () tuple
                conds = F.lit(True)
            in_touched = conds if in_touched is None else (in_touched | conds)
        survivors = rows.filter(~in_touched)
        return rewrite, self._write_data_files(survivors)

    def rewrite_files(self, removed_paths: set, added_files: list) -> "Table":
        """Compaction commit: swap files, data unchanged
        (ref: core/.../BaseRewriteFiles.java).  Validated: every input
        file must still be live at commit time (a concurrent DML that
        rewrote one means the compacted output resurrects its rows), and
        a concurrently added v2 delete file conflicts (the compacted file
        takes a higher sequence number, so the new delete would silently
        stop applying to the rows it targets)."""
        from linkedin_iceberg_spark.catalog.scan import (
            _eq_delete_may_hit, _pos_delete_may_hit)

        entries, delete_entries = self._live_data_and_deletes()
        removed = [e for e in entries if e.data_file.file_path in removed_paths]

        def compaction_conflict(e) -> bool:
            # concurrent data appends never conflict with a pure rewrite;
            # a concurrent DELETE FILE conflicts only if it may hit one
            # of the files being compacted away (the compacted output
            # takes a higher sequence number, so such a delete would
            # silently stop applying to the rows it targets)
            d = e.data_file
            if d.content == M.CONTENT_DATA:
                return False
            if d.content == M.CONTENT_EQUALITY_DELETES:
                return any(_eq_delete_may_hit(d, r.data_file)
                           for r in removed)
            return any(_pos_delete_may_hit(d, r.data_file)
                       for r in removed)

        return self._commit_file_swap(
            removed=removed, added=added_files, operation=OP_REPLACE,
            seen_paths={e.data_file.file_path
                        for e in entries + delete_entries},
            conflict_fn=compaction_conflict)

    def _filter_conflict_fn(self, bound: Expression) -> Callable:
        """Conflict test for filter-shaped DML (delete/update/overwrite
        WHERE): a concurrently committed entry conflicts when it is a v2
        delete file (its deletes were not applied by this op's row reads)
        or a data file that MIGHT hold rows matching the op's predicate
        (inclusive projection under the file's own spec + file metrics —
        ref: BaseOverwriteFiles.java:76-129 validateNoConflictingAppends)."""
        _strict, incl_evals = self._projection_evals(bound)
        from linkedin_iceberg_spark.expressions import InclusiveMetricsEvaluator
        metrics_incl = InclusiveMetricsEvaluator(bound)

        def conflicts(e) -> bool:
            if e.data_file.content != M.CONTENT_DATA:
                return True
            return incl_evals(e.data_file).eval(e.data_file.partition) \
                and metrics_incl.eval(e.stats_dict())
        return conflicts

    def _commit_file_swap(self, removed: list, added: list,
                          operation: str,
                          seen_paths: Optional[set] = None,
                          conflict_fn: Optional[Callable] = None,
                          extra_summary: Optional[dict] = None) -> "Table":
        """Shared commit: drop `removed` entries, add `added` files.
        Rewrites the survivor set into fresh manifests (ref:
        ManifestFilterManager rewriting manifests that contain deletes).

        With `seen_paths`/`conflict_fn` the commit enforces SERIALIZABLE
        semantics under the optimistic-retry loop: on every attempt, files
        this op removes/rewrites must still be live (a concurrent DML that
        removed one invalidates the rows this op re-wrote), and any live
        entry not in `seen_paths` (i.e. committed concurrently since the
        op planned) is passed to `conflict_fn` — a True verdict raises
        ValidationException instead of silently merging histories (ref:
        SnapshotProducer.java:249-285 retry + BaseOverwriteFiles.java:
        76-129 conflict validation)."""
        removed_paths = {e.data_file.file_path for e in removed}
        types_by_id = self._types_by_id()

        def build(base, snap_id, seq):
            ptypes = base.all_partition_types()
            base_entries = self._live_entries(base=base)
            if conflict_fn is not None:
                live_paths = {e.data_file.file_path for e in base_entries}
                gone = sorted(removed_paths - live_paths)
                if gone:
                    raise ValidationException(
                        f"{operation}: {len(gone)} file(s) this operation "
                        f"removes/rewrites were removed by a concurrent "
                        f"commit (e.g. {gone[0]}); re-plan on the "
                        "refreshed table")
                for e in base_entries:
                    if e.data_file.file_path in (seen_paths or set()):
                        continue
                    if conflict_fn(e):
                        raise ValidationException(
                            f"{operation}: a concurrent commit added "
                            f"{e.data_file.file_path}, which may hold rows "
                            "matching this operation's filter; re-plan on "
                            "the refreshed table")
            keep = [e for e in base_entries
                    if e.data_file.file_path not in removed_paths]
            infos = []
            if keep:
                kname = M.new_manifest_name()
                keep_entries = [M.ManifestEntry(M.STATUS_EXISTING, e.snapshot_id,
                                                e.sequence_number, e.data_file)
                                for e in keep]
                info = M.write_manifest(self.ops.new_metadata_path(kname),
                                        keep_entries, types_by_id, ptypes)
                info.manifest_path = kname
                infos.append(info)
            if added:
                aname = M.new_manifest_name()
                add_entries = [M.ManifestEntry(M.STATUS_ADDED, snap_id, seq, f)
                               for f in added]
                info = M.write_manifest(self.ops.new_metadata_path(aname),
                                        add_entries, types_by_id, ptypes)
                info.manifest_path = aname
                infos.append(info)
            # classify BOTH sides by content: a swap may add or remove
            # v2 delete files (rewrite_position_deletes), whose counts
            # and rows must move the delete-file total, never the data
            # totals — rolling totals are parent+delta, so one
            # misclassified commit would skew every later snapshot
            removed_data = [e for e in removed
                            if e.data_file.content == M.CONTENT_DATA]
            removed_dels = len(removed) - len(removed_data)
            added_data = [f for f in added if f.content == M.CONTENT_DATA]
            added_dels = len(added) - len(added_data)
            summary = {
                **(extra_summary or {}),
                "deleted-data-files": str(len(removed_data)),
                "added-data-files": str(len(added_data)),
                "deleted-delete-files": str(removed_dels),
                "added-delete-files": str(added_dels),
                "deleted-records": str(sum(e.data_file.record_count
                                           for e in removed_data)),
                "added-records": str(sum(f.record_count
                                         for f in added_data)),
                **self._rolling_totals(
                    base,
                    d_files=len(added_data) - len(removed_data),
                    d_records=sum(f.record_count for f in added_data)
                    - sum(e.data_file.record_count for e in removed_data),
                    d_delete_files=added_dels - removed_dels),
            }
            return infos, summary, None

        return self._commit(build, operation)

    # ------------------------------------------------------------- plumbing
    def _live_data_and_deletes(self) -> tuple:
        """Live entries split into (data, delete-file) lists.  DML and
        compaction must classify only CONTENT_DATA entries — treating a v2
        position/equality delete file as data would rewrite it under the
        table schema (all-null rows) and silently resurrect deleted rows."""
        data, deletes = [], []
        for e in self._live_entries():
            if e.data_file.content == M.CONTENT_DATA:
                data.append(e)
            else:
                deletes.append(e)
        return data, deletes

    def _read_live_rows(self, data_entries: list, delete_entries: list) -> DataFrame:
        """Read the LIVE rows of the given data entries: pending position/
        equality deletes that apply to them (by sequence number) are applied,
        exactly as the scan path does (ref: DeleteFileIndex semantics)."""
        from linkedin_iceberg_spark.catalog.scan import match_deletes
        tasks = match_deletes(data_entries, delete_entries)
        if any(t.deletes for t in tasks):
            from linkedin_iceberg_spark.catalog.deletes import apply_deletes
            return apply_deletes(self, tasks)
        return self._read_files(data_entries)

    def _live_entries(self, snapshot=None, base: Optional[TableMetadata] = None) -> list:
        """All live (ADDED/EXISTING) entries for a snapshot (default current;
        on a branch handle, the branch head — commit builds pass ``base``
        with the head already swapped in)."""
        md = base or self.metadata
        if snapshot is not None:
            snap = snapshot
        elif base is not None:
            snap = md.current_snapshot
        else:
            snap = self.current_snapshot()
        if snap is None:
            return []
        ptypes = md.all_partition_types()
        types_by_id = {f.field_id: f.type for f in md.schema.fields
                       if isinstance(f.type, str)}
        infos = M.read_manifest_list(
            self.ops.new_metadata_path(snap.manifest_list), ptypes)
        out = []
        for info in infos:
            entries = M.read_manifest(
                self.ops.new_metadata_path(info.manifest_path),
                types_by_id, ptypes)
            out.extend(e for e in entries if e.status != M.STATUS_DELETED)
        return out

    def _read_files(self, entries: list) -> DataFrame:
        """Read data files, projecting to the CURRENT schema by field id
        (rename/add-null/cast handled per historical schema — W11 read side)."""
        from linkedin_iceberg_spark.catalog.scan import (
            data_group_key, read_files_as_current_schema)
        by_schema: dict = {}
        for e in entries:
            by_schema.setdefault(data_group_key(self.metadata, e.data_file),
                                 []).append(e.data_file.file_path)
        return read_files_as_current_schema(self.spark, self.metadata, by_schema)

    # ----------------------------------------------- snapshot management
    def rollback_to(self, snapshot_id: int) -> "Table":
        """ref: core/.../SnapshotManager.java rollback / RollbackToSnapshot."""
        self._require_main("rollback_to")

        def do(base: TableMetadata):
            if base.snapshot_by_id(snapshot_id) is None:
                raise ValueError(f"unknown snapshot {snapshot_id}")
            import dataclasses
            md = dataclasses.replace(base)
            md.current_snapshot_id = snapshot_id
            md.snapshot_log = [*base.snapshot_log,
                               {"timestamp-ms": int(time.time() * 1000),
                                "snapshot-id": snapshot_id}]
            return md
        return self._commit_metadata_edit(do)

    def set_current_snapshot(self, snapshot_id: int) -> "Table":
        return self.rollback_to(snapshot_id)

    def rollback_to_time(self, timestamp_ms: int) -> "Table":
        """Roll back to the last snapshot committed at or before the
        given time (ref: ManageSnapshots.rollbackToTime)."""
        snap = self.metadata.snapshot_as_of(timestamp_ms)
        if snap is None:
            raise ValueError(f"no snapshot as of {timestamp_ms}")
        return self.rollback_to(snap.snapshot_id)

    def set_identifier_fields(self, names: list) -> "Table":
        """Declare the table's row-identity columns (ref: the v2 spec's
        schema identifier-field-ids / UpdateSchema.setIdentifierFields)
        — the default key set for upsert-shaped consumers (the
        streaming upsert sink reads them when key_cols is omitted).
        Spec rules enforced: each field must exist, be a top-level-
        addressable primitive, be REQUIRED (an identity that can be
        NULL identifies nothing), and not be float/double (NaN breaks
        equality).  An empty list clears them."""
        ids = []
        for name in names:
            f = self.schema.find_field(name)
            if f is None:
                raise ValueError(f"no such column: {name!r}")
            if not isinstance(f.type, str):
                raise ValueError(f"identifier field {name!r} must be a "
                                 f"primitive, not {type(f.type).__name__}")
            if f.type in ("float", "double"):
                raise ValueError(f"identifier field {name!r} cannot be "
                                 f"{f.type} (NaN breaks identity)")
            if not f.required:
                raise ValueError(f"identifier field {name!r} must be "
                                 "required (SET NOT NULL first)")
            ids.append(f.field_id)

        def do(base: TableMetadata):
            import dataclasses
            md = dataclasses.replace(base)
            md.identifier_field_ids = list(ids)
            return md

        return self._commit_metadata_edit(do)

    @property
    def identifier_fields(self) -> list:
        """Current identifier column NAMES (resolved through field ids,
        so they survive renames)."""
        out = []
        for fid in self.metadata.identifier_field_ids:
            f = self.schema.find_field(fid)
            if f is not None:
                out.append(f.name)
        return out

    def create_tag(self, name: str, snapshot_id: Optional[int] = None,
                   replace: bool = False,
                   max_ref_age_ms: Optional[int] = None) -> "Table":
        """Pin a snapshot under a NAME (ref: the SnapshotRef/ManageSnapshots
        tag plane): readable forever via `new_scan().use_ref(name)` and
        PROTECTED from expire_snapshots until dropped — the release/audit
        primitive ("the exact data model v3 trained on") that raw
        snapshot-id time travel cannot give, because ids expire."""
        self._require_main("create_tag")

        def do(base: TableMetadata):
            sid = snapshot_id if snapshot_id is not None \
                else base.current_snapshot_id
            if sid is None or base.snapshot_by_id(sid) is None:
                raise ValueError(f"unknown snapshot {sid}")
            if name == "main":
                raise ValueError("'main' names the current lineage head "
                                 "and cannot be tagged over")
            if base.ref_types.get(name) == "branch":
                # replace=True must not clobber a branch head: the staged
                # commits would silently become unreachable
                raise ValueError(f"{name!r} is a branch — drop_branch it "
                                 "or pick another tag name")
            if name in base.refs and not replace:
                raise ValueError(f"tag {name!r} already exists "
                                 "(replace=True to move it)")
            import dataclasses
            md = dataclasses.replace(base)
            md.refs = {**base.refs, name: sid}
            if max_ref_age_ms is not None:
                # SnapshotRef maxRefAgeMs: expire_snapshots drops the
                # tag once its target snapshot is older than this
                md.ref_ages = {**base.ref_ages, name: int(max_ref_age_ms)}
            return md
        return self._commit_metadata_edit(do)

    def drop_tag(self, name: str) -> "Table":
        def do(base: TableMetadata):
            if name not in base.refs:
                raise ValueError(f"unknown tag {name!r}")
            if base.ref_types.get(name) == "branch":
                raise ValueError(f"{name!r} is a branch — use drop_branch")
            import dataclasses
            md = dataclasses.replace(base)
            md.refs = {k: v for k, v in base.refs.items() if k != name}
            md.ref_types = {k: v for k, v in base.ref_types.items()
                            if k != name}
            md.ref_ages = {k: v for k, v in base.ref_ages.items()
                           if k != name}
            return md
        return self._commit_metadata_edit(do)

    # --------------------------------------------------------- branches
    def _require_main(self, op: str) -> None:
        if self._branch is not None:
            raise ValueError(f"{op} manages the snapshot lineage and must "
                             "run on the main table handle, not a branch")

    def create_branch(self, name: str,
                      snapshot_id: Optional[int] = None,
                      max_ref_age_ms: Optional[int] = None) -> "Table":
        """Create a WRITABLE named ref at a snapshot (default current) —
        the audit/staging primitive one level up from WAP: stage a whole
        SERIES of commits in isolation (`t.branch(name).append(...)`),
        validate the branch head, then ``fast_forward`` main onto it.
        Tags pin history; branches grow it (ref: the SnapshotRef plane's
        branch type; this fork stages single snapshots via wap.id —
        SnapshotManager.java:65-171 — a branch is the n-commit
        generalization).  Branch commits share the table-global sequence
        space, so delete scoping stays correct across refs."""
        self._require_main("create_branch")

        def do(base: TableMetadata):
            sid = snapshot_id if snapshot_id is not None \
                else base.current_snapshot_id
            if sid is None or base.snapshot_by_id(sid) is None:
                raise ValueError(f"unknown snapshot {sid}")
            if name == "main":
                raise ValueError("'main' names the current lineage head")
            if name in base.refs:
                raise ValueError(f"ref {name!r} already exists")
            import dataclasses
            md = dataclasses.replace(base)
            md.refs = {**base.refs, name: sid}
            md.ref_types = {**base.ref_types, name: "branch"}
            if max_ref_age_ms is not None:
                # age is measured against the branch HEAD's timestamp, so
                # an actively-committed branch never expires — only an
                # abandoned one
                md.ref_ages = {**base.ref_ages, name: int(max_ref_age_ms)}
            return md
        return self._commit_metadata_edit(do)

    def branch(self, name: str) -> "Table":
        """A handle whose reads resolve through the branch head and whose
        commits advance the branch ref.  Appends and row-level DML work;
        snapshot management (rollback/cherry-pick/tags) stays on main."""
        md = self.metadata
        if md.ref_types.get(name) != "branch":
            raise ValueError(f"unknown branch {name!r}; branches: "
                             f"{sorted(k for k, v in md.ref_types.items() if v == 'branch')}")
        t = Table(self.spark, self.ops, md, self.version, self.name)
        t._branch = name
        return t

    def drop_branch(self, name: str) -> "Table":
        self._require_main("drop_branch")

        def do(base: TableMetadata):
            if base.ref_types.get(name) != "branch":
                raise ValueError(f"unknown branch {name!r}")
            import dataclasses
            md = dataclasses.replace(base)
            md.refs = {k: v for k, v in base.refs.items() if k != name}
            md.ref_types = {k: v for k, v in base.ref_types.items()
                            if k != name}
            md.ref_ages = {k: v for k, v in base.ref_ages.items()
                           if k != name}
            return md
        return self._commit_metadata_edit(do)

    def fast_forward(self, name: str) -> "Table":
        """Move main's head to a branch's head — allowed only when main
        is an ancestor of the branch (true fast-forward; anything else
        would silently drop commits).  If main diverged, cherry-pick or
        merge by hand.  The branch ref survives and can keep growing or
        be dropped."""
        self._require_main("fast_forward")
        latest = self.ops.refresh() or self.metadata
        if latest.ref_types.get(name) == "branch" and \
                latest.current_snapshot_id == latest.refs.get(name):
            # already at the branch head: no metadata churn — but ADOPT
            # the refreshed state, so a stale handle that 'succeeds'
            # here serves the post-fast-forward data it just confirmed
            self.metadata = latest
            self.version = getattr(latest, "_version", self.version)
            return self

        def do(base: TableMetadata):
            if base.ref_types.get(name) != "branch":
                raise ValueError(f"unknown branch {name!r}")
            head = base.refs[name]
            if base.current_snapshot_id is not None and \
                    base.current_snapshot_id not in set(base.ancestry(head)):
                raise ValueError(
                    f"cannot fast-forward: main ({base.current_snapshot_id})"
                    f" is not an ancestor of branch {name!r} head ({head})")
            if base.current_snapshot_id == head:
                return base  # already there
            import dataclasses
            md = dataclasses.replace(base)
            md.current_snapshot_id = head
            md.snapshot_log = [*base.snapshot_log,
                               {"timestamp-ms": int(time.time() * 1000),
                                "snapshot-id": head}]
            return md
        return self._commit_metadata_edit(do)

    def merge_branch(self, name: str) -> "Table":
        """Merge a DIVERGED branch into main: the branch's exclusive
        commits are re-applied onto main's head as ONE atomic commit
        (ref: core/.../SnapshotManager.java:65-171 cherrypick machinery —
        this is its n-commit generalization for branch refs).  Falls
        back to ``fast_forward`` when main never diverged.

        A TRUE conflict raises ValidationException BEFORE any commit
        lands (the whole series is validated upfront):
          - a branch commit removes/rewrites a file that is not live on
            main (main removed/rewrote it too — overlapping DML),
          - a branch-added delete file may hit a main-exclusive data
            file (re-applied at a higher sequence number it would start
            deleting rows the branch never saw),
          - a main-exclusive delete file may hit a branch-added data
            file (the re-applied data would outrank the delete and rows
            main deleted would escape it).
        Disjoint-partition/key work merges clean; overlapping-filter
        DML raises — the reference's validation lens
        (BaseOverwriteFiles.java:76-129).

        ATOMIC under concurrency: the whole net delta publishes through
        a single CAS, so a concurrent commit landing mid-merge triggers
        the standard optimistic retry with full re-validation — main
        either gains the complete merge or none of it, never a partial
        prefix.  WITHIN-branch delete scoping survives the flattening
        because every re-applied entry carries a remapped PER-COMMIT
        sequence number (branch commit i's files land at seq+i, the
        merge snapshot records the highest, and the table's sequence
        space advances by the full span) — a branch delete still
        outranks the branch data it targeted, and a RowDelta's
        co-committed data and deletes still share one number.
        The branch ref survives the merge; drop_branch when done."""
        from linkedin_iceberg_spark.catalog.scan import (
            _eq_delete_may_hit, _pos_delete_may_hit)

        self._require_main("merge_branch")
        self.refresh()
        md = self.metadata
        if md.ref_types.get(name) != "branch":
            raise ValueError(f"unknown branch {name!r}")
        head = md.refs[name]
        main_head = md.current_snapshot_id
        if main_head is None or main_head in set(md.ancestry(head)):
            return self.fast_forward(name)
        branch_anc = md.ancestry(head)  # newest -> oldest
        main_anc = md.ancestry(main_head)
        main_set = set(main_anc)
        exclusive = [sid for sid in reversed(branch_anc)
                     if sid not in main_set]
        if not exclusive:
            return self  # branch is strictly behind main

        def live_map(sid):
            if sid is None:
                return {}
            snap = md.snapshot_by_id(sid)
            return {e.data_file.file_path: e
                    for e in self._live_entries(snapshot=snap)}

        # per-commit entry delta relative to its parent, oldest first
        deltas = []
        for sid in exclusive:
            snap = md.snapshot_by_id(sid)
            cur = live_map(sid)
            par = live_map(snap.parent_snapshot_id)
            added = [e for p, e in cur.items() if p not in par]
            removed = [par[p] for p in sorted(par) if p not in cur]
            deltas.append((snap, added, removed))

        # upfront validation of the WHOLE series against main's state
        main_live = live_map(main_head)
        main_excl = set(main_anc) - set(branch_anc)
        main_excl_entries = [e for e in main_live.values()
                             if e.snapshot_id in main_excl]

        def delete_hits(dfile, datafile) -> bool:
            if dfile.content == M.CONTENT_EQUALITY_DELETES:
                return _eq_delete_may_hit(dfile, datafile)
            return _pos_delete_may_hit(dfile, datafile)

        sim = set(main_live)
        for snap, added, removed in deltas:
            gone = [e.data_file.file_path for e in removed
                    if e.data_file.file_path not in sim]
            if gone:
                raise ValidationException(
                    f"merge_branch: branch commit {snap.snapshot_id} "
                    f"removes/rewrites {len(gone)} file(s) not live on "
                    f"main (e.g. {gone[0]}) — overlapping DML; resolve "
                    "by hand (cherry_pick / re-run the op on main)")
            sim -= {e.data_file.file_path for e in removed}
            sim |= {e.data_file.file_path for e in added}
            for e in added:
                d = e.data_file
                for me in main_excl_entries:
                    f = me.data_file
                    if d.content == M.CONTENT_DATA and \
                            f.content != M.CONTENT_DATA and \
                            delete_hits(f, d):
                        raise ValidationException(
                            f"merge_branch: main's delete file "
                            f"{f.file_path} may hit branch-added data "
                            f"{d.file_path}; resolve by hand")
                    if d.content != M.CONTENT_DATA and \
                            f.content == M.CONTENT_DATA and \
                            delete_hits(d, f):
                        raise ValidationException(
                            f"merge_branch: branch delete file "
                            f"{d.file_path} may hit main-exclusive data "
                            f"{f.file_path}; resolve by hand")

        # flatten the series into one NET delta; each surviving added
        # entry remembers WHICH branch commit introduced it (its ordinal
        # becomes the entry's sequence offset).  Intra-branch churn
        # (added by commit i, removed by commit j>i) cancels here and
        # never reaches main's manifests.
        final_added: dict = {}       # path -> (entry, delta index)
        removed_from_main: dict = {}  # path -> entry (live on main now)
        for i, (_snap, added, removed) in enumerate(deltas):
            for e in removed:
                p = e.data_file.file_path
                if p in final_added:
                    del final_added[p]
                else:
                    removed_from_main[p] = e
            for e in added:
                final_added[e.data_file.file_path] = (e, i)

        # every path the series touches counts as seen, so the branch's
        # own files never self-conflict — anything committed
        # concurrently (on any retry attempt) DOES
        seen = set(main_live)
        for _, added, _ in deltas:
            seen |= {e.data_file.file_path for e in added}

        types_by_id = self._types_by_id()
        added_data = [e for e, _i in final_added.values()
                      if e.data_file.content == M.CONTENT_DATA]
        added_dels = len(final_added) - len(added_data)
        removed_data = [e for e in removed_from_main.values()
                        if e.data_file.content == M.CONTENT_DATA]
        removed_dels = len(removed_from_main) - len(removed_data)
        operation = OP_APPEND if not removed_from_main and not added_dels \
            else OP_OVERWRITE

        def build(base, snap_id, seq):
            ptypes = base.all_partition_types()
            base_entries = self._live_entries(base=base)
            live_paths = {e.data_file.file_path for e in base_entries}
            gone = sorted(set(removed_from_main) - live_paths)
            if gone:
                raise ValidationException(
                    f"merge_branch: {len(gone)} file(s) the branch "
                    f"removes/rewrites were removed by a concurrent "
                    f"commit (e.g. {gone[0]}); re-plan on the refreshed "
                    "table")
            for e in base_entries:
                if e.data_file.file_path not in seen:
                    raise ValidationException(
                        f"merge_branch: a concurrent commit added "
                        f"{e.data_file.file_path} since the merge was "
                        "validated; re-run the merge")
            keep = [e for e in base_entries
                    if e.data_file.file_path not in removed_from_main]
            infos = []
            if keep:
                kname = M.new_manifest_name()
                keep_entries = [M.ManifestEntry(M.STATUS_EXISTING,
                                                e.snapshot_id,
                                                e.sequence_number,
                                                e.data_file)
                                for e in keep]
                info = M.write_manifest(self.ops.new_metadata_path(kname),
                                        keep_entries, types_by_id, ptypes)
                info.manifest_path = kname
                infos.append(info)
            if final_added:
                aname = M.new_manifest_name()
                add_entries = [M.ManifestEntry(M.STATUS_ADDED, snap_id,
                                               seq + i, e.data_file)
                               for _p, (e, i)
                               in sorted(final_added.items())]
                info = M.write_manifest(self.ops.new_metadata_path(aname),
                                        add_entries, types_by_id, ptypes)
                info.manifest_path = aname
                infos.append(info)
            summary = {
                "deleted-data-files": str(len(removed_data)),
                "added-data-files": str(len(added_data)),
                "deleted-delete-files": str(removed_dels),
                "added-delete-files": str(added_dels),
                "deleted-records": str(sum(e.data_file.record_count
                                           for e in removed_data)),
                "added-records": str(sum(e.data_file.record_count
                                         for e in added_data)),
                "merged-branch": name,
                "merged-commits": str(len(deltas)),
                **self._rolling_totals(
                    base,
                    d_files=len(added_data) - len(removed_data),
                    d_records=sum(e.data_file.record_count
                                  for e in added_data)
                    - sum(e.data_file.record_count for e in removed_data),
                    d_delete_files=added_dels - removed_dels),
            }
            return infos, summary, None

        return self._commit(build, operation, seq_span=len(deltas))

    def cherry_pick(self, snapshot_id: int) -> "Table":
        """Publish a staged (WAP) snapshot: fast-forward if it's a direct
        child of current, else RE-APPLY its added files on top of the
        current base (ref: core/.../SnapshotManager.java:65-171,
        util/WapUtil.java).  Fast-forwarding a divergent staged snapshot
        would resurrect its stale manifest list and silently drop every
        commit made after staging."""
        self._require_main("cherry_pick")
        def do(base: TableMetadata):
            snap = base.snapshot_by_id(snapshot_id)
            if snap is None:
                raise ValueError(f"unknown snapshot {snapshot_id}")
            import dataclasses
            published = set()
            for s in base.snapshots:
                wid_ = s.summary.get("wap.id")
                if wid_ and s.snapshot_id in base.ancestry():
                    published.add(wid_)
            wid = snap.summary.get("wap.id")
            if wid and wid in published:
                raise ValueError(f"duplicate WAP id already published: {wid}")
            if snap.parent_snapshot_id == base.current_snapshot_id:
                # direct child: fast-forward
                md = dataclasses.replace(base)
                md.current_snapshot_id = snapshot_id
                md.snapshot_log = [*base.snapshot_log,
                                   {"timestamp-ms": int(time.time() * 1000),
                                    "snapshot-id": snapshot_id}]
                return md
            # divergent base: only appends can be re-applied safely
            if snap.operation != OP_APPEND:
                raise ValueError(
                    "cannot cherry-pick non-append with divergent base")
            ptypes = base.all_partition_types()
            staged_infos = M.read_manifest_list(
                self.ops.new_metadata_path(snap.manifest_list), ptypes)
            added = [i for i in staged_infos
                     if i.added_snapshot_id == snap.snapshot_id]
            new_id = _new_snapshot_id()
            ml_name = M.manifest_list_name(new_id)
            M.write_manifest_list(
                self.ops.new_metadata_path(ml_name),
                [*added, *self._base_manifest_infos(base)], ptypes)
            new_snap = Snapshot(
                snapshot_id=new_id,
                parent_snapshot_id=base.current_snapshot_id,
                sequence_number=base.next_sequence_number(),
                timestamp_ms=int(time.time() * 1000),
                operation=OP_APPEND,
                manifest_list=ml_name,
                summary={**snap.summary,
                         "source-snapshot-id": str(snap.snapshot_id)},
                schema_id=base.current_schema_id,
            )
            return base.with_snapshot(new_snap, set_current=True)
        return self._commit_metadata_edit(do)

    def update_properties(self, set_props: Optional[dict] = None,
                          remove: Optional[list] = None) -> "Table":
        """ref: core/.../PropertiesUpdate.java."""
        def do(base: TableMetadata):
            import dataclasses
            md = dataclasses.replace(base)
            md.properties = {k: v for k, v in base.properties.items()
                             if k not in set(remove or [])}
            md.properties.update({k: str(v) for k, v in (set_props or {}).items()})
            return md
        return self._commit_metadata_edit(do)

    def update_schema(self):
        from linkedin_iceberg_spark.catalog.evolution import SchemaUpdate
        return SchemaUpdate(self)

    def new_transaction(self):
        from linkedin_iceberg_spark.catalog.transaction import Transaction
        return Transaction(self)

    def create_temp_view(self, view_name: Optional[str] = None) -> str:
        """Register the table's current snapshot for raw spark.sql queries
        (the reference's Spark-catalog registration analog; SURVEY.md §7
        notes createOrReplaceTempView covers the SQL entry point)."""
        name = view_name or self.name.replace(".", "_")
        self.to_df().createOrReplaceTempView(name)
        return name

    def _commit_metadata_edit(self, edit_fn: Callable) -> "Table":
        attempt = 0
        while True:
            base = self.ops.refresh() or self.metadata
            version = getattr(base, "_version", 0)
            md = edit_fn(base)
            md.last_updated_ms = int(time.time() * 1000)
            try:
                new_version = self.ops.commit(version, md)
                md._version = new_version  # type: ignore[attr-defined]
                self.metadata, self.version = md, new_version
                return self
            except CommitFailedException:
                attempt += 1
                if attempt > COMMIT_NUM_RETRIES:
                    raise
                time.sleep(min(0.1 * (2 ** attempt), 2.0))

    # ------------------------------------------------------ metadata tables
    def metadata_table(self, name: str) -> DataFrame:
        from linkedin_iceberg_spark.catalog.metadata_tables import metadata_table
        return metadata_table(self, name)

    # ------------------------------------------------------- v2 row deltas
    def row_delta(self, data_df: Optional[DataFrame] = None,
                  position_deletes: Optional[DataFrame] = None,
                  equality_delete_keys: Optional[DataFrame] = None,
                  key_cols: Optional[list] = None) -> "Table":
        from linkedin_iceberg_spark.catalog.row_delta import row_delta
        return row_delta(self, data_df, position_deletes,
                         equality_delete_keys, key_cols)

    def colocated_join(self, other: "Table", key: str, **kw) -> DataFrame:
        """Zero-shuffle bucket-co-located join with `other` on `key`
        (both tables bucketed on it with one modulus) — see
        catalog/colocated.py; falls back to the plain Spark join
        whenever the co-located contract doesn't hold."""
        from linkedin_iceberg_spark.catalog.colocated import (
            colocated_bucket_join)
        return colocated_bucket_join(self, other, key, **kw)

    def colocated_groupby(self, key: str, aggs: list, **kw) -> DataFrame:
        """Zero-shuffle GROUP BY on the bucket key (this table's spec
        buckets `key`) — per-bucket aggregation with no exchange and no
        Spark aggregate operator; see catalog/colocated.py.  Falls back
        to the plain Spark groupBy whenever the contract doesn't hold."""
        from linkedin_iceberg_spark.catalog.colocated import (
            colocated_groupby)
        return colocated_groupby(self, key, aggs, **kw)

    def upsert(self, df: DataFrame, key_cols: list) -> "Table":
        from linkedin_iceberg_spark.catalog.row_delta import upsert
        return upsert(self, df, key_cols)

    def merge(self, source: DataFrame, key_cols: list, **kw) -> "Table":
        """Full MERGE INTO (matched update/delete + unmatched insert with
        conditions) as one RowDelta snapshot — see row_delta.merge."""
        from linkedin_iceberg_spark.catalog.row_delta import merge
        return merge(self, source, key_cols, **kw)

    def changes(self, from_snapshot_id: Optional[int] = None,
                to_snapshot_id: Optional[int] = None) -> DataFrame:
        """Changelog (CDC) scan: row-level inserts/deletes committed in
        (from, to] — see catalog/changelog.py."""
        from linkedin_iceberg_spark.catalog.changelog import changes
        return changes(self, from_snapshot_id, to_snapshot_id)

    def diff(self, from_ref, to_ref=None) -> DataFrame:
        """Net row delta between two states (snapshot ids, tag/branch
        names, or None=current), tagged `_diff_type` — works across
        non-ancestor pairs (two branches) where no changelog path
        exists; unchanged files skip metadata-only.  See
        catalog/diff.py."""
        from linkedin_iceberg_spark.catalog.diff import snapshot_diff
        return snapshot_diff(self, from_ref, to_ref)

    # ---------------------------------------------------------- maintenance
    def rewrite_data_files(self, **kw) -> dict:
        from linkedin_iceberg_spark.catalog.maintenance import rewrite_data_files
        return rewrite_data_files(self, **kw)

    def rewrite_manifests(self, **kw) -> dict:
        from linkedin_iceberg_spark.catalog.maintenance import rewrite_manifests
        return rewrite_manifests(self, **kw)

    def remove_dangling_deletes(self, **kw) -> dict:
        from linkedin_iceberg_spark.catalog.maintenance import (
            remove_dangling_deletes)
        return remove_dangling_deletes(self, **kw)

    def expire_snapshots(self, **kw) -> dict:
        from linkedin_iceberg_spark.catalog.maintenance import expire_snapshots
        return expire_snapshots(self, **kw)

    def remove_orphan_files(self, **kw) -> dict:
        from linkedin_iceberg_spark.catalog.maintenance import remove_orphan_files
        return remove_orphan_files(self, **kw)


def _collect_import_stats(spark: SparkSession, paths: list, schema: Schema,
                          mode: str, fmt: str = "parquet") -> dict:
    """Footer metrics for in-place-imported files: path -> stats dict.

    Small imports read footers on the driver with a thread pool; large ones
    fan the paths out to executors (ref: SparkTableUtil.listPartition runs
    its footer collection inside a Spark job for the same reason — a 100 TB
    import has millions of footers, hours of driver-side I/O)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(p: str) -> tuple:
        if fmt == "orc":
            from linkedin_iceberg_spark.catalog.stats import (
                collect_orc_file_stats)
            return p, collect_orc_file_stats(p, schema)
        from linkedin_iceberg_spark.catalog.stats import collect_file_stats
        return p, collect_file_stats(p, schema, mode)

    if len(paths) <= 32:
        with ThreadPoolExecutor(max_workers=16) as pool:
            return dict(pool.map(one, paths))

    from linkedin_iceberg_spark.shipping import ship_package
    ship_package(spark)
    nparts = min(len(paths) // 16 + 1, 256)

    def part(it):
        return [one(p) for p in it]

    return dict(spark.sparkContext.parallelize(paths, nparts)
                .mapPartitions(part).collect())
