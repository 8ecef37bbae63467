"""Table metadata: snapshots + schemas + specs, serialized as versioned JSON
files with atomic compare-and-swap commit.

ref: core/.../TableMetadata.java:47, TableMetadataParser.java, SnapshotParser.java,
HadoopTableOperations (version-hint + rename commit), SnapshotProducer.java:249-285
(optimistic retry loop — implemented in ops.py).

Layout under <table_location>/metadata/:
  v<N>.metadata.json      — full metadata at version N
  version-hint.text       — latest committed N (advisory fast-path)
  manifest-*.parquet      — manifest files (one row per data/delete file entry)
  snap-<id>.parquet       — manifest list for a snapshot

Atomicity: os.link(tmp, final) fails with EEXIST if another writer committed
the same version first — a true CAS on POSIX local/NFS filesystems.  Object
stores without atomic create-if-absent need an external lock service (same
caveat as the reference's HadoopTableOperations; documented, not solved)."""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Optional

from linkedin_iceberg_spark.catalog.cache import BoundedCache
from linkedin_iceberg_spark.catalog.spec import PartitionSpec
from linkedin_iceberg_spark.schema import Schema

FORMAT_VERSION = 2

# snapshot summary operations (ref: api/.../SnapshotSummary / DataOperations)
OP_APPEND = "append"
OP_REPLACE = "replace"
OP_OVERWRITE = "overwrite"
OP_DELETE = "delete"


class CommitFailedException(Exception):
    """Concurrent commit won the CAS; caller should refresh and retry."""


class ValidationException(Exception):
    """A concurrent commit changed state this operation depends on, so
    retrying against the refreshed base would NOT be serializable — the
    operation must be re-planned by the caller.  (ref: org.apache.iceberg
    exceptions.ValidationException as raised by BaseOverwriteFiles.java:
    76-129 validateNoConflictingAppends / deleted-file checks.)"""


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    parent_snapshot_id: Optional[int]
    sequence_number: int
    timestamp_ms: int
    operation: str
    manifest_list: str  # path to snap-*.parquet, relative to metadata dir
    summary: dict = field(default_factory=dict)
    schema_id: int = 0

    def to_json(self) -> dict:
        return {
            "snapshot-id": self.snapshot_id,
            "parent-snapshot-id": self.parent_snapshot_id,
            "sequence-number": self.sequence_number,
            "timestamp-ms": self.timestamp_ms,
            "summary": {"operation": self.operation, **self.summary},
            "manifest-list": self.manifest_list,
            "schema-id": self.schema_id,
        }

    @classmethod
    def from_json(cls, j: dict) -> "Snapshot":
        summary = dict(j.get("summary") or {})
        op = summary.pop("operation", OP_APPEND)
        return cls(j["snapshot-id"], j.get("parent-snapshot-id"),
                   j.get("sequence-number", 0), j["timestamp-ms"], op,
                   j["manifest-list"], summary, j.get("schema-id", 0))


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    last_sequence_number: int
    last_updated_ms: int
    last_column_id: int
    current_schema_id: int
    schemas: list          # list[Schema]
    default_spec_id: int
    specs: list            # list[PartitionSpec]
    properties: dict
    current_snapshot_id: Optional[int]
    snapshots: list        # list[Snapshot]
    snapshot_log: list     # [{timestamp-ms, snapshot-id}]
    metadata_log: list     # [{timestamp-ms, metadata-file}]
    refs: dict = field(default_factory=dict)   # branch/tag name -> snapshot-id
    staged_wap: dict = field(default_factory=dict)  # wap.id -> snapshot-id
    # name -> "tag" | "branch" (missing = tag, for metadata written before
    # branches existed); ref: the SnapshotRef type field
    ref_types: dict = field(default_factory=dict)
    # name -> max ref age in ms (missing = retained forever); a ref whose
    # target snapshot is older than its limit is dropped by
    # expire_snapshots — the SnapshotRef maxRefAgeMs retention knob
    ref_ages: dict = field(default_factory=dict)
    # row-identity field ids (ref: the v2 spec's schema
    # identifier-field-ids and UpdateSchema.setIdentifierFields; kept
    # at the metadata level — this engine has one current schema, and
    # the ids survive schema evolution because evolution preserves
    # field ids)
    identifier_field_ids: list = field(default_factory=list)

    # -- accessors ----------------------------------------------------------
    @property
    def schema(self) -> Schema:
        for s in self.schemas:
            if s.schema_id == self.current_schema_id:
                return s
        raise ValueError("current schema not found")

    def schema_by_id(self, schema_id: int) -> Schema:
        for s in self.schemas:
            if s.schema_id == schema_id:
                return s
        raise ValueError(f"no schema with id {schema_id}")

    @property
    def spec(self) -> PartitionSpec:
        for s in self.specs:
            if s.spec_id == self.default_spec_id:
                return s.bind(self.schema)
        raise ValueError("default spec not found")

    def bound_specs(self) -> list:
        """Every spec BOUND to the current schema (by source field id, so
        renames don't break old specs).  JSON-loaded specs are unbound —
        projections and partition_type silently degrade on them, so any
        per-spec iteration must go through here, not raw ``self.specs``."""
        return [s.bind(self.schema) for s in self.specs]

    def all_partition_types(self) -> dict:
        """pf.name -> type across EVERY spec (ref: TableMetadata.specsById).
        Manifest partition serde must use the union: after spec evolution a
        snapshot's manifests mix entries written under different specs.
        (Same-named fields across specs are same-source identity fields —
        the builder suffixes transformed names — so the union is sound.)"""
        out: dict = {}
        for s in self.bound_specs():
            out.update(s.partition_type())
        return out

    def spec_by_id(self, spec_id: int) -> PartitionSpec:
        for s in self.specs:
            if s.spec_id == spec_id:
                return s.bind(self.schema)
        raise ValueError(f"no spec with id {spec_id}")

    def snapshot_by_id(self, snapshot_id: int) -> Optional[Snapshot]:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        return None

    @property
    def current_snapshot(self) -> Optional[Snapshot]:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_as_of(self, timestamp_ms: int) -> Optional[Snapshot]:
        """Latest snapshot whose commit time <= timestamp (time travel)."""
        best = None
        for entry in self.snapshot_log:
            if entry["timestamp-ms"] <= timestamp_ms:
                best = entry["snapshot-id"]
        return self.snapshot_by_id(best) if best is not None else None

    def ancestry(self, snapshot_id: Optional[int] = None) -> list:
        """Snapshot ids from the given (default current) back to the root."""
        out = []
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        while sid is not None:
            snap = self.snapshot_by_id(sid)
            if snap is None:
                break
            out.append(sid)
            sid = snap.parent_snapshot_id
        return out

    # -- mutation helpers (pure; return new TableMetadata) ------------------
    def with_snapshot(self, snap: Snapshot, set_current: bool = True) -> "TableMetadata":
        md = replace(self)
        md.snapshots = [*self.snapshots, snap]
        md.last_sequence_number = max(self.last_sequence_number,
                                      snap.sequence_number)
        md.last_updated_ms = snap.timestamp_ms
        if set_current:
            md.current_snapshot_id = snap.snapshot_id
            md.snapshot_log = [*self.snapshot_log,
                               {"timestamp-ms": snap.timestamp_ms,
                                "snapshot-id": snap.snapshot_id}]
        return md

    def next_sequence_number(self) -> int:
        return self.last_sequence_number + 1

    # -- serde --------------------------------------------------------------
    def to_json(self) -> dict:
        return {
            "format-version": FORMAT_VERSION,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-sequence-number": self.last_sequence_number,
            "last-updated-ms": self.last_updated_ms,
            "last-column-id": self.last_column_id,
            "current-schema-id": self.current_schema_id,
            "schemas": [s.to_json() for s in self.schemas],
            "default-spec-id": self.default_spec_id,
            "partition-specs": [s.to_json() for s in self.specs],
            "properties": self.properties,
            "current-snapshot-id": self.current_snapshot_id,
            "snapshots": [s.to_json() for s in self.snapshots],
            "snapshot-log": self.snapshot_log,
            "metadata-log": self.metadata_log,
            "refs": self.refs,
            "staged-wap": self.staged_wap,
            "ref-types": self.ref_types,
            "ref-ages": self.ref_ages,
            "identifier-field-ids": self.identifier_field_ids,
        }

    @classmethod
    def from_json(cls, j: dict) -> "TableMetadata":
        return cls(
            table_uuid=j["table-uuid"],
            location=j["location"],
            last_sequence_number=j.get("last-sequence-number", 0),
            last_updated_ms=j.get("last-updated-ms", 0),
            last_column_id=j.get("last-column-id", 0),
            current_schema_id=j.get("current-schema-id", 0),
            schemas=[Schema.from_json(s) for s in j["schemas"]],
            default_spec_id=j.get("default-spec-id", 0),
            specs=[PartitionSpec.from_json(s) for s in j["partition-specs"]],
            properties=j.get("properties", {}),
            current_snapshot_id=j.get("current-snapshot-id"),
            snapshots=[Snapshot.from_json(s) for s in j.get("snapshots", [])],
            snapshot_log=j.get("snapshot-log", []),
            metadata_log=j.get("metadata-log", []),
            refs=j.get("refs", {}),
            staged_wap=j.get("staged-wap", {}),
            ref_types=j.get("ref-types", {}),
            ref_ages=j.get("ref-ages", {}),
            identifier_field_ids=j.get("identifier-field-ids", []),
        )

    @classmethod
    def new_table(cls, location: str, schema: Schema, spec: PartitionSpec,
                  properties: Optional[dict] = None) -> "TableMetadata":
        return cls(
            table_uuid=str(uuid.uuid4()),
            location=location,
            last_sequence_number=0,
            last_updated_ms=int(time.time() * 1000),
            last_column_id=schema.highest_field_id,
            current_schema_id=schema.schema_id,
            schemas=[schema],
            default_spec_id=spec.spec_id,
            specs=[spec],
            properties=dict(properties or {}),
            current_snapshot_id=None,
            snapshots=[],
            snapshot_log=[],
            metadata_log=[],
        )


# ---------------------------------------------------------------------------
# TableOperations: versioned-file I/O with CAS commit
# ---------------------------------------------------------------------------

# parsed metadata by (location, version): version files are immutable, so
# an entry never goes stale while its table exists; a drop + recreate at the
# same location restarts versions at 1, so drop_table must call
# invalidate_metadata_cache(location).
_METADATA_CACHE_MAX = 64
_METADATA_CACHE = BoundedCache(_METADATA_CACHE_MAX)


def invalidate_metadata_cache(location: str) -> None:
    """Drop every cached version of the table at `location` (called on
    drop_table; a recreated table restarts version numbering)."""
    loc = os.path.abspath(location)
    _METADATA_CACHE.drop(lambda key: key[0] == loc)


class TableOperations:
    """ref: core/.../hadoop/HadoopTableOperations.java."""

    def __init__(self, location: str):
        self.location = location
        self.metadata_dir = os.path.join(location, "metadata")

    # -- paths --------------------------------------------------------------
    def _version_path(self, v: int) -> str:
        return os.path.join(self.metadata_dir, f"v{v}.metadata.json")

    def _hint_path(self) -> str:
        return os.path.join(self.metadata_dir, "version-hint.text")

    def current_version(self) -> int:
        """Latest committed version; verifies hint against the filesystem."""
        v = 0
        try:
            with open(self._hint_path()) as fh:
                v = int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            v = 0
        if v == 0 or not os.path.exists(self._version_path(v)):
            # no hint, or the hinted version's file was pruned
            # (delete-after-commit) — recover from the directory listing;
            # a forward scan from a stale point would stop at the pruned
            # gap and either crash or silently serve ancient history
            v = 0
            try:
                for fn in os.listdir(self.metadata_dir):
                    if fn.startswith("v") and fn.endswith(".metadata.json"):
                        try:
                            v = max(v, int(fn[1:-len(".metadata.json")]))
                        except ValueError:
                            pass
            except FileNotFoundError:
                return 0
        # the hint write is non-atomic wrt the CAS — scan forward to be safe
        while os.path.exists(self._version_path(v + 1)):
            v += 1
        return v

    def refresh(self) -> Optional[TableMetadata]:
        """Current metadata, served from the process-wide cache when the
        version is unchanged (ref: core/.../CachingCatalog.java).

        Safe because metadata version files are IMMUTABLE — commit creates
        v{N+1} via an os.link CAS and never rewrites v{N} — and every
        mutation helper in this module is pure (replace + whole-attribute
        reassignment), so a cached instance is never modified in place.
        The version probe (hint file + forward exists-scan) still touches
        the filesystem, which is what makes a concurrent commit visible:
        a new version is a cache miss and gets parsed fresh."""
        v = self.current_version()
        if v == 0:
            return None

        def parse() -> TableMetadata:
            with open(self._version_path(v)) as fh:
                md = TableMetadata.from_json(json.load(fh))
            md._version = v  # type: ignore[attr-defined]
            return md
        return _METADATA_CACHE.get(
            (os.path.abspath(self.location), v), parse)

    def commit(self, base_version: int, metadata: TableMetadata) -> int:
        """CAS: succeeds only if nobody committed base_version+1 first.

        The metadata-log is RETAINED, not accumulated: only the last
        `write.metadata.previous-versions-max` entries survive each
        commit (ref: TableProperties METADATA_PREVIOUS_VERSIONS_MAX,
        default 100) — at 100k commits an unbounded log is megabytes of
        parse work on EVERY metadata read.  With
        `write.metadata.delete-after-commit.enabled=true` the dropped
        versions' files are unlinked too (METADATA_DELETE_AFTER_COMMIT);
        old metadata files serve no reader — time travel uses snapshots
        inside the CURRENT metadata."""
        os.makedirs(self.metadata_dir, exist_ok=True)
        new_version = base_version + 1
        final = self._version_path(new_version)
        tmp = os.path.join(self.metadata_dir, f".tmp-{uuid.uuid4().hex}.json")
        j = metadata.to_json()
        keep = int(metadata.properties.get(
            "write.metadata.previous-versions-max", "100"))
        full_log = [*metadata.metadata_log,
                    {"timestamp-ms": metadata.last_updated_ms,
                     "metadata-file": f"v{base_version}.metadata.json"}] \
            if base_version > 0 else []
        j["metadata-log"] = full_log[-max(keep, 1):]
        dropped = full_log[:-max(keep, 1)] if len(full_log) > keep else []
        with open(tmp, "w") as fh:
            json.dump(j, fh, indent=1)
        try:
            os.link(tmp, final)  # atomic create-if-absent (POSIX CAS)
        except FileExistsError:
            raise CommitFailedException(
                f"version {new_version} was committed concurrently")
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        # advisory hint (readers re-verify with the forward scan)
        hint_tmp = os.path.join(self.metadata_dir, f".hint-{uuid.uuid4().hex}")
        with open(hint_tmp, "w") as fh:
            fh.write(str(new_version))
        os.replace(hint_tmp, self._hint_path())
        if dropped and metadata.properties.get(
                "write.metadata.delete-after-commit.enabled",
                "false").lower() == "true":
            for entry in dropped:
                try:
                    os.unlink(os.path.join(self.metadata_dir,
                                           entry["metadata-file"]))
                except FileNotFoundError:
                    pass
        return new_version

    def new_metadata_path(self, name: str) -> str:
        return os.path.join(self.metadata_dir, name)
