"""Manifest files and manifest lists as Parquet.

ref: api/.../ManifestFile.java, core/.../ManifestListWriter.java,
core/.../ManifestReader.java:52, core/.../GenericPartitionFieldSummary.java.

Design: a manifest is a Parquet file with one row per data/delete-file entry;
a manifest list is a Parquet file with one row per manifest, carrying
partition summaries (per-field min/max/contains-null) for level-1 pruning
(S3).  Both are small and written driver-side with pyarrow, but are readable
as Spark DataFrames for metadata tables / at-scale planning — the same
two-level structure that lets the reference plan multi-petabyte tables from
one node (site/docs/performance.md "Scan planning")."""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq

from linkedin_iceberg_spark.catalog.cache import BoundedCache, file_signature
from linkedin_iceberg_spark.catalog.serde import decode_value, encode_value

# entry status (ref: ManifestEntry.Status)
STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

# file content (ref: FileContent)
CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2

# the reserved field id position-delete files use for their file_path
# column (ref: core MetadataColumns.DELETE_FILE_PATH); a pos-delete
# entry stores its referenced-path range under it so matching can skip
# data files outside the range
DELETE_FILE_PATH_FID = 2147483546


@dataclass(slots=True)
class DataFile:
    """ref: api/.../DataFile.java:67-96 + ContentFile.java:45-103.

    slots: a 1M-entry plan materializes a million of these on the driver —
    slots cut per-instance memory ~3x and speed construction."""

    file_path: str
    file_format: str = "parquet"
    partition: dict = field(default_factory=dict)     # pf.name -> native value
    record_count: int = 0
    file_size_in_bytes: int = 0
    value_counts: dict = field(default_factory=dict)      # field id -> count
    null_value_counts: dict = field(default_factory=dict)
    nan_value_counts: dict = field(default_factory=dict)
    lower_bounds: dict = field(default_factory=dict)      # field id -> native
    upper_bounds: dict = field(default_factory=dict)
    content: int = CONTENT_DATA
    equality_ids: list = field(default_factory=list)
    spec_id: int = 0
    schema_id: int = 0
    sort_order: Optional[str] = None


@dataclass(slots=True)
class ManifestEntry:
    status: int
    snapshot_id: int
    sequence_number: int
    data_file: DataFile

    def stats_dict(self) -> dict:
        """Shape consumed by expressions.metrics evaluators."""
        df = self.data_file
        return {
            "record_count": df.record_count,
            "value_counts": df.value_counts,
            "null_value_counts": df.null_value_counts,
            "nan_value_counts": df.nan_value_counts,
            "lower_bounds": df.lower_bounds,
            "upper_bounds": df.upper_bounds,
        }


_MANIFEST_SCHEMA = pa.schema([
    ("status", pa.int8()),
    ("snapshot_id", pa.int64()),
    ("sequence_number", pa.int64()),
    ("content", pa.int8()),
    ("file_path", pa.string()),
    ("file_format", pa.string()),
    ("spec_id", pa.int32()),
    ("schema_id", pa.int32()),
    ("partition", pa.string()),          # JSON: pf.name -> encoded value
    ("record_count", pa.int64()),
    ("file_size_in_bytes", pa.int64()),
    ("value_counts", pa.string()),       # JSON: field id -> count
    ("null_value_counts", pa.string()),
    ("nan_value_counts", pa.string()),
    ("lower_bounds", pa.string()),       # JSON: field id -> encoded value
    ("upper_bounds", pa.string()),
    ("equality_ids", pa.string()),       # JSON list of field ids
])


def _encode_bounds(bounds: dict, types_by_id: dict) -> str:
    return json.dumps({str(k): encode_value(v, types_by_id.get(k, "string"))
                       for k, v in bounds.items()})


def _encode_partition(partition: dict, ptypes: dict) -> str:
    return json.dumps({k: encode_value(v, ptypes.get(k, "string"))
                       for k, v in partition.items()})


def _decode_partition(s: str, ptypes: dict) -> dict:
    if not s:
        return {}
    raw = json.loads(s)
    return {k: decode_value(v, ptypes.get(k, "string")) for k, v in raw.items()}


def write_manifest(path: str, entries: list, types_by_id: dict,
                   ptypes: dict) -> "ManifestFileInfo":
    """Write entries to a manifest parquet; returns list-entry info with
    partition summaries."""
    cols = {name: [] for name in _MANIFEST_SCHEMA.names}
    for e in entries:
        df = e.data_file
        cols["status"].append(e.status)
        cols["snapshot_id"].append(e.snapshot_id)
        cols["sequence_number"].append(e.sequence_number)
        cols["content"].append(df.content)
        cols["file_path"].append(df.file_path)
        cols["file_format"].append(df.file_format)
        cols["spec_id"].append(df.spec_id)
        cols["schema_id"].append(df.schema_id)
        cols["partition"].append(_encode_partition(df.partition, ptypes))
        cols["record_count"].append(df.record_count)
        cols["file_size_in_bytes"].append(df.file_size_in_bytes)
        cols["value_counts"].append(json.dumps(
            {str(k): v for k, v in df.value_counts.items()}))
        cols["null_value_counts"].append(json.dumps(
            {str(k): v for k, v in df.null_value_counts.items()}))
        cols["nan_value_counts"].append(json.dumps(
            {str(k): v for k, v in df.nan_value_counts.items()}))
        cols["lower_bounds"].append(_encode_bounds(df.lower_bounds, types_by_id))
        cols["upper_bounds"].append(_encode_bounds(df.upper_bounds, types_by_id))
        cols["equality_ids"].append(json.dumps(df.equality_ids))
    table = pa.table(cols, schema=_MANIFEST_SCHEMA)
    pq.write_table(table, path)
    return summarize_manifest(path, entries, ptypes)


def _decode_json_column(col: list, transform) -> list:
    """Decode a column of JSON strings with ONE C-level parse for the whole
    column plus a memoized per-distinct-string transform.

    Planning is driver-side (the reference's own design); at ~1M manifest
    entries the former 6-loads-per-entry decode was the planning hot spot.
    Joining the strings into a single JSON array amortizes the parser, and
    manifests repeat strings heavily (empty stats, partition-clustered
    entries), so the transform cache usually fires.  Returned containers
    are shallow-copied per row — callers may mutate them."""
    blob = json.loads("[" + ",".join(s if s else "null" for s in col) + "]")
    cache: dict = {}
    out = []
    for s, raw in zip(col, blob):
        if raw is None:
            out.append({} if not isinstance(raw, list) else [])
            continue
        got = cache.get(s)
        if got is None:
            got = transform(raw)
            cache[s] = got
        out.append(dict(got) if isinstance(got, dict) else list(got))
    return out


# decoded manifests by (path, mtime_ns): manifest files are immutable once
# committed (writers always create new uuid-named files), and so is the
# decoded pyarrow Table; the mtime guards against an out-of-band rewrite.
_MANIFEST_TABLE_CACHE = BoundedCache(max_entries=512, max_bytes=256 << 20,
                                     size=lambda t: t.nbytes)


def read_manifest_table(path: str) -> "pa.Table":
    """Raw manifest as a pyarrow Table (columns still JSON-encoded) — the
    input to both the materializing read below and the vectorized planner
    (catalog/plan_vectorized.py), which filters column vectors BEFORE
    paying per-entry object construction."""
    sig = file_signature([os.path.abspath(path)])
    return _MANIFEST_TABLE_CACHE.get(
        sig[0][:2] if sig else None, lambda: pq.read_table(path))


def read_manifest(path: str, types_by_id: dict, ptypes: dict) -> list:
    """Read entries back as list[ManifestEntry]."""
    return entries_from_table(read_manifest_table(path), types_by_id, ptypes)


def entries_from_table(table: "pa.Table", types_by_id: dict,
                       ptypes: dict) -> list:
    """Materialize a (possibly pre-filtered) manifest table as
    list[ManifestEntry]."""
    out = []
    d = table.to_pydict()
    n = table.num_rows

    parts = _decode_json_column(
        d["partition"],
        lambda raw: {k: decode_value(v, ptypes.get(k, "string"))
                     for k, v in raw.items()})
    vcounts = _decode_json_column(
        d["value_counts"], lambda raw: {int(k): v for k, v in raw.items()})
    ncounts = _decode_json_column(
        d["null_value_counts"],
        lambda raw: {int(k): v for k, v in raw.items()})
    nans = _decode_json_column(
        d["nan_value_counts"],
        lambda raw: {int(k): v for k, v in raw.items()})

    def bounds_tr(raw):
        return {int(k): decode_value(v, types_by_id.get(int(k), "string"))
                for k, v in raw.items()}

    lowers = _decode_json_column(d["lower_bounds"], bounds_tr)
    uppers = _decode_json_column(d["upper_bounds"], bounds_tr)
    eq_ids = _decode_json_column(d["equality_ids"], lambda raw: raw)

    for i in range(n):
        df = DataFile(
            file_path=d["file_path"][i],
            file_format=d["file_format"][i],
            partition=parts[i],
            record_count=d["record_count"][i],
            file_size_in_bytes=d["file_size_in_bytes"][i],
            value_counts=vcounts[i],
            null_value_counts=ncounts[i],
            nan_value_counts=nans[i],
            lower_bounds=lowers[i],
            upper_bounds=uppers[i],
            content=d["content"][i],
            equality_ids=eq_ids[i] if isinstance(eq_ids[i], list) else [],
            spec_id=d["spec_id"][i],
            schema_id=d["schema_id"][i],
        )
        out.append(ManifestEntry(d["status"][i], d["snapshot_id"][i],
                                 d["sequence_number"][i], df))
    return out


@dataclass
class ManifestFileInfo:
    """A manifest-list row (ref: api/.../ManifestFile.java)."""

    manifest_path: str
    added_snapshot_id: int = 0
    added_files_count: int = 0
    existing_files_count: int = 0
    deleted_files_count: int = 0
    added_rows_count: int = 0
    min_sequence_number: int = 0
    sequence_number: int = 0
    content: int = CONTENT_DATA
    # per partition-field summaries: name -> {contains_null, lower, upper}
    partition_summaries: dict = field(default_factory=dict)


def summarize_manifest(path: str, entries: list, ptypes: dict) -> ManifestFileInfo:
    info = ManifestFileInfo(manifest_path=os.path.basename(path))
    seqs = []
    contents = set()
    summaries: dict = {}
    for e in entries:
        if e.status == STATUS_DELETED:
            info.deleted_files_count += 1
            continue
        contents.add(e.data_file.content)
        if e.status == STATUS_ADDED:
            info.added_files_count += 1
            info.added_rows_count += e.data_file.record_count
            info.added_snapshot_id = e.snapshot_id
        else:
            info.existing_files_count += 1
        seqs.append(e.sequence_number)
        for name, v in e.data_file.partition.items():
            s = summaries.setdefault(name, {"contains_null": False,
                                            "lower": None, "upper": None})
            if v is None:
                s["contains_null"] = True
                continue
            if s["lower"] is None or v < s["lower"]:
                s["lower"] = v
            if s["upper"] is None or v > s["upper"]:
                s["upper"] = v
    info.min_sequence_number = min(seqs) if seqs else 0
    info.sequence_number = max(seqs) if seqs else 0
    if contents == {CONTENT_POSITION_DELETES} or contents == {CONTENT_EQUALITY_DELETES} \
            or contents == {CONTENT_POSITION_DELETES, CONTENT_EQUALITY_DELETES}:
        info.content = CONTENT_POSITION_DELETES  # "deletes" manifest marker
    info.partition_summaries = summaries
    return info


_MANIFEST_LIST_SCHEMA = pa.schema([
    ("manifest_path", pa.string()),
    ("added_snapshot_id", pa.int64()),
    ("added_files_count", pa.int32()),
    ("existing_files_count", pa.int32()),
    ("deleted_files_count", pa.int32()),
    ("added_rows_count", pa.int64()),
    ("min_sequence_number", pa.int64()),
    ("sequence_number", pa.int64()),
    ("content", pa.int8()),
    ("partition_summaries", pa.string()),  # JSON name -> {contains_null, lower, upper}
])


def write_manifest_list(path: str, infos: list, ptypes: dict) -> None:
    cols = {name: [] for name in _MANIFEST_LIST_SCHEMA.names}
    for m in infos:
        cols["manifest_path"].append(m.manifest_path)
        cols["added_snapshot_id"].append(m.added_snapshot_id)
        cols["added_files_count"].append(m.added_files_count)
        cols["existing_files_count"].append(m.existing_files_count)
        cols["deleted_files_count"].append(m.deleted_files_count)
        cols["added_rows_count"].append(m.added_rows_count)
        cols["min_sequence_number"].append(m.min_sequence_number)
        cols["sequence_number"].append(m.sequence_number)
        cols["content"].append(m.content)
        enc = {name: {"contains_null": s["contains_null"],
                      "lower": encode_value(s["lower"], ptypes.get(name, "string")),
                      "upper": encode_value(s["upper"], ptypes.get(name, "string"))}
               for name, s in m.partition_summaries.items()}
        cols["partition_summaries"].append(json.dumps(enc))
    pq.write_table(pa.table(cols, schema=_MANIFEST_LIST_SCHEMA), path)


def read_manifest_list(path: str, ptypes: dict) -> list:
    # manifest-list files are immutable uuid-named snapshots too — share
    # the table cache; the mutable ManifestFileInfo rows below are still
    # built fresh per call
    table = read_manifest_table(path)
    d = table.to_pydict()
    out = []
    for i in range(table.num_rows):
        raw = json.loads(d["partition_summaries"][i] or "{}")
        summaries = {name: {"contains_null": s["contains_null"],
                            "lower": decode_value(s["lower"], ptypes.get(name, "string")),
                            "upper": decode_value(s["upper"], ptypes.get(name, "string"))}
                     for name, s in raw.items()}
        out.append(ManifestFileInfo(
            manifest_path=d["manifest_path"][i],
            added_snapshot_id=d["added_snapshot_id"][i],
            added_files_count=d["added_files_count"][i],
            existing_files_count=d["existing_files_count"][i],
            deleted_files_count=d["deleted_files_count"][i],
            added_rows_count=d["added_rows_count"][i],
            min_sequence_number=d["min_sequence_number"][i],
            sequence_number=d["sequence_number"][i],
            content=d["content"][i],
            partition_summaries=summaries,
        ))
    return out


def new_manifest_name() -> str:
    return f"manifest-{uuid.uuid4().hex}.parquet"


def manifest_list_name(snapshot_id: int) -> str:
    return f"snap-{snapshot_id}-{uuid.uuid4().hex}.parquet"
