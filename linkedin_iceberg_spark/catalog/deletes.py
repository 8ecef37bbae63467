"""v2 row-level deletes: position + equality delete files applied on read.

ref: core/.../deletes/Deletes.java:60-127 (apply), PositionDeleteWriter /
EqualityDeleteWriter, DeleteFileIndex.java:61-133 (sequence-number scoping).

Representation:
  position delete file — parquet(file_path string, pos long)
  equality delete file — parquet(<key columns, in the table's key types,
                         named as in the schema it was written under>) +
                         the key field ids recorded in the manifest entry

Application is pure Spark (distributed, broadcast-friendly).  Sequence
scoping happens at PLAN time: every data file's sequence number is known
driver-side, so data files are grouped by the exact set of delete files
that apply to them (an equality delete only hits files with a LOWER
sequence number — DeleteFileIndex semantics).  Each group is an
independent parquet read anti-joined with its delete set, and the groups
are unioned.  Files newer than every delete skip the joins entirely, and
no group shares lineage with another (deep shared-lineage unions send
Catalyst's plan deduplication into pathological re-analysis).

  position: left_anti join on (_file, _pos) where _pos is the in-file row
            index — Spark's parquet ``_metadata.row_index``, or the
            per-file row counter of the whole-file ORC/Avro readers
            (exact for every format since r10) — no shuffle, no window.
  equality: ONE null-safe left_anti join per ``equality_ids`` set: every
            delete file of the group that shares the set is read in the
            same relation.

Building the read launches no Spark job: every delete file is read under
an explicit schema — position files under POS_DELETE_SCHEMA, equality
files under one built from their ``equality_ids`` and the schema they
were written under — so no footer is inferred before the action.  Delete
rows are not deduplicated on read: a duplicate row cannot change an
anti-join, and the writer already wrote each key once.

Both anti-joins broadcast the delete side only while its summed manifest
record_count stays under BROADCAST_DELETE_ROW_LIMIT; past that the join
degrades to a shuffled anti-join (identical rows, no broadcast cliff on
long-unmaintained tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linkedin_iceberg_spark.catalog import manifests as M

POS_DELETE_SCHEMA = T.StructType([T.StructField("file_path", T.StringType()),
                                  T.StructField("pos", T.LongType())])

# Attached delete rows are broadcast for the anti-join only below this
# many rows (record counts come free from the manifest entries).  Above
# it — a long-unmaintained table accumulating deletes — the join falls
# back to a shuffled anti-join instead of driving every executor off the
# broadcast cliff.  rewrite_position_deletes / compaction keep real
# tables far below this.
BROADCAST_DELETE_ROW_LIMIT = 1_000_000


def _maybe_broadcast(df: DataFrame, rows) -> DataFrame:
    """Broadcast hint only when the delete set is provably small: `rows`
    is the summed manifest record_count of the delete files, None when
    any count is missing (conservative: no hint — AQE may still pick a
    broadcast from observed sizes, but we never force one)."""
    if rows is not None and rows <= BROADCAST_DELETE_ROW_LIMIT:
        return F.broadcast(df)
    return df


def _total_records(files) -> int:
    """Summed record_count over delete files, None if any is unknown."""
    total = 0
    for f in files:
        if f.record_count is None:
            return None
        total += f.record_count
    return total


def _identity_constants(md, file, written) -> dict:
    """Per-file identity-partition constants {written name: encoded value}
    from the manifest partition tuple — the pyarrow read path's analog of
    the native reader's ``basePath`` directory reconstruction (same recipe
    as scan._to_df_planned / local_read).  The file's OWN spec binds the
    fields (md.spec_by_id binds; raw md.specs entries are unbound)."""
    from linkedin_iceberg_spark.catalog.serde import encode_value
    spec = md.spec_by_id(file.spec_id)
    out = {}
    for pf in spec.fields:
        if pf.transform_str == "identity" and pf.name in file.partition:
            wname = written.name_for_id(pf.source_id)
            if wname is not None:
                out[wname] = encode_value(file.partition[pf.name],
                                          pf.source_type or "string")
    return out


def _read_group_with_positions(spark: SparkSession, md, schema_id: int,
                               gfiles: list, fmt: str = "parquet",
                               base_path: str = None) -> DataFrame:
    """Read one schema-group of data files projected to the CURRENT schema
    by field id, with _file/_pos metadata columns attached.

    _pos is EXACT for every format (r10): parquet rides Spark's native
    ``_metadata.row_index``; ORC and Avro route through the whole-file
    pyarrow/codec readers (sources/orc_spark.py, avro_spark.py) whose
    per-file row counter is the same ROW_POSITION — so position deletes
    and the reserved metadata columns are format-agnostic, matching the
    reference's delete machinery (core/.../deletes/Deletes.java:60-127)."""
    from linkedin_iceberg_spark.catalog.scan import align_columns, load_file_group
    schema = md.schema
    written = md.schema_by_id(schema_id)
    paths = [f.file_path for f in gfiles]
    meta = [F.col("_file"), F.col("_pos")]
    if fmt == "avro":
        from linkedin_iceberg_spark.sources.avro_spark import read_avro_files
        base = read_avro_files(spark, paths, written, with_file_col=True,
                               with_pos_col=True)
    elif fmt == "orc":
        from linkedin_iceberg_spark.sources.orc_spark import read_orc_files
        pconst = {f.file_path: _identity_constants(md, f, written)
                  for f in gfiles} if base_path is not None else None
        base = read_orc_files(spark, paths, written, pconst)
    else:
        base = load_file_group(spark, fmt, base_path, written.to_spark(),
                               paths)
        meta = [F.regexp_replace(F.col("_metadata.file_path"), "^file:", "")
                .alias("_file"),
                F.col("_metadata.row_index").alias("_pos")]
    # same rule as read_files_as_current_schema: a group written under the
    # current schema, not imported, is already read in current order
    if schema_id == md.current_schema_id and base_path is None:
        cols = schema.column_names()
    else:
        cols = align_columns(written, schema)
    return base.select(*cols, *meta)


def _equality_keys(spark: SparkSession, md, ids: tuple,
                   files: list) -> DataFrame:
    """The delete keys of every equality-delete file in ``files`` (all on
    the key set ``ids``) as one relation with columns ``_k_<field id>``.
    Each file is read under the names and types of the schema it was
    written under, so a column renamed since still matches by id."""
    from linkedin_iceberg_spark.catalog.scan import load_file_group
    from linkedin_iceberg_spark.schema import type_to_spark
    by_schema: dict = {}
    for f in files:
        by_schema.setdefault(f.schema_id, []).append(f.file_path)
    out = None
    for sid, paths in sorted(by_schema.items()):
        written = md.schema_by_id(sid)
        names = [written.name_for_id(i) for i in ids]
        struct = T.StructType([
            T.StructField(n, type_to_spark(written.find_type(i)), True)
            for n, i in zip(names, ids)])
        keys = load_file_group(spark, "parquet", None, struct, paths).select(
            *[F.col(n).alias(f"_k_{i}") for n, i in zip(names, ids)])
        out = keys if out is None else out.unionByName(keys)
    return out


def apply_deletes(table, tasks: list, df_ignored=None,
                  keep_metadata: bool = False) -> DataFrame:
    """Produce the live rows of the scan tasks with all attached position/
    equality delete files applied.  ``keep_metadata`` carries the
    reference's reserved metadata columns through to the caller:
    ``_file`` (data file path) and ``_pos`` (the row's ORIGINAL position
    in its data file — stable across delete application, matching
    MetadataColumns.ROW_POSITION; exact for parquet, ORC, and Avro)."""
    spark = table.spark
    md = table.metadata
    schema = md.schema

    from linkedin_iceberg_spark.catalog.scan import (
        import_base_path, load_file_group, read_files_as_current_schema)

    # group data files by (schema_id, format, base path, delete-file set)
    groups: dict = {}
    for t in tasks:
        dkey = tuple(sorted(d.data_file.file_path for d in t.deletes))
        bp = import_base_path(md, t.file.file_path)
        groups.setdefault((t.file.schema_id, t.file.file_format, bp, dkey),
                          []).append(t)

    # delete-file metadata by path (content kind, seq, equality ids)
    delete_meta: dict = {}
    for t in tasks:
        for d in t.deletes:
            delete_meta[d.data_file.file_path] = d.data_file

    parts = []
    for (schema_id, fmt, bp, dkey), gtasks in groups.items():
        gfiles = [t.file for t in gtasks]
        pos_files, eq_sets = [], {}
        for p in dkey:
            f = delete_meta[p]
            if f.content == M.CONTENT_POSITION_DELETES:
                pos_files.append(f)
            else:
                eq_sets.setdefault(tuple(f.equality_ids), []).append(f)

        # _file/_pos are read only where a caller or a join needs them
        with_pos = keep_metadata or bool(pos_files)
        if with_pos:
            data = _read_group_with_positions(spark, md, schema_id, gfiles,
                                              fmt, base_path=bp)
        else:
            data = read_files_as_current_schema(
                spark, md, {(schema_id, fmt, bp):
                            [f.file_path for f in gfiles]})

        if pos_files:
            pos_df = load_file_group(
                spark, "parquet", None, POS_DELETE_SCHEMA,
                [f.file_path for f in pos_files]).select(
                    F.col("file_path").alias("_file"),
                    F.col("pos").alias("_pos"))
            data = data.join(
                _maybe_broadcast(pos_df, _total_records(pos_files)),
                on=["_file", "_pos"], how="left_anti")

        for ids, files in eq_sets.items():
            keys = _equality_keys(spark, md, ids, files)
            cond = [F.col(schema.name_for_id(i)).eqNullSafe(F.col(f"_k_{i}"))
                    for i in ids]
            data = data.join(_maybe_broadcast(keys, _total_records(files)),
                             on=cond, how="left_anti")

        if with_pos and not keep_metadata:
            data = data.select(*schema.column_names())
        parts.append(data)

    if not parts:
        fields = list(schema.to_spark().fields)
        if keep_metadata:
            fields += [T.StructField("_file", T.StringType(), True),
                       T.StructField("_pos", T.LongType(), True)]
        return spark.createDataFrame([], T.StructType(fields))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
