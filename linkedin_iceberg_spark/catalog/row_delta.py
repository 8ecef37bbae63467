"""RowDelta (v2): commit data files + position/equality delete files together.

ref: api/.../RowDelta.java, core/.../BaseRowDelta.java:22-46,
core/.../deletes/PositionDeleteWriter.java, EqualityDeleteWriter.java.

Delete files are written with Spark (distributed, sorted as the reference
requires for position deletes), registered in the same snapshot as any new
data files.  Read-side application is catalog/deletes.py (anti-joins scoped
by sequence number, ref DeleteFileIndex.java:61-133).
"""

from __future__ import annotations

import os
import uuid
from typing import Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from linkedin_iceberg_spark.catalog import manifests as M
from linkedin_iceberg_spark.catalog.metadata import OP_OVERWRITE


def _write_delete_parquet(table, df: DataFrame, content: int,
                          equality_ids: list) -> list:
    """Write a delete-file parquet set; return DataFile entries."""
    staging = os.path.join(table.location, "data",
                           f"deletes-{uuid.uuid4().hex[:12]}")
    df.write.mode("errorifexists").parquet(staging)
    out = []
    for root, _dirs, files in os.walk(staging):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            fpath = os.path.join(root, fn)
            meta = pq.read_metadata(fpath)
            if meta.num_rows == 0:
                continue  # a clause that matched nothing adds no file
            bounds_lo: dict = {}
            bounds_hi: dict = {}
            null_counts: dict = {}
            if content == M.CONTENT_POSITION_DELETES:
                # referenced-path range: the min/max of the file_path
                # column is the exact span of files this delete touches —
                # matching skips every data file outside it.  Read the
                # column (delete files are metadata-sized) instead of
                # trusting footer stats, whose string values parquet
                # writers may silently truncate (an under-shot max would
                # wrongly prune the top of the range).
                import pyarrow.compute as _pc
                paths = pq.read_table(
                    fpath, columns=["file_path"])["file_path"]
                if len(paths):
                    bounds_lo = {M.DELETE_FILE_PATH_FID:
                                 _pc.min(paths).as_py()}
                    bounds_hi = {M.DELETE_FILE_PATH_FID:
                                 _pc.max(paths).as_py()}
            if content == M.CONTENT_EQUALITY_DELETES:
                # key-column bounds make the delete SKIPPABLE: a data
                # file whose bounds don't overlap the deleted keys never
                # pays the anti-join (ref: DeleteFileIndex consulting
                # delete-file metrics)
                from linkedin_iceberg_spark.catalog.stats import (
                    collect_file_stats)
                st = collect_file_stats(fpath, table.schema)
                bounds_lo = {i: st["lower_bounds"][i]
                             for i in equality_ids
                             if i in st["lower_bounds"]}
                bounds_hi = {i: st["upper_bounds"][i]
                             for i in equality_ids
                             if i in st["upper_bounds"]}
                null_counts = {i: st["null_value_counts"][i]
                               for i in equality_ids
                               if i in st["null_value_counts"]}
            out.append(M.DataFile(
                file_path=fpath,
                record_count=meta.num_rows,
                file_size_in_bytes=os.path.getsize(fpath),
                content=content,
                equality_ids=list(equality_ids),
                lower_bounds=bounds_lo,
                upper_bounds=bounds_hi,
                null_value_counts=null_counts,
                spec_id=table.spec.spec_id,
                schema_id=table.metadata.current_schema_id,
            ))
    return out


def row_delta(table, data_df: Optional[DataFrame] = None,
              position_deletes: Optional[DataFrame] = None,
              equality_delete_keys: Optional[DataFrame] = None,
              key_cols: Optional[list] = None,
              extra_summary: Optional[dict] = None,
              seen_paths: Optional[set] = None,
              conflict_fn=None):
    """One atomic snapshot with any mix of added rows / pos-deletes /
    eq-deletes.  Equality deletes are sequence-scoped: they only hit rows
    from files with a LOWER sequence number, so data added in this same
    commit survives — this is exactly what makes upsert one snapshot.

    `seen_paths`/`conflict_fn` opt into serializable validation on the
    retry loop (same contract as Table._commit_file_swap): a file in
    `seen_paths` that disappeared, or a concurrently added entry that
    `conflict_fn` flags, raises ValidationException — because this
    commit's eq-deletes land at a HIGHER sequence number on retry, they
    would silently hit concurrently appended rows the caller never read
    (lost update) if histories were merged blindly.  merge()/upsert()
    scope the conflict to the source keys' bounds."""
    data_files = table._write_data_files(data_df) if data_df is not None else []
    delete_files: list = []
    if position_deletes is not None:
        # format-agnostic since r10: parquet rides _metadata.row_index,
        # ORC/Avro ride the whole-file readers' exact per-file row counter
        # (deletes._read_group_with_positions), so every write format the
        # engine produces can be a position-delete target — matching the
        # reference's Deletes.java
        # the reference requires position deletes sorted by (path, pos)
        pos = position_deletes.select("file_path", "pos") \
            .sortWithinPartitions("file_path", "pos")
        delete_files += _write_delete_parquet(
            table, pos, M.CONTENT_POSITION_DELETES, [])
    if equality_delete_keys is not None:
        delete_files += _write_equality_deletes(
            table, equality_delete_keys,
            key_cols or equality_delete_keys.columns)
    return _commit_delta(table, data_files, delete_files, extra_summary,
                         seen_paths, conflict_fn)


def _write_equality_deletes(table, keys: DataFrame, key_cols: list) -> list:
    """Equality-delete files holding each distinct key of ``keys`` once,
    every key column cast to the table's type and named as in the table
    schema — the read side (deletes._equality_keys) reads them under
    exactly that schema.  The cast follows the session's ANSI setting: a
    key that does not fit the column raises rather than turning into a
    NULL the null-safe anti-join would match."""
    from pyspark.sql import functions as F

    from linkedin_iceberg_spark.schema import type_to_spark
    schema = table.schema
    ids = _key_ids(table, key_cols)
    typed = keys.select(*[
        F.col(c).cast(type_to_spark(schema.find_type(i)))
        .alias(schema.name_for_id(i)) for c, i in zip(key_cols, ids)])
    return _write_delete_parquet(table, typed.distinct(),
                                 M.CONTENT_EQUALITY_DELETES, ids)


def _key_ids(table, key_cols: list) -> list:
    """Field ids of ``key_cols``; ValueError naming any not in the schema."""
    ids = [table.schema.id_for_name(c) for c in key_cols]
    missing = [c for c, i in zip(key_cols, ids) if i is None]
    if missing:
        raise ValueError(f"equality-delete key columns not in the table "
                         f"schema: {missing}")
    return ids


def _commit_delta(table, data_files: list, delete_files: list,
                  extra_summary: Optional[dict] = None,
                  seen_paths: Optional[set] = None,
                  conflict_fn=None):
    """Commit already-written data and delete files as one snapshot (the
    row_delta contract for ``seen_paths``/``conflict_fn``)."""
    if not data_files and not delete_files:
        return table

    types_by_id = table._types_by_id()

    def build(base, snap_id, seq):
        if conflict_fn is not None:
            from linkedin_iceberg_spark.catalog.metadata import (
                ValidationException)
            live = table._live_entries(base=base)
            live_paths = {e.data_file.file_path for e in live}
            gone = sorted((seen_paths or set()) - live_paths)
            if gone:
                raise ValidationException(
                    f"row_delta: {len(gone)} file(s) read by this "
                    f"operation were removed by a concurrent commit "
                    f"(e.g. {gone[0]}); re-plan on the refreshed table")
            for e in live:
                if e.data_file.file_path in (seen_paths or set()):
                    continue
                if conflict_fn(e):
                    raise ValidationException(
                        "row_delta: a concurrent commit added "
                        f"{e.data_file.file_path}, which may hold rows in "
                        "this operation's key range; its rows would be "
                        "hit by the higher-sequence equality deletes "
                        "without appearing in the computed output — "
                        "re-plan on the refreshed table")
        ptypes = base.all_partition_types()
        infos = []
        entries = [M.ManifestEntry(M.STATUS_ADDED, snap_id, seq, f)
                   for f in [*data_files, *delete_files]]
        name = M.new_manifest_name()
        info = M.write_manifest(table.ops.new_metadata_path(name), entries,
                                types_by_id, ptypes)
        info.manifest_path = name
        infos.append(info)
        infos.extend(table._base_manifest_infos(base))
        summary = {
            "added-data-files": str(len(data_files)),
            "added-delete-files": str(len(delete_files)),
            "added-records": str(sum(f.record_count for f in data_files)),
            **table._rolling_totals(
                base, d_files=len(data_files),
                d_records=sum(f.record_count for f in data_files),
                d_delete_files=len(delete_files)),
            **(extra_summary or {}),
        }
        return infos, summary, None

    return table._commit(build, OP_OVERWRITE)


def merge(table, source: DataFrame, key_cols: list,
          matched_update: Optional[dict] = None,
          matched_update_cond=None,
          matched_delete_cond=None,
          insert_unmatched: bool = True,
          insert_cond=None,
          insert_values: Optional[dict] = None,
          unmatched_source_update: Optional[dict] = None,
          unmatched_source_update_cond=None,
          unmatched_source_delete_cond=None,
          matched_delete_first: bool = True,
          source_delete_first: bool = True,
          validate_source_unique: bool = True,
          extra_summary: Optional[dict] = None):
    """Full MERGE INTO semantics committed as ONE RowDelta snapshot
    (ref: the SQL extension the reference delegates to engines,
    spark3/.../SparkMergeBuilder-era row-level ops; our v2 analog).

    Per source row joined to the target on `key_cols`:
      * matched and `matched_delete_cond`            -> target row deleted
      * matched and `matched_update` (+opt cond)     -> target row replaced
        with the update expressions (dict target_col -> Column over the
        `s`/`t` aliases)
      * not matched and `insert_unmatched` (+opt cond) -> source row added

    Clause semantics follow SQL MERGE three-valued logic and ordering:
    a condition that evaluates to NULL does not fire its clause (it is
    coalesced to false, never silently flipping an update into a
    delete), and when BOTH an update and a delete clause are present
    the FIRST matching clause wins — `matched_delete_first` /
    `source_delete_first` record the declared clause order (True = the
    DELETE clause precedes the UPDATE clause, the default; the SQL
    route passes the order it parsed).

    r7 — NOT MATCHED BY SOURCE (the Spark 3.4+ MERGE extension): target
    rows with NO source match can be deleted
    (`unmatched_source_delete_cond`) or updated
    (`unmatched_source_update` + opt cond) — conditions/expressions see
    `t.*` only.  These clauses touch keys OUTSIDE the source's key
    range, so the conflict guard widens from the source key bounds to
    the whole table (any concurrent data/delete commit conflicts) —
    correctness first; the scoped guard stays for source-only merges.

    Everything is distributed DataFrame work: one inner join for matches,
    one anti join for inserts, and a single equality-delete + append
    commit — the eq-deletes are sequence-scoped so the rows appended in
    this same snapshot survive them.  No copy-on-write of untouched
    files: a merge touching 0.1% of keys rewrites nothing.

    Conditions/updates reference columns as F.col("s.x") / F.col("t.x").
    SQL MERGE requires each target row to match at most one source row;
    `validate_source_unique` enforces the equivalent (unique source keys)
    with one aggregate probe."""
    from pyspark.sql import functions as F

    if validate_source_unique:
        dup = (source.groupBy(*key_cols).count()
               .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"merge: source keys are not unique on {key_cols}: "
                f"{tuple(dup[0])[:-1]} appears {dup[0]['count']} times")

    s = source.alias("s")
    by_source = unmatched_source_delete_cond is not None \
        or unmatched_source_update
    if by_source:
        # NOT MATCHED BY SOURCE touches target rows OUTSIDE the source
        # key range — the full target participates
        bounds_pred = None
        t = table.to_df().alias("t")
    else:
        # source-only merges never need target rows outside the
        # source's key envelope: matched rows equal a source key, and
        # the insert anti-join can only be contradicted by a target row
        # inside the envelope.  Scanning with the bounds prunes the
        # target's manifests/files BEFORE the join — a small-delta
        # merge against a huge table reads the delta's slice, not the
        # table (the same bounds already scope the conflict guard)
        bounds_pred = _source_key_bounds(source, key_cols)
        t = table.scan(row_filter=bounds_pred).alias("t")
    # hint-free by default (AQE sizes the join at runtime); when the
    # TARGET's manifest metadata proves it broadcast-small — the
    # dim-table-merge shape — say so up front, the engine-side analog of
    # the reference reporting estimateStatistics to Spark's planner
    # (spark3/.../SparkBatchScan.java:186).  Sourced from metadata only,
    # never forced on unknowns (catalog/analyze.py:suggest_broadcast)
    from linkedin_iceberg_spark.catalog.analyze import suggest_broadcast
    if suggest_broadcast(table):
        t = F.broadcast(t)
    on = None
    for k in key_cols:
        clause = F.col(f"s.{k}") == F.col(f"t.{k}")
        on = clause if on is None else (on & clause)

    false_ = F.lit(False)

    def _fires(cond):
        # SQL clause firing is three-valued: a NULL condition does NOT
        # fire the clause.  Coalesce to false so the later negation
        # (~del over the update set) can never go NULL and silently
        # turn an update into a delete.
        return F.coalesce(cond.cast("boolean"), false_)

    del_cond = _fires(matched_delete_cond) \
        if matched_delete_cond is not None else false_
    if matched_update:
        upd_cond = _fires(matched_update_cond) \
            if matched_update_cond is not None else F.lit(True)
    else:
        upd_cond = false_
    # first-matching-clause-wins (SQL MERGE evaluates WHEN clauses in
    # declared order): the later clause only fires where the earlier
    # one did not
    if matched_delete_first:
        eff_upd = upd_cond & ~del_cond
    else:
        eff_upd = upd_cond
        del_cond = del_cond & ~upd_cond

    matched = s.join(t, on, "inner")
    affected = (matched.filter(del_cond | eff_upd)
                .select(*[F.col(f"s.{k}") for k in key_cols]))

    target_cols = table.to_df().columns
    updated = (matched.filter(eff_upd)
               .select(*[(matched_update[c] if c in (matched_update or {})
                          else F.col(f"t.{c}")).alias(c)
                         for c in target_cols]))

    parts = [updated] if matched_update else []
    if insert_unmatched:
        inserts = s.join(t, on, "left_anti")
        if insert_cond is not None:
            inserts = inserts.filter(insert_cond)
        if insert_values is not None:
            # INSERT (cols) VALUES (exprs): each target column takes its
            # declared expression over the source row; unmentioned
            # columns fill with typed NULLs (the SQL MERGE column-list
            # form — INSERT * is the dict-less default)
            ttypes = {f.name: f.dataType
                      for f in table.to_df().schema.fields}
            parts.append(inserts.select(*[
                (insert_values[c] if c in insert_values
                 else F.lit(None)).cast(ttypes[c]).alias(c)
                for c in target_cols]))
        else:
            parts.append(inserts.select(*[F.col(c) for c in target_cols]))

    if by_source:
        t_only = t.join(s, on, "left_anti")
        src_del = _fires(unmatched_source_delete_cond) \
            if unmatched_source_delete_cond is not None else false_
        if unmatched_source_update:
            src_upd = _fires(unmatched_source_update_cond) \
                if unmatched_source_update_cond is not None else F.lit(True)
        else:
            src_upd = false_
        if source_delete_first:
            src_eff_upd = src_upd & ~src_del
        else:
            src_eff_upd = src_upd
            src_del = src_del & ~src_upd
        affected = affected.unionByName(
            t_only.filter(src_del | src_eff_upd)
            .select(*[F.col(f"t.{k}") for k in key_cols]))
        if unmatched_source_update:
            parts.append(
                t_only.filter(src_eff_upd)
                .select(*[(unmatched_source_update[c]
                           if c in unmatched_source_update
                           else F.col(f"t.{c}")).alias(c)
                          for c in target_cols]))

    data_df = None
    if parts:
        data_df = parts[0]
        for p in parts[1:]:
            data_df = data_df.unionByName(p)

    from linkedin_iceberg_spark.expressions import always_true
    seen = {e.data_file.file_path for e in table._live_entries()}
    # clauses that touch keys outside the source range widen the guard
    # to the whole table
    conflict = _key_range_conflict_fn(
        table, always_true() if by_source else bounds_pred)
    return row_delta(table, data_df=data_df,
                     equality_delete_keys=affected, key_cols=key_cols,
                     extra_summary=extra_summary,
                     seen_paths=seen, conflict_fn=conflict)


def _key_envelope(bounds: list):
    """Unbound engine predicate ``lo <= k <= hi`` over (k, lo, hi) triples;
    a key column with no non-NULL value (lo None) adds no conjunct, and
    no conjunct at all folds to always_true."""
    from functools import reduce

    from linkedin_iceberg_spark.expressions import (always_true, and_,
                                                    gt_eq, lt_eq)
    conj = [p for k, lo, hi in bounds if lo is not None
            for p in (gt_eq(k, lo), lt_eq(k, hi))]
    return reduce(lambda a, b: and_(a, b), conj) if conj \
        else always_true()


def _source_key_bounds(source: DataFrame, key_cols: list):
    """Unbound engine predicate enveloping the source's key range —
    one metadata-sized agg job.  Always sound as a TARGET scan filter
    for source-only merges: a target row can only affect the merge by
    sharing a key with some source row, which puts every key column
    inside [min, max].  All-NULL / empty sources fold to always_true."""
    from pyspark.sql import functions as F

    row = source.agg(*[f for k in key_cols
                       for f in (F.min(k).alias(f"_lo_{k}"),
                                 F.max(k).alias(f"_hi_{k}"))]).collect()[0]
    return _key_envelope([(k, row[f"_lo_{k}"], row[f"_hi_{k}"])
                          for k in key_cols])


def _written_key_bounds(data_files: list, key_cols: list, ids: list):
    """The _source_key_bounds envelope derived from the column metrics of
    the data files an upsert has just written, with no Spark job; None
    when a file holding non-NULL keys lacks a bound on a key column
    (metrics mode none/counts, ORC files, a key stored only in the
    partition path), so the caller falls back to the aggregation.
    Truncated string bounds stay valid: the lower bound is a prefix and
    the upper bound is incremented (stats.truncate_upper)."""
    bounds = []
    for k, fid in zip(key_cols, ids):
        lo = hi = None
        for f in data_files:
            nulls = (f.null_value_counts or {}).get(fid)
            if not f.record_count or nulls == f.record_count:
                continue  # no non-NULL key here: nothing to envelope
            flo = (f.lower_bounds or {}).get(fid)
            fhi = (f.upper_bounds or {}).get(fid)
            if flo is None or fhi is None:
                return None
            lo = flo if lo is None or flo < lo else lo
            hi = fhi if hi is None or fhi > hi else hi
        bounds.append((k, lo, hi))
    return _key_envelope(bounds)


def _key_range_conflict_fn(table, pred):
    """conflict_fn for merge/upsert: a concurrent commit conflicts only if
    it might touch the key envelope ``pred`` — a new data file whose
    metrics overlap [min, max] of every key column (a new key outside the
    range can change neither the matched set nor the anti-join inserts)
    or any new delete file; removal of a file the operation read is
    caught through seen_paths (ref: the scoped conflict detection of
    BaseOverwriteFiles.java:76-129, applied to the RowDelta path)."""
    from linkedin_iceberg_spark.expressions import bind
    return table._filter_conflict_fn(bind(table.schema, pred))


def upsert(table, df: DataFrame, key_cols: list,
           extra_summary: Optional[dict] = None):
    """MERGE-style upsert: one snapshot that equality-deletes the incoming
    keys and appends the new rows (ref: the RowDelta pattern the reference's
    Flink CDC sink uses).

    The conflict guard is scoped to the source's key range, taken from
    the lower/upper bounds of the data files this upsert has just written
    — metrics the write collects anyway, so no extra pass over the
    source.  Only when a written file lacks a bound on a key column
    (metrics mode none/counts, ORC files, an identity-partition key) does
    one min/max aggregation over the source (_source_key_bounds) supply
    the range instead.  The files live before the write are the ones the
    operation saw."""
    ids = _key_ids(table, key_cols)  # an unknown key fails before writing
    seen = {e.data_file.file_path for e in table._live_entries()}
    data_files = table._write_data_files(df)
    pred = _written_key_bounds(data_files, key_cols, ids)
    if pred is None:
        pred = _source_key_bounds(df, key_cols)
    conflict = _key_range_conflict_fn(table, pred)
    delete_files = _write_equality_deletes(table, df, key_cols)
    return _commit_delta(table, data_files, delete_files, extra_summary,
                         seen, conflict)
