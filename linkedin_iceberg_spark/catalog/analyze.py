"""Incremental table statistics: the per-FILE stats planes (HLL and KMV
NDV sketches, dictionaries, pair dictionaries, histograms, top-k
summaries and row samples; bloom filters live in bloom.py), persisted
beside the table and merged per snapshot on demand.  Where each plane's
rows live, and how they are probed, read and garbage-collected, is
stats_store.py's job (its docstring holds the layout table); this
module keeps each plane's per-file aggregation and its consumers.

Manifest metrics (min/max/null counts — ref: api/.../Metrics.java:32-44,
collected at write by stats.py) come free from footers, but NDV — the
statistic planners want most for join sizing and the one users ask of a
corpus ("how many distinct users/tokens/domains") — cannot be derived
from bounds.  This plane is the AnalyzeTable analog of the modern
format's stats files (absent from the 0.9-era reference, whose metrics
stop at bounds): one HLL sketch per (data file, column).

Why per FILE and not per snapshot: data files are immutable, so a file's
sketch never goes stale — any commit (append, CoW DML, compaction) only
changes WHICH files are live, and the snapshot-level answer is the
hll_union of the live files' sketches.  analyze_table is therefore
INCREMENTAL by construction: it sketches only live files missing from
the store (appends scan just the new tail; compaction re-sketches just
the rewritten output), and rows shadowed by v2 position/equality deletes
make the estimate an upper bound until the files are rewritten
(documented, matching how the manifest metrics behave).

Scale: one scan of the un-sketched files, partial-aggregated per file
(map-side combinable); the merge step unions sketch BYTES — per-column
driver work is O(live files), no data I/O.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog import stats_store as S
from linkedin_iceberg_spark.catalog.stats_store import SAMPLE_SALT


def _field(table, col: str, types=None, what: str = ""):
    """The top-level field named ``col``; with ``types``, also require a
    primitive type the ``what`` plane supports."""
    f = next((f_ for f_ in table.schema.fields if f_.name == col), None)
    if f is None:
        raise ValueError(f"no such column {col!r}")
    if types is not None and not (isinstance(f.type, str)
                                  and f.type in types):
        raise ValueError(
            f"{what} stats support {sorted(types)} columns; "
            f"{col!r} is {f.type!r}")
    return f


def _check_columns(table, columns: list) -> None:
    names = set(table.schema.column_names())
    for c in columns:
        if c not in names:
            raise ValueError(f"no such column {c!r}")


def column_source(table, cols, paths: list, entries: list = None,
                  with_pos: bool = False):
    """One ``(file_path, <alias>...)`` row per data row of ``paths``.
    ``cols`` maps output alias -> column name (a bare name reads as
    ``{"v": name}``); every column of one row comes from the SAME data
    row, its value read under each file's WRITTEN name and type
    (resolved through the file's schema_id) and cast to the CURRENT
    engine type.  With ``with_pos`` a ``pos`` column carries the row's
    in-file position (``_metadata.row_index`` — the same ROW_POSITION
    number the reserved ``_pos`` column serves), for planes whose
    per-row hash must be replayable (the sample plane).

    Every stats-plane build reads through here: a plain
    ``read.schema(current).parquet(...)`` silently nulls out files
    written before a column RENAME (r8 ADVICE: the bloom store then
    records "always prunes" bits and the histogram plane folds real
    rows into the NULL group), and hashes files written before an
    int->long PROMOTION under the narrow type (xxhash64(int) !=
    xxhash64(long)).  Only the store path was field-id keyed; this
    makes the build side field-id keyed too, the same ``rev_by_sid``
    recipe colocated_groupby uses.  Files whose written schema lacks
    a field genuinely read it as NULL for every row — correct, and kept
    (row counts matter to the histogram's NULL group).  ORC/Avro data
    files route through the whole-file readers, whose per-file row
    counter is exact, so even the position-hashed planes stay
    format-agnostic (r10)."""
    from pyspark.sql import types as T

    from linkedin_iceberg_spark.schema import type_to_spark

    md = table.metadata
    if isinstance(cols, str):
        cols = {"v": cols}
    fields = {a: _field(table, c) for a, c in cols.items()}
    if entries is None:
        entries, _ = table._live_data_and_deletes()
    sid_by_path = {e.data_file.file_path: e.data_file.schema_id
                   for e in entries}
    by_sid: dict = {}
    for p in paths:
        by_sid.setdefault(sid_by_path.get(p, md.current_schema_id),
                          []).append(p)
    def pos(c):
        return [F.col(c).alias("pos")] if with_pos else []

    frames = []
    for sid in sorted(by_sid):
        ps = sorted(by_sid[sid])
        written = md.schema_by_id(sid)
        present = [written.find_field(f.field_id)
                   for f in fields.values()
                   if written.name_for_id(f.field_id) is not None]
        sel = []
        for a, f in fields.items():
            wname = written.name_for_id(f.field_id)
            v = F.lit(None) if wname is None else F.col(wname)
            sel.append(v.cast(type_to_spark(f.type)).alias(a))
        pq = [p for p in ps if p.endswith(".parquet")]
        other = [p for p in ps if not p.endswith(".parquet")]
        if pq:
            # fields absent when these files were written read as NULL;
            # one real column keeps the per-file row counts
            rschema = T.StructType([
                T.StructField(w.name, type_to_spark(w.type), True)
                for w in present or [written.fields[0]]])
            frames.append(table.spark.read.schema(rschema).parquet(*pq)
                          .select(F.regexp_replace(
                              F.col("_metadata.file_path"), "^file:", "")
                              .alias("file_path"), *sel,
                              *pos("_metadata.row_index")))
        if other:
            frames.append(_other_format_rows(table.spark, written, present,
                                             other)
                          .select(F.col("_file").alias("file_path"), *sel,
                                  *pos("_pos")))
    return _union(frames)


def _union(frames: list, **kw):
    out = frames[0]
    for d_ in frames[1:]:
        out = out.unionByName(d_, **kw)
    return out


def _other_format_rows(spark, written, pruned_fields: list,
                       paths: list):
    """Raw (written columns, _file, _pos) rows over ORC/Avro files —
    ORC physically prunes to ``pruned_fields`` (one real column when
    empty, for row counts), Avro decodes the full written schema (the
    pure-Python codec has no column projection)."""
    from linkedin_iceberg_spark.schema import Schema as _S
    orc = [p for p in paths if p.endswith(".orc")]
    avro = [p for p in paths if p.endswith(".avro")]
    other = [p for p in paths if not (p.endswith(".orc")
                                      or p.endswith(".avro"))]
    if other:
        raise ValueError(f"unsupported data file format: {other[0]!r}")
    frames = []
    if orc:
        from linkedin_iceberg_spark.sources.orc_spark import (
            read_orc_files)
        pruned = _S(pruned_fields or [written.fields[0]],
                    schema_id=written.schema_id)
        frames.append(read_orc_files(spark, orc, pruned))
    if avro:
        from linkedin_iceberg_spark.sources.avro_spark import (
            read_avro_files)
        frames.append(read_avro_files(spark, avro, written,
                                      with_file_col=True,
                                      with_pos_col=True))
    return _union(frames, allowMissingColumns=True)


def analyze_table(table, columns: list) -> dict:
    """Bring the per-file sketch store up to date for ``columns``:
    sketch only the live data files missing from each column's store.
    Returns {column: files_sketched_now}."""
    _check_columns(table, columns)
    entries, _ = table._live_data_and_deletes()
    return {col: S.store(table, "hll", table.schema.id_for_name(col))
            .build(entries, lambda todo, col=col: (
                column_source(table, col, todo, entries)
                .groupBy("file_path")
                .agg(F.hll_sketch_agg("v").alias("sketch"))))
            for col in columns}


def suggest_broadcast(table, threshold_bytes: int = None,
                      decompression_factor: float = 3.0,
                      max_rows: int = None) -> bool:
    """Metadata-driven join-side advice: True when the table's ESTIMATED
    IN-MEMORY size — summed live file_size_in_bytes from the manifests
    (zero data I/O) times ``decompression_factor`` — fits the session's
    broadcast budget.  This is the engine-side analog of the stats the
    reference reports to Spark's planner (spark3/.../SparkBatchScan.
    java:186 estimateStatistics feeding CBO broadcast decisions):
    pure-Python can't implement the DSv2 hook, so the engine's OWN
    join-bearing operators consult this instead of caller hints —
    row_delta.merge broadcasts its target side iff this says it fits.

    The threshold defaults to the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (so the advice and AQE
    agree on what "fits" means).  Parquet bytes usually DECOMPRESS 2-5x
    into Spark's unsafe rows — dictionary/RLE-heavy wide tables worse —
    so the estimate multiplies by ``decompression_factor`` (default 3x;
    pass 1.0 to compare raw file bytes, or higher for very compressible
    data).  ``max_rows``, when given, additionally bounds the summed
    manifest record_counts — a broadcast hash table's row OVERHEAD is
    per-row, so a deployment can refuse many-row builds regardless of
    byte size.  Conservative on unknowns: missing sizes -> False."""
    if threshold_bytes is None:
        raw = table.spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                                   "10485760")
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        low = raw.strip().lower().rstrip("b")
        if low and low[-1] in mult:
            threshold_bytes = int(low[:-1]) * mult[low[-1]]
        else:
            threshold_bytes = int(low)
        if threshold_bytes < 0:  # broadcasts disabled for the session
            return False
    entries, _ = table._live_data_and_deletes()
    total = 0
    rows = 0
    for e in entries:
        size = e.data_file.file_size_in_bytes
        if not size and e.data_file.record_count:
            return False  # unknown size on a non-empty file: no advice
        total += size or 0
        rows += e.data_file.record_count or 0
    if max_rows is not None and rows > max_rows:
        return False
    return total * decompression_factor <= threshold_bytes


def column_stats(table, col: str) -> dict:
    """Snapshot-level statistics for ``col``: NDV from the hll_union of
    the LIVE files' persisted sketches (raises if analyze_table hasn't
    covered them), plus null_count/min/max straight from the manifest
    metrics — no data I/O at all for those."""
    entries, delete_entries = table._live_data_and_deletes()
    live = {e.data_file.file_path for e in entries}
    store, covered = S.store(
        table, "hll", table.schema.id_for_name(col)).cover(live)
    if store is None:
        raise ValueError(f"no stats for {col!r}; run analyze_table first")
    if len(covered) < len(live):
        raise ValueError(
            f"stats cover {len(covered)}/{len(live)} live files for "
            f"{col!r}; run analyze_table to sketch the missing tail")
    ndv = store.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("ndv")) \
        .collect()[0]["ndv"]

    fid = next(f.field_id for f in table.schema.fields if f.name == col)
    nulls = rows = 0
    lo = hi = None
    for e in entries:
        df_ = e.data_file
        rows += df_.record_count
        nulls += (df_.null_value_counts or {}).get(fid, 0)
        b_lo = (df_.lower_bounds or {}).get(fid)
        b_hi = (df_.upper_bounds or {}).get(fid)
        if b_lo is not None:
            lo = b_lo if lo is None else min(lo, b_lo)
        if b_hi is not None:
            hi = b_hi if hi is None else max(hi, b_hi)
    return {"column": col, "ndv": int(ndv), "row_count": rows,
            "null_count": nulls, "min": lo, "max": hi,
            "upper_bound": bool(delete_entries)}


# ---------------------------------------------------------------------------
# KMV plane: per-file bottom-k sketches with a PORTABLE hash
# ---------------------------------------------------------------------------

KMV_DEFAULT_K = 256
_KMV_SCALE = 1 << 60  # hash space: 60-bit md5-hex prefixes


def _kmv_hash(col):
    """60-bit md5-hex prefix of the value's string form — the engine's
    portable-hash recipe (shared with the md5 minhash twin and the
    sampling bucket): identical in Spark and ANSI/DuckDB SQL, so the
    estimate is REPLAYABLE bit-for-bit by an external oracle, unlike
    HLL (whose sketch encoding is engine-private)."""
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15),
                  16, 10).cast("long")


def kmv_hash_sql(col: str) -> str:
    """The same 60-bit hash as DuckDB/ANSI SQL (oracle building block)."""
    return f"(('0x' || substr(md5({col}::VARCHAR), 1, 15))::BIGINT)"


def analyze_table_kmv(table, columns: list, k: int = KMV_DEFAULT_K) -> dict:
    """Bring the per-file KMV store up to date for ``columns``: for each
    live data file missing from the store, persist the k smallest 60-bit
    portable hashes of the column's DISTINCT non-null values (rows:
    file_path, h; a file with no non-null values stores one h=NULL
    marker row so coverage is visible without rescanning).

    Same incremental contract as analyze_table (files are immutable, so
    sketches never go stale; appends sketch only the new tail), but with
    two properties HLL lacks: bottom-k sets MERGE EXACTLY over any file
    subset (bottom-k of a union == bottom-k of the per-file bottom-ks),
    and the estimator is pure integer/one-division arithmetic an
    external SQL engine reproduces exactly.  Returns
    {column: files_sketched_now}."""
    from pyspark.sql.window import Window as W
    _check_columns(table, columns)
    entries, _ = table._live_data_and_deletes()

    def make(todo, col):
        src = (column_source(table, col, todo, entries)
               .select("file_path", _kmv_hash("v").alias("h"))
               .where(F.col("h").isNotNull())
               .distinct())
        # bottom-k per file via a per-partition-keyed window: one shuffle
        # on file_path, spill-safe at any per-file NDV (collect_set would
        # buffer the whole distinct set per file in one executor row)
        w = W.partitionBy("file_path").orderBy("h")
        bk = (src.withColumn("_rk", F.row_number().over(w))
              .filter(F.col("_rk") <= k).select("file_path", "h"))
        return bk.unionByName(_markers(table, todo, bk,
                                       h=F.lit(None).cast("long")))

    return {col: S.store(table, "kmv", table.schema.id_for_name(col), k=k)
            .build(entries, lambda todo, col=col: make(todo, col))
            for col in columns}


def _markers(table, todo: list, built, **cols):
    """Marker rows ``(file_path, **cols)`` for the ``todo`` files with no
    row in ``built`` — recorded so coverage sees them without a rescan."""
    return (S.paths_frame(table.spark, todo)
            .join(built.select("file_path").distinct(), "file_path",
                  "left_anti")
            .select("file_path", *[c.alias(n) for n, c in cols.items()]))


def kmv_estimate_mk(m: int, hk, k: int) -> int:
    """The estimator from the two bottom-k summary values: m (how many
    distinct hashes the bottom-k holds) and hk (its max) — EXACT when
    m < k, else floor((k-1) * 2^60 / (h_k + 1)), all integer arithmetic
    (Python is arbitrary-precision; the DuckDB oracle replays with
    HUGEINT)."""
    if m < k:
        return m
    return (k - 1) * _KMV_SCALE // (hk + 1)


def kmv_estimate(hashes: list, k: int) -> int:
    """The KMV distinct estimator over a merged bottom-k hash list."""
    hs = sorted(set(hashes))[:k]
    if not hs:
        return 0
    return kmv_estimate_mk(len(hs), hs[-1], k)


def kmv_estimate_sql(values_sql: str, from_sql: str, k: int) -> str:
    """DuckDB SQL computing the identical estimate over the column
    expression ``values_sql`` drawn from ``from_sql`` (a full replay:
    hash -> distinct -> bottom-k -> integer estimator; HUGEINT keeps
    (k-1)*2^60 exact).  Returns a scalar subquery string."""
    h = kmv_hash_sql(values_sql)
    return f"""(
      WITH _kh AS (SELECT DISTINCT {h} AS h
                   FROM {from_sql} WHERE {values_sql} IS NOT NULL),
           _kb AS (SELECT h FROM _kh ORDER BY h LIMIT {k}),
           _ks AS (SELECT count(*) AS m, max(h) AS hk FROM _kb)
      SELECT CAST(CASE WHEN m < {k} THEN m
                  ELSE (({k} - 1)::HUGEINT * {_KMV_SCALE}::HUGEINT
                        // (hk + 1)::HUGEINT)::BIGINT END AS BIGINT)
      FROM _ks)"""


# ---------------------------------------------------------------------------
# Dictionary plane: per-file exact distinct-value sets for low-NDV columns
# ---------------------------------------------------------------------------

DICT_DEFAULT_MAX_NDV = 1024
# types whose literal <-> stored-value comparison is exact and repr-stable
# (floats/decimals/timestamps are excluded: equality pruning on them is
# both rare and rounding-hazardous; bounds already serve ranges)
_DICT_TYPES = {"int", "long", "string", "boolean", "date"}


def _capped_sets(table, todo: list, src, item, cap: int):
    """``(file_path, n, packed)`` per ``todo`` file: ``n`` the file's
    count of ``src`` rows (one per distinct item; NULL when it has
    none), ``packed`` the sorted set of ``item`` for files with
    ``n <= cap`` (the semi-join keeps collect_set bounded by the cap)."""
    counts = src.groupBy("file_path").agg(F.count("*").alias("n"))
    ok = counts.filter(F.col("n") <= cap).select("file_path")
    vals = (src.join(ok, "file_path", "left_semi")
            .groupBy("file_path")
            .agg(F.sort_array(F.collect_set(item)).alias("packed")))
    return (S.paths_frame(table.spark, todo)
            .join(counts, "file_path", "left")
            .join(vals, "file_path", "left"))


def _capped(value, elem_type, cap: int):
    """A `_capped_sets` array column with the store markers: EMPTY for a
    file with no item, NULL for an over-cap file."""
    from pyspark.sql import types as T
    arr = T.ArrayType(elem_type)
    return (F.when(F.col("n").isNull(), F.array().cast(arr))
            .when(F.col("n") > cap, F.lit(None).cast(arr))
            .otherwise(value))


def analyze_dictionary(table, col: str,
                       max_ndv: int = DICT_DEFAULT_MAX_NDV) -> int:
    """Per-file exact distinct-value dictionaries — the file-skipping
    analog of parquet dictionary-filter pruning (the reference benches
    dictionary-encoded vectorized reads; its plan-time pruning stops at
    min/max bounds).  For point lookups on columns that are NOT the
    table's sort/partition key, bounds are useless (every file's range
    spans the whole domain) while the per-file VALUE SET is tiny and
    prunes exactly.

    For each live data file missing from the store, persists one row
    (file_path, values): the sorted distinct non-null values when the
    file's NDV is <= max_ndv, NULL when it overflows (recorded so the
    file is never rescanned; overflow files simply never prune), and an
    EMPTY array when the column is all-NULL in the file (eq/IN can never
    match NULL, so such files always prune).  Files are immutable ->
    entries never go stale; appends scan only the new tail.  Scan
    planning (plan_files -> dictionary_prune) consults the store for
    top-level eq/IN conjuncts automatically.  Returns the number of
    files analyzed now."""
    from linkedin_iceberg_spark.schema import type_to_spark
    f = _field(table, col, _DICT_TYPES, "dictionary")
    entries, _ = table._live_data_and_deletes()

    def make(todo):
        src = (column_source(table, col, todo, entries)
               .where(F.col("v").isNotNull())
               .distinct())
        return (_capped_sets(table, todo, src, "v", max_ndv)
                .select("file_path", _capped(F.col("packed"),
                                             type_to_spark(f.type),
                                             max_ndv).alias("values")))
    return S.store(table, "dict", f.field_id).build(entries, make)


PAIR_DICT_DEFAULT_MAX_NDV = 4096
# probe cost guard: an (IN x IN) conjunction expands to the literal
# cross product; past this many pairs the probe is skipped (metrics
# evaluation uses the same 200-literal discipline)
PAIR_PROBE_MAX_LITERALS = 200


def _pair_fields(table, cols: list):
    """Resolve + canonically order (by field id) the two columns."""
    fields = [_field(table, c, _DICT_TYPES, "pair dictionary")
              for c in cols]
    if len(fields) != 2 or fields[0].field_id == fields[1].field_id:
        raise ValueError("exactly two distinct columns required")
    return sorted(fields, key=lambda f: f.field_id)


def analyze_dictionary_pair(table, cols: list,
                            max_ndv: int = PAIR_DICT_DEFAULT_MAX_NDV
                            ) -> int:
    """Per-file exact distinct value-PAIR sets over a two-column
    conjunction — the JOINT-distribution store the single-column planes
    cannot be (r8/r9 verdict stretch): ``a = x AND b = y`` prunes by
    each column's store independently, so a file containing x in `a`
    and y in `b` but never ON THE SAME ROW passes both.  This store
    records xxhash64(a, b) of every fully-non-NULL row pair per file
    (hash absent => the pair provably never co-occurs => prune; a hash
    collision only KEEPS a file — one-sided, always sound).

    Store contract mirrors analyze_dictionary: one row per file,
    ``values`` = sorted distinct pair hashes when NDV <= max_ndv, NULL
    on overflow (never rescanned, never prunes), EMPTY array when the
    file has no row with both columns non-NULL (an eq-conjunction can
    never match there, so such files always prune — including files
    written before either column existed).  Values hash under the
    CURRENT engine types via each file's WRITTEN name/type (the
    column_source discipline), so renames never split the hash space;
    type PROMOTION does (xxhash64(int) != xxhash64(long)), which is why
    the store directory is keyed by the hashed types (stats_store) —
    promotion orphans the old store and the next build starts fresh
    under the new key.  Returns files analyzed now.

    Scale: one scan of the new tail reading exactly two columns;
    distinct + collect_set are per-file (map-side combinable); the
    store is one 8-byte hash per distinct pair per file."""
    from pyspark.sql import types as T

    f_lo, f_hi = _pair_fields(table, cols)
    entries, _ = table._live_data_and_deletes()

    def make(todo):
        # row-aligned two-column read: a file written before either
        # column existed has a NULL side on every row, so no pair can
        # co-occur and it lands as an empty array
        src = column_source(table, {"_a": f_lo.name, "_b": f_hi.name},
                            todo, entries)
        nn = (src.where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
              .select("file_path", F.xxhash64("_a", "_b").alias("h"))
              .distinct())
        return (_capped_sets(table, todo, nn, "h", max_ndv)
                .select("file_path", _capped(F.col("packed"), T.LongType(),
                                             max_ndv).alias("values")))
    return S.store(table, "dict_pair", f_lo.field_id,
                   f_hi.field_id).build(entries, make)


def _drop_disproven(rows, lits: list, drop: set) -> None:
    """Add to ``drop`` the store files whose concrete value set shares
    nothing with ``lits`` — only the DISPROVEN paths come back to the
    driver.  A literal/store type mismatch leaves ``drop`` as is."""
    try:
        lit_arr = F.array(*[F.lit(v) for v in lits]) \
            .cast(rows.schema["values"].dataType)
        drop |= {r["file_path"] for r in
                 rows.where(F.col("values").isNotNull() &
                            ~F.arrays_overlap(F.col("values"), lit_arr))
                 .select("file_path").collect()}
    except Exception:  # noqa: BLE001 — probe trouble: stay sound
        pass


def pair_dictionary_prune(table, data_entries: list, bound,
                          conjuncts: list) -> list:
    """Drop entries whose PAIR store proves the conjunction impossible:
    for every two eq/IN conjuncts whose field-id pair has a persisted
    pair store, files with a concrete hash set containing NO literal
    pair hash cannot hold a matching row.  ``conjuncts`` is
    dictionary_prune's walked [(field_id, literals)] list.  Advisory
    only; every guard failure keeps the file."""
    if len(conjuncts) < 2 or table.spark is None \
            or not S.planted(table, "dict_pair"):
        return data_entries
    from linkedin_iceberg_spark.schema import type_to_spark
    by_fid = {}
    for fid, lits in conjuncts:
        # two conjuncts on one column: intersect-by-keep is already
        # handled per-conjunct by the single-column pass; first wins here
        by_fid.setdefault(fid, lits)
    stype_by_fid = {f.field_id: type_to_spark(f.type)
                    for f in table.schema.fields
                    if isinstance(f.type, str)}
    drop: set = set()
    # probe only stores keyed by the CURRENT engine types (r11): a store
    # built under promoted-away types simply isn't found — its hashes
    # are meaningless now, and keeping the files is the sound answer
    fids = sorted(by_fid)
    for i, fid_lo in enumerate(fids):
        for fid_hi in fids[i + 1:]:
            store = S.store(table, "dict_pair", fid_lo, fid_hi)
            lits_lo, lits_hi = by_fid[fid_lo], by_fid[fid_hi]
            t_lo = stype_by_fid.get(fid_lo)
            t_hi = stype_by_fid.get(fid_hi)
            if len(lits_lo) * len(lits_hi) > PAIR_PROBE_MAX_LITERALS \
                    or t_lo is None or t_hi is None or not store.exists():
                continue
            # hash every literal pair EXACTLY as the build did (cast to
            # the current engine types, xxhash64 in field-id order); a
            # cast that NULLs a literal makes its hash meaningless —
            # skip the store (sound: pruning is advisory)
            pairs = [(a, b) for a in lits_lo for b in lits_hi]
            exprs = []
            for i2, (a, b) in enumerate(pairs):
                ca = F.lit(a).cast(t_lo)
                cb = F.lit(b).cast(t_hi)
                exprs += [ca.alias(f"a{i2}"), cb.alias(f"b{i2}"),
                          F.xxhash64(ca, cb).alias(f"h{i2}")]
            try:
                row = table.spark.range(1).select(*exprs).first()
            except Exception:  # noqa: BLE001 — probe trouble: keep all
                continue
            if any(row[f"a{i2}"] is None or row[f"b{i2}"] is None
                   for i2 in range(len(pairs))):
                continue
            _drop_disproven(store.rows(),
                            [row[f"h{i2}"] for i2 in range(len(pairs))],
                            drop)
    return _without(data_entries, drop)


def _without(data_entries: list, drop: set) -> list:
    if not drop:
        return data_entries
    return [e for e in data_entries if e.data_file.file_path not in drop]


def eq_in_conjuncts(bound, types) -> list:
    """``[(field_id, literals)]`` for the top-level AND conjuncts of
    ``bound`` that are eq/IN over a plain column of one of ``types`` —
    the shapes a per-file value store can disprove."""
    from linkedin_iceberg_spark.expressions.expressions import (
        And, BoundReference, Operation, Predicate)
    out = []

    def walk(e):
        if isinstance(e, And):
            walk(e.left)
            walk(e.right)
        elif isinstance(e, Predicate) and \
                isinstance(e.term, BoundReference) and \
                isinstance(e.term.type, str) and e.term.type in types:
            if e.op == Operation.EQ:
                out.append((e.term.field_id, [e.literal]))
            elif e.op == Operation.IN:
                out.append((e.term.field_id, sorted(e.literals)))

    walk(bound)
    return out


def dictionary_prune(table, data_entries: list, bound) -> list:
    """Drop manifest entries whose persisted dictionary PROVES no row can
    match: for each top-level AND conjunct that is eq/IN over a plain
    column of a dictionary-supported type, a file present in that
    column's store with a concrete value set and no overlap with the
    literals cannot contain a matching row (NULLs never satisfy eq/IN).
    After the per-column pass, PAIR stores (analyze_dictionary_pair)
    re-check two-conjunct combinations jointly — dropping files each
    single column keeps when the values never co-occur on one row.
    Files missing from the store, overflow entries (values NULL), and
    every other predicate shape are untouched — pruning is advisory,
    correctness never depends on it.  Called from plan_files when the
    table has a stats_dict or stats_dict_pair directory; time travel is
    safe because entries are keyed by immutable file path."""
    conjuncts = eq_in_conjuncts(bound, _DICT_TYPES)
    if not conjuncts or table.spark is None:
        # no eq/IN shape — or a Spark-less planning context (the Python
        # DataSource plans in a worker process with no session), where
        # store-backed pruning would need Spark jobs: no advice, the
        # pushed filter still re-applies row-level
        return data_entries
    drop: set = set()
    for fid, lits in conjuncts:
        rows = S.store(table, "dict", fid).rows()
        if rows is not None:
            _drop_disproven(rows, lits, drop)
    data_entries = _without(data_entries, drop)
    # pair pass: joint co-occurrence pruning over two-conjunct combos
    return pair_dictionary_prune(table, data_entries, bound, conjuncts)


def kmv_table_overlap(left, left_col: str, right, right_col: str,
                      k: int = KMV_DEFAULT_K) -> dict:
    """Corpus overlap between two TABLES from their persisted KMV stores
    alone — the decontamination/source-mix audit ("how much of eval is
    inside training?") with ZERO data I/O once analyze_table_kmv has
    covered both: per-table bottom-k sets merge exactly from the
    per-file stores, and the Beyer et al. KMV algebra gives distinct
    counts, Jaccard, and intersection size.  Uncovered/delete-bearing
    files fall back to live hashing with the same recipe (identical
    values, the merge-exactness property).

    All outputs are integer-exact or one-division arithmetic on the
    SAME 60-bit md5 hashes an external SQL engine computes, so every
    number replays bit-for-bit:

      ndv_a, ndv_b      per-table estimates (exact when NDV < k)
      ndv_union         estimate over bottom-k(A u B)
      overlap_k         |bottomk(AuB) n A n B| (the Jaccard numerator,
                        an exact integer; jaccard ~= overlap_k / m)
      intersection_est  overlap_k * ndv_union // m (integer floor)

    where m = |bottomk(AuB)| (= k, or the exact union size below k)."""
    a = left.new_scan()._kmv_bottomk(left_col, k)
    b = right.new_scan()._kmv_bottomk(right_col, k)
    union = sorted(set(a) | set(b))[:k]
    m = len(union)
    ndv_u = kmv_estimate(union, k)
    overlap = len(set(union) & set(a) & set(b))
    return {
        "ndv_a": kmv_estimate(a, k),
        "ndv_b": kmv_estimate(b, k),
        "ndv_union": ndv_u,
        "overlap_k": overlap,
        "m": m,
        "intersection_est": (overlap * ndv_u) // m if m else 0,
    }


# =========================================================================
# Histogram plane: per-file exact value COUNTS for low-NDV columns
# =========================================================================

def analyze_histogram(table, col: str,
                      max_ndv: int = None) -> int:
    """Per-file exact value HISTOGRAMS — the dictionary store's counting
    sibling: one row per live data file holding the column's sorted
    distinct non-null values, their exact row counts, and the file's
    NULL count.  Because data files are immutable and counts are
    additive, any snapshot's `GROUP BY col -> count(*)` is the SUM of
    its live files' histograms — a metadata fold with zero data I/O,
    which the grouped-count plane consults automatically for files it
    cannot decide from identity partitions (scan.count_rows_grouped).
    The reference's metrics stop at bounds/null counts per column
    (ref: api/.../Metrics.java:32-44); value-level counts are the
    missing piece for 'top languages / sources / labels' corpus
    questions at 100 TB.

    Files whose NDV exceeds ``max_ndv`` store NULL arrays (recorded so
    they are never rescanned; they simply never fold and real reads
    cover them).  Incremental by construction: only live files missing
    from the store are scanned.  Returns files analyzed now."""
    from pyspark.sql import types as T

    from linkedin_iceberg_spark.schema import type_to_spark
    if max_ndv is None:
        max_ndv = DICT_DEFAULT_MAX_NDV
    f = _field(table, col, _DICT_TYPES, "histogram")
    entries, _ = table._live_data_and_deletes()

    def make(todo):
        src = column_source(table, col, todo, entries)
        per_val = (src.where(F.col("v").isNotNull())
                   .groupBy("file_path", "v")
                   .agg(F.count("*").alias("n")))
        nulls = (src.groupBy("file_path")
                 .agg(F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
                      .alias("null_count")))
        # sorted (value, count) pairs unzip into two aligned arrays
        return (_capped_sets(table, todo, per_val, F.struct("v", "n"),
                             max_ndv)
                .join(nulls, "file_path", "left")
                .select("file_path",
                        _capped(F.col("packed.v"), type_to_spark(f.type),
                                max_ndv).alias("values"),
                        _capped(F.col("packed.n"), T.LongType(),
                                max_ndv).alias("counts"),
                        F.coalesce(F.col("null_count"), F.lit(0))
                        .alias("null_count")))
    return S.store(table, "hist", f.field_id).build(entries, make)


def _hist_cover(table, col: str, file_paths):
    fid = table.schema.id_for_name(col)
    if fid is None:
        return None, set()
    return S.store(table, "hist", fid).cover(
        file_paths, where=F.col("values").isNotNull())


def histogram_covers(table, col: str, file_paths: list = None) -> bool:
    """True when every (given or live) data file has a concrete
    non-overflow histogram row for ``col`` — a grouped count is then a
    zero-data-I/O metadata fold, strictly better than ANY read-based
    plan, including the zero-shuffle co-located one (SQL route
    tiebreaker, r8 ADVICE)."""
    if file_paths is None:
        entries, _ = table._live_data_and_deletes()
        file_paths = [e.data_file.file_path for e in entries]
    store, covered = _hist_cover(table, col, file_paths)
    return store is not None and set(file_paths) <= covered


def histogram_fold(table, col: str, file_paths: list):
    """Fold `col`'s per-file histograms over ``file_paths``: returns
    ({value-or-None: count}, covered-path-set) using ONLY store rows
    with concrete (non-overflow) arrays — uncovered files stay with the
    caller, which reads them for real and ADDS the results (counts are
    additive, so per-file degradation is exact, the KMV-merge property
    for plain counting).  The None key carries the NULL group's count,
    matching SQL GROUP BY."""
    if table.schema.id_for_name(col) is None:
        raise ValueError(f"no such column {col!r}")
    if not file_paths:
        return {}, set()
    # the fold is DISTRIBUTED (explode -> sum per value): the driver
    # collects only the covered paths (bounded by the candidate list)
    # and one row per distinct value (bounded by the store's NDV cap),
    # never the per-file arrays
    store, covered = _hist_cover(table, col, file_paths)
    if not covered:
        return {}, set()
    counts = {r["v"]: r["n"] for r in
              store.select(F.explode(F.arrays_zip("values", "counts"))
                           .alias("vc"))
              .groupBy(F.col("vc.values").alias("v"))
              .agg(F.sum("vc.counts").alias("n")).collect()}
    nulls = store.agg(F.sum("null_count")).head()[0] or 0
    if nulls:
        counts[None] = counts.get(None, 0) + nulls
    return counts, covered


# =========================================================================
# Top-k plane: per-file truncated histograms with merge-exact BOUNDS
# =========================================================================

TOPK_DEFAULT_M = 256


def _per_file_topk(src, m: int):
    """(file_path, values, counts, rest_cap, other_total) per file from
    a (file_path, v) frame: the file's top-m values by count (count
    desc, value asc — the deterministic SpaceSaving order), the count
    of its (m+1)-th value as the CAP on any unstored value's count in
    that file, and the total mass left unstored."""
    from pyspark.sql import Window

    per_val = (src.where(F.col("v").isNotNull())
               .groupBy("file_path", "v")
               .agg(F.count("*").alias("n")))
    w = Window.partitionBy("file_path").orderBy(F.col("n").desc(),
                                                F.col("v").asc())
    ranked = per_val.withColumn("rn", F.row_number().over(w))
    top = (ranked.filter(F.col("rn") <= m)
           .groupBy("file_path")
           .agg(F.sort_array(F.collect_list(F.struct("rn", "v", "n")))
                .alias("pairs"))
           .select("file_path",
                   F.col("pairs.v").alias("values"),
                   F.col("pairs.n").alias("counts")))
    rest = (ranked.filter(F.col("rn") > m)
            .groupBy("file_path")
            .agg(F.max("n").alias("rest_cap"),
                 F.sum("n").alias("other_total")))
    return (top.join(rest, "file_path", "left")
            .select("file_path", "values", "counts",
                    F.coalesce("rest_cap", F.lit(0)).alias("rest_cap"),
                    F.coalesce("other_total", F.lit(0))
                    .alias("other_total")))


def analyze_topk(table, col: str, m: int = TOPK_DEFAULT_M) -> int:
    """Per-file TRUNCATED histograms for heavy-hitter queries on
    HIGH-cardinality columns (domains, user ids) where the exact
    histogram plane overflows: each live file stores its top-``m``
    values with exact counts plus the (m+1)-th count as a per-file
    error cap — the classic SpaceSaving/Misra-Gries merge algebra, per
    immutable file.  approx_top_k folds any snapshot's stores into
    [lower, upper] count bounds per value with a per-row GUARANTEED
    flag; files missing from the store are summarized live at query
    time with the identical recipe, so coverage gaps degrade cost, not
    correctness of the bounds.  Incremental tail-only, field-id-keyed,
    like every other stats plane here.  Returns files analyzed now."""
    from pyspark.sql import types as T

    from linkedin_iceberg_spark.schema import type_to_spark
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    f = _field(table, col, _DICT_TYPES, "top-k")
    entries, _ = table._live_data_and_deletes()

    def make(todo):
        built = _per_file_topk(column_source(table, col, todo, entries), m)
        # files whose column is all-NULL (or empty) produce no value
        # rows: record them with empty arrays so they are never
        # rescanned and never count as a coverage gap
        return (S.paths_frame(table.spark, todo)
                .join(built, "file_path", "left")
                .select("file_path",
                        F.coalesce(F.col("values"), F.array().cast(
                            T.ArrayType(type_to_spark(f.type))))
                        .alias("values"),
                        F.coalesce(F.col("counts"), F.array().cast(
                            T.ArrayType(T.LongType()))).alias("counts"),
                        F.coalesce(F.col("rest_cap"), F.lit(0))
                        .alias("rest_cap"),
                        F.coalesce(F.col("other_total"), F.lit(0))
                        .alias("other_total")))
    return S.store(table, "topk", f.field_id, m=m).build(entries, make)


def approx_top_k(table, col: str, k: int,
                 m: int = TOPK_DEFAULT_M) -> list:
    """The table's top-``k`` values of ``col`` by row count, with exact
    [lower, upper] bounds merged from the per-file stores
    (analyze_topk): lower = the value's stored mass, upper = lower +
    the rest-caps of every file that did NOT store it.  Returns rows
    ``(value, lower, upper, guaranteed)`` ordered by lower desc, value
    asc; ``guaranteed`` is True when no other value — stored elsewhere
    or entirely unseen — can possibly outrank it.  NULLs are excluded
    (a heavy-hitter of missingness is the histogram plane's NULL
    group).  Pending row-level deletes force a full live computation
    (exact bounds, lower == upper); uncovered files are summarized live
    per file with the identical truncated recipe, so the bounds stay
    valid at any coverage level."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    f = _field(table, col)
    tasks = table.new_scan().plan_files()
    if any(t.deletes for t in tasks):
        rows = (table.to_df().where(F.col(col).isNotNull())
                .groupBy(F.col(col).alias("v"))
                .agg(F.count("*").alias("n"))
                .orderBy(F.col("n").desc(), F.col("v").asc())
                .limit(k).collect())
        return [(r["v"], r["n"], r["n"], True) for r in rows]
    live = sorted({t.file.file_path for t in tasks})
    if not live:
        return []
    store, covered = S.store(table, "topk", f.field_id, m=m).cover(live)
    parts = [store] if covered else []
    uncovered = sorted(set(live) - covered)
    if uncovered:
        src = column_source(table, col, uncovered)
        parts.append(_per_file_topk(src, m))
    allf = _union(parts).cache()
    try:
        total_rest = allf.agg(F.sum("rest_cap")).head()[0] or 0
        # per candidate value: stored mass (lower) and the rest-caps of
        # the files that DID store it — slack is the complement
        per_val = (allf.select(
            "rest_cap",
            F.explode(F.arrays_zip("values", "counts")).alias("vc"))
            .groupBy(F.col("vc.values").alias("v"))
            .agg(F.sum("vc.counts").alias("lower"),
                 F.sum("rest_cap").alias("rest_present")))
        cand = (per_val.select(
            "v", "lower",
            (F.col("lower") + F.lit(total_rest) -
             F.col("rest_present")).alias("upper"))
            .orderBy(F.col("lower").desc(), F.col("v").asc()))
        top = cand.limit(k).collect()
        if not top:
            return []
        # the strongest possible rival: the best upper bound among
        # candidates NOT returned, or a completely unseen value whose
        # upper bound is the total rest mass
        kth_lower = top[-1]["lower"]
        rival = (cand.filter(
            (F.col("lower") < kth_lower) |
            ((F.col("lower") == kth_lower) &
             (F.col("v") > top[-1]["v"])))
            .agg(F.max("upper")).head()[0])
        threshold = max(rival or 0, total_rest)
        return [(r["v"], r["lower"], r["upper"],
                 bool(r["lower"] >= threshold)) for r in top]
    finally:
        allf.unpersist()


# ─────────────────────────────────────────────────────────────────────
# Per-file SAMPLE plane (r10): quantiles with zero data I/O.
# ─────────────────────────────────────────────────────────────────────

SAMPLE_DEFAULT_K = 1024
_SAMPLE_TYPES = {"int", "long", "float", "double", "string", "date",
                 "timestamp"}


def _sample_fields(table, col: str, group_col):
    f = _field(table, col, _SAMPLE_TYPES, "sample")
    if group_col is None:
        return f, None
    g = _field(table, group_col)
    if g.field_id == f.field_id:
        raise ValueError("group_col must differ from the value column")
    if not (isinstance(g.type, str)
            and g.type in _SAMPLE_TYPES | {"boolean"}):
        raise ValueError(f"group column {group_col!r} type {g.type!r} "
                         f"unsupported")
    return f, g


def _sample_store(table, f, g, k: int, salt: str):
    return S.store(table, "sample", f.field_id,
                   g.field_id if g is not None else None, k=k, salt=salt)


def sample_hash(v, pos, salt: str = SAMPLE_SALT):
    """The plane's portable per-ROW hash: ``md5('<salt>-<value>-<pos>')``
    over the value's string form and the row's in-file position.  The
    position makes duplicate VALUES independent draws (a pure value
    hash would sample distinct values, biasing quantiles), and the
    string recipe replays in ANSI SQL for int/long/string/date columns
    (DuckDB: ``md5(salt || '-' || v::VARCHAR || '-' || pos::VARCHAR)``
    — the same discipline as the KMV/minhash portable hashes).
    float/double columns hash consistently WITHIN the engine (build
    and serve use the same Spark cast) but their string forms are not
    guaranteed across engines."""
    return F.md5(F.concat(F.lit(salt), F.lit("-"), v.cast("string"),
                          F.lit("-"), pos.cast("string")))


def analyze_sample(table, col: str, k: int = SAMPLE_DEFAULT_K,
                   salt: str = SAMPLE_SALT, group_col: str = None) -> int:
    """Per-file bottom-``k`` row SAMPLE store — the quantile plane.

    For each live data file missing from the store, persists the
    file's ``k`` rows with the smallest `sample_hash` (a uniform,
    deterministic row sample) as rows ``(file_path, h, value, pos,
    n_nonnull)``; all-NULL/empty files record a NULL marker row so
    coverage checks see them.  Because the per-file k equals the
    serving k, the bottom-k of the union of per-file bottom-ks IS the
    global bottom-k (the KMV property, same argument as the KMV NDV
    plane) — so `sampled_quantiles_from_store` answers percentile
    questions over any covered snapshot with ZERO data I/O, and its
    live fallback computes the byte-identical result.

    With ``group_col`` the store keeps the bottom-k PER (file, group)
    — "p50 length per language" from metadata; the merge argument
    holds within each group (NULL groups sample like any other).  The
    store costs k rows per group per file, so group on low-cardinality
    dimensions (language/source/label); a wild group column costs
    store size, never correctness.

    The modern table format ships sketch blobs in stats files (Puffin;
    the 0.9-era reference's metrics stop at per-column bounds,
    api/.../Metrics.java:32-44) — this plane is that idea with a
    mergeable SAMPLE instead of an opaque sketch, so the estimate is
    replayable in plain SQL.  Incremental by construction (immutable
    files never re-scan); format-agnostic — parquet positions come from
    ``_metadata.row_index``, ORC/Avro from the whole-file readers' exact
    per-file row counter (the same ROW_POSITION number).  Returns files
    analyzed now."""
    if k <= 0:
        raise ValueError("k must be positive")
    f, g = _sample_fields(table, col, group_col)
    from pyspark.sql import Window as W

    from linkedin_iceberg_spark.schema import type_to_spark
    cur_stype = type_to_spark(f.type)
    entries, _ = table._live_data_and_deletes()
    gcols = ["g"] if g is not None else []

    def make(todo):
        src = column_source(
            table, {"v": col, **({"g": group_col} if g else {})}, todo,
            entries, with_pos=True)
        nn = src.where(F.col("v").isNotNull())
        part = ["file_path"] + gcols
        w = W.partitionBy(*part).orderBy(
            F.col("h").asc(), F.col("v").asc(), F.col("pos").asc())
        # n_nonnull rides a window over the SAME partitioning (a groupBy
        # + join would drop NULL groups on the equality join key)
        cw = W.partitionBy(*part)
        sampled = (nn.withColumn("h", sample_hash(F.col("v"),
                                                  F.col("pos"), salt))
                   .withColumn("n_nonnull",
                               F.count(F.lit(1)).over(cw).cast("long"))
                   .withColumn("_sr", F.row_number().over(w))
                   .filter(F.col("_sr") <= k).drop("_sr"))
        marker_g = ({"g": F.lit(None).cast(type_to_spark(g.type))}
                    if g is not None else {})
        empty = dict(h=F.lit(None).cast("string"),
                     value=F.lit(None).cast(cur_stype),
                     pos=F.lit(None).cast("long"))
        parts = [
            sampled.select("file_path", *gcols, "h",
                           F.col("v").alias("value"), "pos", "n_nonnull"),
            # all-NULL/empty files get a marker row: covered, nothing
            # sampled
            _markers(table, todo, nn, **marker_g, **empty,
                     n_nonnull=F.lit(None if g is not None else 0)
                     .cast("long"))]
        if g is not None:
            # grouped stores additionally record a marker per (file,
            # GROUP) whose values are all NULL (r11: n_nonnull = 0, h
            # NULL) — the store then enumerates the file's full group
            # universe, which the SQL grouped-percentile route needs to
            # emit Spark's NULL row for such groups with zero data I/O.
            # The file-coverage marker above is distinguishable by
            # n_nonnull IS NULL.
            univ = src.select("file_path", "g").distinct()
            seen = nn.select(F.col("file_path").alias("_mf"),
                             F.col("g").alias("_mg")).distinct()
            missing = univ.join(
                seen, (F.col("file_path") == F.col("_mf"))
                & F.col("g").eqNullSafe(F.col("_mg")), "left_anti")
            parts.append(missing.select(
                "file_path", "g", *[c.alias(n) for n, c in empty.items()],
                F.lit(0).cast("long").alias("n_nonnull")))
        return _union(parts)
    return _sample_store(table, f, g, k, salt).build(entries, make)


def _pos_delete_mask(table, entries, delete_entries):
    """The pending POSITION-delete rows as a (file_path, pos) DataFrame,
    sequence-scoped exactly as the scan applies them: `match_deletes`
    decides per data file which delete files attach (DeleteFileIndex
    semantics; ref core/.../deletes/Deletes.java:60-127 applies deletes
    per-file), and each delete ROW counts only against the data file it
    names AND is attached to — a row naming a file the delete does not
    apply to under sequence scoping is ignored.  Returns None when any
    ATTACHED delete is an EQUALITY delete (store rows carry no key
    columns, so equality deletes cannot mask metadata — callers fall
    back to the live scan); an equality delete that attaches to NO
    live data file under sequence scoping deletes nothing and is
    ignored.  Metadata-sized: delete rows, never data."""
    from linkedin_iceberg_spark.catalog import manifests as M
    from linkedin_iceberg_spark.catalog.deletes import (
        POS_DELETE_SCHEMA, _maybe_broadcast, _total_records)
    from linkedin_iceberg_spark.catalog.scan import match_deletes
    spark = table.spark
    tasks = match_deletes(entries, delete_entries)
    if any(d.data_file.content != M.CONTENT_POSITION_DELETES
           for t in tasks for d in t.deletes):
        return None
    pairs = sorted({(t.file.file_path, d.data_file.file_path)
                    for t in tasks for d in t.deletes})
    if not pairs:
        return spark.createDataFrame([], POS_DELETE_SCHEMA)
    dpaths = sorted({p for _, p in pairs})
    app = spark.createDataFrame(pairs, "file_path string, dpath string")
    by_path = {e.data_file.file_path: e.data_file
               for e in delete_entries}
    n_del = _total_records([by_path[p] for p in dpaths])
    rows = (spark.read.schema(POS_DELETE_SCHEMA).parquet(*dpaths)
            .withColumn("dpath", F.regexp_replace(
                F.col("_metadata.file_path"), "^file:", ""))
            .join(F.broadcast(app), ["file_path", "dpath"], "left_semi")
            .select("file_path", "pos").distinct())
    return _maybe_broadcast(rows, n_del)


def _masked_serve_exact(store, masked_src, sample, g, k: int) -> bool:
    """Whether the delete-masked store serve is provably byte-identical
    to the live recipe.  A masked per-file (per-(file, group)) store is
    the unit's live bottom-(stored - deleted): exact UNLESS the final
    bottom-k consumes EVERY remaining masked row of a TRUNCATED unit
    (n_nonnull > k) that lost stored rows — then the unit's next-ranked
    live row (never stored) might belong in the sample.  Three
    metadata-sized aggregates; #units ≈ #files (× groups), the same
    driver scale as the coverage collect."""
    unit = ["file_path"] + (["g"] if g is not None else [])

    def key(r):
        return (r["file_path"],) + ((r["g"],) if g is not None else ())

    pre = (store.where(F.col("h").isNotNull())
           .groupBy(*unit)
           .agg(F.count(F.lit(1)).alias("c"),
                F.max("n_nonnull").alias("nn")).collect())
    post = {key(r): r["c"] for r in
            masked_src.groupBy(*unit)
            .agg(F.count(F.lit(1)).alias("c")).collect()}
    sel = {key(r): r["c"] for r in
           sample.groupBy(*unit)
           .agg(F.count(F.lit(1)).alias("c")).collect()}
    for r in pre:
        u = key(r)
        masked_n = post.get(u, 0)
        if masked_n == r["c"]:
            continue  # no stored row of this unit deleted
        if r["nn"] is not None and r["nn"] > k \
                and sel.get(u, 0) >= masked_n:
            return False
    return True


def sample_store_groups(table, col: str, k: int = SAMPLE_DEFAULT_K,
                        salt: str = SAMPLE_SALT,
                        group_col: str = None):
    """The table's full group universe from a GROUPED sample store —
    every group value present in any live file, INCLUDING groups whose
    every value is NULL (their per-(file, group) marker rows, r11) —
    with zero data I/O.  Returns a list of group values, or None when
    the answer cannot come from metadata: store missing / not covering
    every live file, any pending row-level deletes (a delete could
    remove a group's last row), or a store written before the grouped
    markers existed (detected by a file-coverage marker with
    n_nonnull = 0, the pre-r11 spelling)."""
    f, g = _sample_fields(table, col, group_col)
    if g is None:
        raise ValueError("group_col is required")
    entries, deletes = table._live_data_and_deletes()
    if deletes:
        return None
    live = {e.data_file.file_path for e in entries}
    if not live:
        return None
    store, covered = _sample_store(table, f, g, k, salt).cover(live)
    if live - covered:
        return None
    # sampled rows (h non-null) and all-NULL-group markers (h NULL,
    # n_nonnull = 0) name real groups; file-coverage markers for empty
    # files (h NULL, n_nonnull NULL) do not
    rows = (store.where(F.col("h").isNotNull()
                        | F.col("n_nonnull").isNotNull())
            .select("g").distinct().collect())
    return [r["g"] for r in rows]


def sampled_quantiles_from_store(table, col: str,
                                 pcts=(25, 50, 75, 90),
                                 k: int = SAMPLE_DEFAULT_K,
                                 salt: str = SAMPLE_SALT,
                                 group_col: str = None):
    """Deterministic sampled quantiles served from the per-file sample
    store with ZERO data I/O — percentile questions ("p99 document
    length", "median order value") over a 100 TB table for the cost of
    reading k rows per live file of metadata.

    The store serves when EVERY live data file has store rows;
    otherwise the identical recipe runs live over the scan (reserved
    ``_pos`` supplies the same in-file positions the build hashed),
    producing the byte-identical sample and therefore byte-identical
    quantiles — per-file bottom-k then global bottom-k equals global
    bottom-k outright, since any globally-smallest-k row is in its own
    file's bottom-k.  Rank arithmetic is the house convention
    (max(1, ceil(p/100 * n)) over ascending (value, pos)), so an
    external engine replays store and live paths alike.

    Pending POSITION deletes do NOT force the live path (r11): store
    rows carry ``(file_path, pos)``, so the sequence-scoped delete rows
    anti-join them away (`_pos_delete_mask`) and a masked per-file
    store is exactly the file's live bottom-(k - deleted-stored) —
    after a MERGE/DELETE, a percentile question is still a metadata
    read, never a corpus scan.  Exactness guard: if the final bottom-k
    would consume EVERY remaining masked row of some TRUNCATED file
    (n_nonnull > k with stored rows deleted), the file's next-ranked
    live rows are unknown to the store and the serve falls back to the
    live scan — checked with metadata-sized aggregates before the plan
    is returned, so the answer is byte-identical to live in all cases.
    EQUALITY deletes still fall back (store rows carry no key columns).

    Returns a DataFrame (pct, n_sampled, quantile_value) ordered by
    pct — with ``group_col``, ([group], pct, n_sampled, quantile_value)
    ordered by (group, pct), each group's quantiles over ITS bottom-k
    sample (served from a store built with the same ``group_col``).
    NULL values never participate (quantiles of the non-null
    population, matching `sampled_quantiles`); a NULL group is a group
    like any other."""
    if not pcts or any(p < 1 or p > 100 for p in pcts):
        raise ValueError(f"pcts must be integer percents in [1,100], "
                         f"got {list(pcts)!r}")
    if k <= 0:
        raise ValueError("k must be positive")
    f, g = _sample_fields(table, col, group_col)
    from pyspark.sql import Window as W

    from linkedin_iceberg_spark.operators.quantiles import _targets
    from linkedin_iceberg_spark.schema import type_to_spark
    cur_stype = type_to_spark(f.type)
    entries, deletes = table._live_data_and_deletes()
    live = {e.data_file.file_path for e in entries}
    store, covered = (_sample_store(table, f, g, k, salt).cover(live)
                      if live else (None, set()))
    gsel = ([F.col("g")] if g is not None else [])
    gcols = ["g"] if g is not None else []
    order = [F.col("h").asc(), F.col("_v").asc(), F.col("pos").asc()]

    def bottom_k(src):
        if g is not None:
            # groups are the parallel unit: one bottom-k window/group
            wg = W.partitionBy("g").orderBy(*order)
            return (src.withColumn("_sr", F.row_number().over(wg))
                    .filter(F.col("_sr") <= k).drop("_sr"))
        # global bottom-k: per-partition heads first (each task keeps
        # <= k), the final window ranks <= k * n_partitions survivors
        wl = W.partitionBy("_pid").orderBy(*order)
        local = (src.withColumn("_pid", F.spark_partition_id())
                 .withColumn("_sr", F.row_number().over(wl))
                 .filter(F.col("_sr") <= k).drop("_sr", "_pid"))
        wg = W.partitionBy(F.lit(1)).orderBy(*order)
        return (local.withColumn("_sr", F.row_number().over(wg))
                .filter(F.col("_sr") <= k).drop("_sr"))

    def live_src():
        # identical recipe over the live scan (same hash, same order)
        df = table.new_scan().to_df(metadata_columns=True)
        v = F.col(col)
        live_g = ([F.col(group_col).alias("g")] if g is not None
                  else [])
        return (df.where(v.isNotNull())
                .select(F.col("_file").alias("file_path"), *live_g,
                        sample_hash(v, F.col("_pos"), salt).alias("h"),
                        v.alias("_v"), F.col("_pos").alias("pos")))

    src = sample = None
    if live and live <= covered:
        # store-served: k rows per (file[, group]) of metadata, no
        # data input
        src = (store.where(F.col("h").isNotNull())
               .select("file_path", *gsel, "h",
                       F.col("value").cast(cur_stype).alias("_v"),
                       "pos"))
        if deletes:
            mask = _pos_delete_mask(table, entries, deletes)
            if mask is None:
                src = None  # equality deletes: live fallback
            else:
                src = src.join(mask, ["file_path", "pos"], "left_anti")
                sample = bottom_k(src)
                if not _masked_serve_exact(store, src, sample, g, k):
                    src = sample = None  # under-sampled file: live
    if src is None:
        src = live_src()
        sample = None
    if sample is None:
        sample = bottom_k(src)
    ranked = sample.select(
        *gcols, F.col("_v"),
        F.row_number().over(
            (W.partitionBy(*gcols) if gcols else
             W.partitionBy(F.lit(1)))
            .orderBy(F.col("_v").asc(), F.col("pos").asc()))
        .cast("long").alias("_rk"))
    counts = sample.groupBy(*gcols).agg(F.count(F.lit(1)).alias("_n"))
    tgt = F.broadcast(_targets(counts, list(pcts), gcols))
    if g is not None:
        # null-safe group join: a NULL group is a group like any other
        tgt = (tgt.withColumnRenamed("g", "_tg")
               .withColumnRenamed("_rk", "_trk"))
        joined = ranked.join(
            tgt, F.col("g").eqNullSafe(F.col("_tg"))
            & (F.col("_rk") == F.col("_trk")))
        return (joined
                .select(F.col("g").alias(group_col), "pct",
                        F.col("_n").cast("long").alias("n_sampled"),
                        F.col("_v").alias("quantile_value"))
                .orderBy(group_col, "pct"))
    return (ranked.join(tgt, "_rk")
            .select("pct",
                    F.col("_n").cast("long").alias("n_sampled"),
                    F.col("_v").alias("quantile_value"))
            .orderBy("pct"))
