"""Per-file BLOOM-FILTER file skipping: point lookups on
high-cardinality columns.

The engine's file-skipping ladder so far: min/max bounds (free, useless
for unsorted point lookups), the dictionary store (exact, but only for
columns whose per-file NDV fits a cap), and the key index (exact
key -> files, but it materializes every key).  Bloom filters fill the
remaining cell — columns with MILLIONS of distinct values per file,
where a dictionary overflows and a key index is too heavy, but an
`id = ?` lookup should still touch one file out of thousands.  The
modern table format grew the same answer (Parquet bloom filters consumed
at planning time); the 0.9-era reference stops at bounds
(ref: api/.../expressions/InclusiveMetricsEvaluator.java — bounds and
null counts only), so this plane is additive, like the KMV/dictionary
stores beside it.

Layout (stats_store.py): one row per data file —
``(file_path, nbits, k, bits)`` — under a directory keyed by FIELD ID
and the column's current engine type: renames keep the store, a re-used
name never sees a stale one, and int->long promotion (xxhash64 hashes
the physical width) orphans the old store instead of mis-pruning with
it.  Data files are immutable, so entries never go stale;
``analyze_bloom`` is incremental by construction (only live files
missing from the store are scanned — appends sketch the new tail,
compaction sketches the rewritten output).

Hashing: Spark's ``xxhash64`` (seed 42) over the value in the COLUMN'S
OWN Spark type, computed executor-side at build time and by a one-row
Spark job at probe time — both sides go through the same JVM expression,
so parity is by construction, never by a reimplementation.  Positions
use Kirsch-Mitzenmacher double hashing of the two 32-bit halves.

Sizing is per file from the observed distinct-hash count: a file needs
``-n ln(fpp) / ln(2)^2`` bits; above ``max_bits`` (default 1 MiB) the
row stores NULL bits — recorded so the file is never rescanned, and such
files simply never prune.  A file with NO non-null values stores empty
bits and always prunes under eq/IN (NULL never satisfies either), the
same contract as the dictionary store's empty array.

Scale: the build is one scan of the un-sketched files (distinct hashes
per file, then an Arrow-batched per-file bitset build); probing reads
only the store (file-level metadata, no data I/O), tests candidates
DISTRIBUTED via mapInPandas, and collects only the DROP list — bounded
by the candidate count.  Pruning is advisory: files missing from the
store, overflow rows, unsupported predicate shapes, and literals that do
not cast to the column type are all left untouched, so correctness never
depends on the filter.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog import stats_store as S

BLOOM_DEFAULT_FPP = 0.01
BLOOM_MAX_BITS = 1 << 23  # 1 MiB of bits per (file, column)
_BLOOM_TYPES = {"int", "long", "string", "date", "timestamp"}

_OVERFLOW = -1  # nbits sentinel: too many distinct values, bits NULL


def _params(n: int, fpp: float) -> tuple:
    """Classic sizing: nbits = -n ln(p)/ln(2)^2, k = nbits/n * ln(2).
    Floored at 64 bits and byte-aligned; k clamped to [1, 16]."""
    if n <= 0:
        return 0, 0
    nbits = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    nbits = (nbits + 7) & ~7
    k = max(1, min(16, int(round(nbits / n * math.log(2)))))
    return nbits, k


def _positions(u64, nbits: int, k: int):
    """k bit positions for each unsigned-64 hash in ``u64`` (numpy
    array), via double hashing of the 32-bit halves: h1 + i*h2 mod
    nbits, h2 forced odd so it never degenerates to a fixed point.
    Returns shape (len(u64), k)."""
    import numpy as np

    h1 = (u64 & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((u64 >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(nbits)


def analyze_bloom(table, col: str, fpp: float = BLOOM_DEFAULT_FPP,
                  max_bits: int = BLOOM_MAX_BITS) -> int:
    """Bring the column's bloom store up to date: sketch only the live
    data files missing from it.  Returns the number of files analyzed
    now."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    from linkedin_iceberg_spark.catalog.analyze import _field, column_source
    from linkedin_iceberg_spark.shipping import ship_package
    f = _field(table, col, _BLOOM_TYPES, "bloom")
    ship_package(table.spark)  # build/probe closures import _positions
    entries, _ = table._live_data_and_deletes()

    def build(pdf):
        import numpy as np
        import pandas as pd

        path = pdf["file_path"].iloc[0]
        u = pdf["h"].to_numpy(dtype=np.int64).astype(np.uint64)
        n = len(u)
        nbits, k = _params(n, fpp)
        if nbits > max_bits:
            return pd.DataFrame([{"file_path": path,
                                  "nbits": _OVERFLOW, "k": 0,
                                  "bits": None}])
        bits = np.zeros(nbits >> 3, dtype=np.uint8)
        if n:
            pos = _positions(u, nbits, k).ravel()
            np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                             (np.uint8(1) << (pos & np.uint64(7))
                              .astype(np.uint8)))
        return pd.DataFrame([{"file_path": path, "nbits": nbits,
                              "k": k, "bits": bits.tobytes()}])

    def make(todo):
        # schema-aware read (analyze.column_source): pre-rename files
        # keep their values and pre-promotion values hash as the CURRENT
        # type — matching _literal_hashes, which hashes probes as the
        # current type
        src = (column_source(table, col, todo, entries)
               .select("file_path", F.xxhash64(F.col("v")).alias("h"))
               .where(F.col("v").isNotNull())
               .distinct())
        # overflow files are decided from their distinct COUNT alone —
        # never materialize a too-big hash group in a task just to throw
        # it away (at the default cap a group tops out around ~875k)
        bits_per_val = -math.log(fpp) / (math.log(2) ** 2)
        max_n = max(0, int(max_bits / bits_per_val) + 2)
        while max_n > 0 and _params(max_n, fpp)[0] > max_bits:
            max_n -= 1
        counts = src.groupBy("file_path").agg(F.count("*").alias("n"))
        under = counts.filter(F.col("n") <= max_n).select("file_path")
        built = (src.join(under, "file_path", "left_semi")
                 .groupBy("file_path").applyInPandas(
                     build, "file_path string, nbits long, k int, "
                            "bits binary"))
        # all-NULL files produce no hash rows: empty bits (they can never
        # satisfy eq/IN, so they always prune); over-cap files: overflow
        # sentinel (recorded, never prunes)
        return (S.paths_frame(table.spark, todo)
                .join(counts, "file_path", "left")
                .join(built, "file_path", "left")
                .select("file_path",
                        F.when(F.col("n").isNull(), F.lit(0))
                        .when(F.col("n") > max_n, F.lit(_OVERFLOW))
                        .otherwise(F.col("nbits")).alias("nbits"),
                        F.coalesce(F.col("k"), F.lit(0)).alias("k"),
                        F.when(F.col("n").isNull(), F.lit(b""))
                        .otherwise(F.col("bits")).alias("bits")))
    return S.store(table, "bloom", f.field_id).build(entries, make)


def _literal_hashes(table, field, lits: list):
    """xxhash64 of each literal AS THE COLUMN'S SPARK TYPE, via a tiny
    Spark job — the identical JVM expression the build used, so parity
    is structural.  One ROW per literal (not one column), so a
    runtime-filter IN list of thousands of keys hashes in a single
    cheap job.  Returns None when the literals don't fit the column
    type (we cannot prove absence of a value we cannot hash — skip the
    conjunct, stay sound)."""
    from pyspark.sql import types as T
    stype = next(sf.dataType for sf in table.schema.to_spark().fields
                 if sf.name == field.name)
    try:
        df = table.spark.createDataFrame(
            [(v,) for v in lits],
            T.StructType([T.StructField("v", stype, True)]))
        rows = df.select(F.xxhash64("v").alias("h"),
                         F.col("v").isNull().alias("n")).collect()
    except Exception:
        return None
    if len(rows) != len(lits) or any(r["n"] for r in rows):
        return None
    return [r["h"] for r in rows]


def prune_files_by_hashes(table, field_id: int, candidates: set,
                          hashes: list) -> set:
    """File paths among ``candidates`` whose stored bloom PROVES that
    NONE of the xxhash64 ``hashes`` is present (plus all-NULL files,
    which can never satisfy an equality).  The probe is distributed
    (mapInPandas over the store, candidates semi-joined in) and the
    driver collects only the drop list.  Hash lists scale to runtime-
    filter key sets (~10^6): the per-file test chunks the hash array to
    bound task memory and EXITS EARLY on the first hit, so files that
    do contain a key (the common case) pay one chunk, and only files
    about to be pruned scan the full list.  Empty set on any store
    problem — advisory only, one-sided by construction."""
    spark = table.spark
    if spark is None or not hashes or not candidates:
        return set()
    rows = S.store(table, "bloom", field_id).rows(candidates)
    if rows is None:
        return set()
    from linkedin_iceberg_spark.shipping import ship_package
    ship_package(spark)
    import numpy as _np
    hs_bytes = _np.array([h & 0xFFFFFFFFFFFFFFFF for h in hashes],
                         dtype=_np.uint64).tobytes()  # 8 B/key closure

    def probe(batches, hs_bytes=hs_bytes):
        import numpy as np
        import pandas as pd

        hs = np.frombuffer(hs_bytes, dtype=np.uint64)
        chunk = 131_072  # 128k hashes * k<=16 positions: <17 MB/task
        for pdf in batches:
            gone = []
            for path, nbits, k, bits in zip(
                    pdf["file_path"], pdf["nbits"], pdf["k"],
                    pdf["bits"]):
                if nbits == 0:
                    gone.append(path)  # all-NULL file: never matches
                    continue
                if nbits < 0 or bits is None:
                    continue  # overflow: no advice
                arr = np.frombuffer(bits, dtype=np.uint8)
                any_hit = False
                for lo in range(0, len(hs), chunk):
                    part = hs[lo:lo + chunk]
                    pos = _positions(part, int(nbits), int(k))
                    hit = ((arr[(pos >> np.uint64(3)).astype(np.int64)]
                            >> (pos & np.uint64(7)).astype(np.uint8))
                           & 1).all(axis=1)
                    if hit.any():
                        any_hit = True
                        break
                if not any_hit:  # every hash definitely absent
                    gone.append(path)
            yield pd.DataFrame({"file_path": gone})

    try:
        excluded = rows.mapInPandas(probe, "file_path string").collect()
    except Exception:
        return set()  # malformed store: no advice, stay sound
    return {r["file_path"] for r in excluded} & set(candidates)


def bloom_prune(table, data_entries: list, bound) -> list:
    """Drop manifest entries whose bloom filter PROVES no row can match:
    for each top-level AND conjunct that is eq/IN over a plain column of
    a supported type, a file whose stored filter reports every literal
    absent cannot contain a matching row.  One-sided by construction —
    a bloom can only say "definitely absent" — so false positives cost
    only an unpruned file, never a row.  Called from plan_files when the
    table has a stats_bloom directory; advisory only, same contract as
    dictionary_prune."""
    from linkedin_iceberg_spark.catalog.analyze import (
        _without, eq_in_conjuncts)
    conjuncts = eq_in_conjuncts(bound, _BLOOM_TYPES)
    if not conjuncts or table.spark is None:
        # no eq/IN shape — or a Spark-less planning context (Python
        # DataSource planning worker), where probing needs the JVM
        # xxhash64: no advice, the pushed filter re-applies row-level
        return data_entries
    fields_by_id = {f.field_id: f for f in table.schema.fields}
    candidates = {e.data_file.file_path for e in data_entries}
    drop: set = set()
    for fid, lits in conjuncts:
        field = fields_by_id.get(fid)
        if field is None or not S.store(table, "bloom", fid).exists():
            continue
        hashes = _literal_hashes(table, field, lits)
        if hashes is not None:
            drop |= prune_files_by_hashes(table, fid, candidates, hashes)
    return _without(data_entries, drop)
