"""Similarity search over embedding columns (array<float>).

Brute-force cosine is the exact baseline (single scan, broadcast query
vector, JVM-side F.aggregate/zip_with arithmetic — no Python in the loop).
The LSH-bucketed variant is the 100 TB path: candidates only within
hyperplane-sign buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y:
                                  x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v.cast("double")
                              * v.cast("double")))


def cosine_topk(df: DataFrame, query_vec, k: int, id_col: str = "vec_id",
                vec_col: str = "embedding", round_to: int = 5) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector.
    Scale: the query vector is a literal (broadcast into codegen); Spark
    executes TakeOrderedAndProject — per-partition heaps, no global sort.
    The whole cosine is ONE parsed SQL expression (a dim-element literal
    array built as Column objects costs a py4j round-trip per element —
    ~0.15 s of driver time per call at dim=64; same discipline as
    _bucket_sql).  Arithmetic is bit-identical to the Column form: the
    same zip_with/aggregate folds in the same element order."""
    if not all(math.isfinite(float(x)) for x in query_vec):
        # repr(float('nan'))/'inf' are not parsable SQL literals, and a
        # non-finite query vector has no meaningful cosine anyway
        raise ValueError("cosine_topk: query_vec must be finite")
    vc = f"`{vec_col}`"
    qarr = "array(" + ",".join(f"{float(x)!r}D" for x in query_vec) + ")"
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    if qnorm == 0:
        # every cosine would divide by zero (NULL cos_sim, arbitrary
        # order): the zero vector has no direction to rank against
        raise ValueError("cosine_topk: query_vec must be non-zero")
    dot = (f"aggregate(zip_with({vc}, {qarr}, "
           f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)")
    nrm = (f"sqrt(aggregate({vc}, 0.0D, (acc, v) -> "
           f"acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    cos = F.expr(f"{dot} / ({nrm} * {qnorm!r}D)")
    return (df.select(F.col(id_col), F.round(cos, round_to).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(k))


def cosine_pairs(df: DataFrame, threshold: float, id_col: str = "vec_id",
                 vec_col: str = "embedding", round_to: int = 5) -> DataFrame:
    """All pairs with cosine >= threshold (exact, O(n^2) candidates).
    Use ann_lsh_candidates to pre-bucket at scale."""
    a = df.select(F.col(id_col).alias("v1"), F.col(vec_col).alias("e1"))
    b = df.select(F.col(id_col).alias("v2"), F.col(vec_col).alias("e2"))
    pairs = a.join(b, F.col("v1") < F.col("v2"))
    cos = _dot(F.col("e1"), F.col("e2")) / (_norm(F.col("e1"))
                                            * _norm(F.col("e2")))
    return (pairs.withColumn("cos_sim_raw", cos)
            .filter(F.col("cos_sim_raw") >= threshold)
            .select("v1", "v2",
                    F.round("cos_sim_raw", round_to).alias("cos_sim"))
            .orderBy("v1", "v2"))


def _deterministic_planes(dim: int, n_planes: int, seed: int = 42) -> list:
    """Pseudorandom hyperplanes from a seeded LCG (no numpy RNG state,
    reproducible across runs/workers)."""
    planes = []
    state = seed
    for _p in range(n_planes):
        vec = []
        for _i in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) \
                % (1 << 64)
            # map to [-1, 1)
            vec.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(vec)
    return planes


def _table_seed(table_idx: int, seed: int = 42) -> int:
    return seed + 7919 * table_idx


def _bucket_column(vec_col: str, planes: list):
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        plit = F.array(*[F.lit(x) for x in plane])
        sign = F.when(_dot(F.col(vec_col), plit) >= 0, F.lit(1 << i)) \
            .otherwise(F.lit(0))
        bucket = bucket + sign
    return bucket


def _bucket_sql(vec_col: str, planes: list) -> str:
    """The same bucket computation as _bucket_column, as ONE SQL string.
    Building n_tables*n_planes dot products as nested Column objects costs
    thousands of py4j round-trips (seconds of driver time before any data
    moves); a single F.expr parse is one call.  Arithmetic is identical:
    a sequential fold of x*y in element order."""
    terms = []
    for i, plane in enumerate(planes):
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in plane) + ")"
        dot = (f"aggregate(zip_with({vec_col}, {arr}, "
               f"(x, y) -> CAST(x AS DOUBLE) * y), "
               f"0.0D, (acc, v) -> acc + v)")
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def ann_lsh_candidates(df: DataFrame, n_planes: int = 8,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       dim: int = None, n_tables: int = 1) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign bits of `n_planes` projections.
    Returns candidate pairs (v1, v2, table_id, bucket) joined within buckets
    only — the shuffle key is a small int pair.  `n_tables` independent
    plane sets (distinct seeds) are unioned to raise recall: a pair whose
    angle gives per-table collision probability p is missed with
    probability (1-p)^n_tables.  At 100 TB this is the standard
    multi-table LSH trade: recall grows with n_tables at linear cost, and
    each table's join stays bucket-local."""
    if dim is None:
        first = df.select(F.size(vec_col)).head()
        dim = first[0] if first else 0
    # the n_tables*n_planes projection dots are the CPU hot spot — widen
    # narrow small-file scans so they parallelize (no-op on wide scans)
    from linkedin_iceberg_spark.operators.dedup import _ensure_parallelism
    df = _ensure_parallelism(df)
    # all tables' buckets in ONE scan (the projections are independent
    # expressions over the same row), then ONE self-join keyed on
    # (table_id, bucket) — vs a scan + join per table, this is 1/n_tables
    # the input reads and a single shuffle
    structs = []
    for t in range(n_tables):
        planes = _deterministic_planes(dim, n_planes, seed=_table_seed(t))
        structs.append(f"named_struct('table_id', {t}, "
                       f"'bucket', {_bucket_sql(vec_col, planes)})")
    bucketed = (df.select(F.col(id_col),
                          F.explode(F.expr(
                              "array(" + ", ".join(structs) + ")"))
                          .alias("b"))
                .select(F.col(id_col), F.col("b.table_id").alias("table_id"),
                        F.col("b.bucket").alias("bucket")))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (a.join(b, (F.col("a.table_id") == F.col("b.table_id"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("v1"),
                    F.col(f"b.{id_col}").alias("v2"),
                    F.col("a.table_id").alias("table_id"),
                    F.col("a.bucket").alias("bucket"))
            .orderBy("table_id", "v1", "v2"))


def ann_lsh_oracle_sql(dim: int, n_planes: int = 8,
                       table: str = "embeddings", id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       where: str = "") -> str:
    """ANSI-SQL equivalent of the single-table ann_lsh_candidates bucketing,
    with the deterministic plane constants INLINED — lets a second engine
    (DuckDB) recompute the exact same buckets and candidate pairs, giving
    the LSH path a real correctness oracle."""
    planes = _deterministic_planes(dim, n_planes, seed=_table_seed(0))
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        terms.append(f"(CASE WHEN list_dot_product({vec_col}::DOUBLE[], {lit})"
                     f" >= 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(terms)
    w = f"WHERE {where}" if where else ""
    return f"""
WITH bucketed AS (
  SELECT {id_col}, {bucket} AS bucket FROM {table} {w}
)
SELECT a.{id_col} AS v1, b.{id_col} AS v2, 0 AS table_id,
       a.bucket AS bucket
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.{id_col} < b.{id_col}
ORDER BY table_id, v1, v2"""


def _cos_to_lit(vec_col, vector: list, round_to: int = 5):
    """round(cosine(col, literal vector), round_to) as a Column — rounding
    keeps Spark/DuckDB double accumulation agreeing at comparison time."""
    vlit = F.array(*[F.lit(float(x)) for x in vector])
    vnorm = math.sqrt(sum(float(x) * float(x) for x in vector))
    return F.round(_dot(F.col(vec_col), vlit)
                   / (_norm(F.col(vec_col)) * F.lit(vnorm)), round_to)


def ivf_assign(df: DataFrame, centroids: list, vec_col: str = "embedding",
               cell_col: str = "cell", round_to: int = 5) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (ties -> larger cid,
    matching array_max's struct ordering).  The centroid table is inlined
    as literals — the broadcast-dim analog; one scan, no shuffle."""
    scored = F.array(*[
        F.struct(_cos_to_lit(vec_col, vec, round_to).alias("score"),
                 F.lit(int(cid)).alias("cid"))
        for cid, vec in centroids])
    # bigint: SQL engines' row_number-derived cell ids are 64-bit; pinning
    # the dtype keeps the output representation-stable across engines
    return df.withColumn(cell_col, F.array_max(scored)["cid"].cast("long"))


def ivf_assign_join(df: DataFrame, centroids: list,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    cell_col: str = "cell", round_to: int = 5) -> DataFrame:
    """Cell assignment via a BROADCAST JOIN against a centroid DataFrame —
    the large-n_cells path.  ivf_assign inlines centroids as literals,
    which is ideal for tens of cells but builds an O(n_cells * dim)
    expression; at n_cells ~ sqrt(N) (thousands), score via data instead:
    rows x centroids pairs from a broadcast cross join, reduced with
    max_by.  Same tie-break (larger cid) and rounding as ivf_assign, so
    the two paths are value-identical over the index-key contract this
    builder assumes: `id_col` unique and non-null (a NULL id would drop
    in the final join; duplicate ids would share one cell)."""
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        f"_cid long, _cvec array<double>")
    cos = F.round(
        _dot(F.col(vec_col), F.col("_cvec"))
        / (_norm(F.col(vec_col)) * _norm(F.col("_cvec"))), round_to)
    scored = (df.select(id_col, vec_col).join(F.broadcast(cent_df))
              .withColumn("_score", cos))
    best = (scored.groupBy(id_col)
            .agg(F.max(F.struct(F.col("_score"), F.col("_cid")))
                 .alias("_best"))
            .select(id_col, F.col("_best._cid").cast("long")
                    .alias(cell_col)))
    return df.join(best, id_col)


def default_centroids(df: DataFrame, n_cells: int,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> list:
    """Deterministic centroid sample: the lowest `n_cells` ids.
    Production IVF trains with k-means; the engine machinery (broadcast
    centroid literals, one assignment scan, cell-local probe) is identical
    either way."""
    rows = df.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    return [(i, [float(x) for x in r[0]]) for i, r in enumerate(rows)]


def probe_cells(centroids: list, query_vec, n_probe: int,
                round_to: int = 5) -> list:
    """The `n_probe` cell ids nearest the query (ties -> larger cid,
    matching ivf_assign's array_max ordering)."""
    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q))

    def cos_py(c):
        dot = sum(x * y for x, y in zip(c, q))
        return round(dot / (math.sqrt(sum(v * v for v in c)) * qn), round_to)

    ranked = sorted(centroids, key=lambda cv: (-cos_py(cv[1]), -cv[0]))
    return [cid for cid, _v in ranked[:n_probe]]


def _centroids_to_json(centroids: list) -> str:
    import json
    return json.dumps([[int(cid), [float(x) for x in vec]]
                       for cid, vec in centroids])


def ivf_centroids(table) -> list:
    """The centroids a persisted IVF index was built with — stored on the
    table itself (`ivf.centroids` property) by ivf_index_table /
    ivf_refresh, so the index is self-describing: any reader can probe it
    without out-of-band centroid state."""
    import json
    raw = table.properties.get("ivf.centroids")
    if raw is None:
        raise ValueError("not an IVF index table: no ivf.centroids "
                         "property (build it with ivf_index_table)")
    return [(int(cid), vec) for cid, vec in json.loads(raw)]


def ivf_index_table(catalog, name: str, df: DataFrame, centroids: list,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    round_to: int = 5):
    """Persist the IVF index as an engine table PARTITIONED BY the cell id
    — the 100 TB shape: each cell's vectors are co-located files, so a
    probe prunes at the FILE level through partition metadata (no rows of
    unprobed cells are ever read).  This is the `persist the cell as a
    partition column` step the in-memory ivf_topk documents.

    The centroids and the indexed row count are stamped as table
    properties, making the index self-describing (ivf_centroids) and
    giving ivf_refresh its staleness baseline."""
    from linkedin_iceberg_spark import PartitionSpec, Schema

    assigned = ivf_assign(df, centroids, vec_col=vec_col, round_to=round_to)
    spec = (PartitionSpec.builder_for(Schema.from_spark(assigned.schema))
            .identity("cell").build())
    t = catalog.create_table(name, assigned, spec=spec)
    t.append(assigned)
    t.update_properties({"ivf.centroids": _centroids_to_json(centroids),
                         "ivf.indexed-count": str(df.count())})
    return t


def ivf_refresh(table, growth_factor: float = 0.5, n_cells: int = None,
                n_iters: int = 2, id_col: str = "vec_id",
                vec_col: str = "embedding", round_to: int = 5) -> tuple:
    """Retrain + re-cluster a persisted IVF index once the corpus
    outgrows its centroids — the ANN plane's maintenance story, same
    discipline as compaction for data files (a growing corpus assigned to
    stale centroids skews cell sizes until probe recall and pruning both
    degrade).

    When the live row count has grown less than ``growth_factor`` since
    the last training, nothing happens and the current centroids come
    back: ``(False, centroids)``.  Otherwise k-means retrains on the full
    live corpus (kmeans_fit: broadcast-iterate, driver state = centroids
    only), every row is re-assigned, and the entire file set is swapped
    in ONE atomic transaction (RewriteFiles + the refreshed
    ``ivf.centroids`` / ``ivf.indexed-count`` properties), so readers see
    either the old index or the new — never a mix of cells and centroids.
    Returns ``(True, new_centroids)``.

    Scale: training is iterations x one scan; the re-assignment rewrite
    is one scan + one partitioned write — the same cost class as a full
    compaction, which is why it is growth-gated rather than per-append."""
    cents = ivf_centroids(table)
    # every table column rides along; only the derived cell is recomputed
    rows = table.to_df().drop("cell")
    n_now = rows.count()
    trained_at = int(table.properties.get("ivf.indexed-count", "0"))
    if trained_at and n_now < trained_at * (1.0 + growth_factor):
        return False, cents
    if n_cells is None:
        n_cells = len(cents)
    new_cents = kmeans_fit(rows, n_cells, n_iters, id_col=id_col,
                           vec_col=vec_col, round_to=round_to)
    assigned = ivf_assign(rows, new_cents, vec_col=vec_col,
                          round_to=round_to)
    entries, _deletes = table._live_data_and_deletes()
    new_files = table._write_data_files(assigned)
    txn = table.new_transaction()
    txn.rewrite_files({e.data_file.file_path for e in entries}, new_files)
    txn.update_properties({"ivf.centroids": _centroids_to_json(new_cents),
                           "ivf.indexed-count": str(n_now)})
    txn.commit()
    return True, new_cents


def ivf_topk_from_table(table, centroids: list, query_vec, k: int,
                        n_probe: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        round_to: int = 5) -> DataFrame:
    """ANN top-k over a persisted IVF table: plan only the probed cells'
    files (partition pruning via the engine's manifest stats), then score
    the surviving rows.  Same result as ivf_topk; the difference is the
    I/O — at scale this reads n_probe/n_cells of the index."""
    from linkedin_iceberg_spark.expressions import in_

    cids = probe_cells(centroids, query_vec, n_probe, round_to)
    scan = table.new_scan().filter(in_("cell", [int(c) for c in cids]))
    q = [float(x) for x in query_vec]
    return (scan.to_df()
            .select(F.col(id_col), F.col("cell"),
                    _cos_to_lit(vec_col, q, round_to).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(k))


def ivf_topk(df: DataFrame, query_vec, k: int, n_cells: int = 8,
             n_probe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding", round_to: int = 5) -> DataFrame:
    """IVF-flat approximate nearest neighbor: partition vectors into cells
    by nearest centroid, then search only the `n_probe` cells nearest the
    query — the classic inverted-file ANN trade (recall vs cells probed).

    Centroids are a deterministic sample (the lowest `n_cells` ids);
    production IVF trains them with k-means, but the scale-critical
    machinery is identical either way: a metadata-sized centroid table
    (broadcast), a single assignment scan, and cell-local search.  At
    100 TB: raise n_cells ~ sqrt(N) and persist `cell` as a partition
    column so probing prunes files instead of filtering rows (that
    persisted form is ivf_index_table / ivf_topk_from_table)."""
    centroids = default_centroids(df, n_cells, id_col, vec_col)
    probe_cids = probe_cells(centroids, query_vec, n_probe, round_to)
    q = [float(x) for x in query_vec]

    assigned = ivf_assign(df, centroids, vec_col=vec_col, round_to=round_to)
    return (assigned.filter(F.col("cell").isin(probe_cids))
            .select(F.col(id_col), F.col("cell"),
                    _cos_to_lit(vec_col, q, round_to).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(k))


def knn_join(queries: DataFrame, corpus: DataFrame, k: int,
             n_cells: int = 0, n_probe: int = 2,
             query_id: str = "q_id", id_col: str = "vec_id",
             vec_col: str = "embedding", round_to: int = 5) -> DataFrame:
    """k-NN JOIN: for EVERY query row, the top-k corpus neighbors by
    cosine — the batch workload shape (cosine_topk is the single-query
    special case).  Returns (query_id, neighbor_id, cos_sim, rank) with a
    deterministic tie-break (rounded cosine desc, neighbor id asc).

    Exact mode (``n_cells=0``): broadcast the query side, score every
    (query, corpus) pair in one corpus scan, keep top-k per query with a
    window.  The shuffle carries only (q_id, id, cos) triples — never
    vectors.  Right when Q * N candidate triples are shuffle-able
    (Q small: dedup probes, eval sets).

    IVF mode (``n_cells>0``): corpus rows are assigned to their nearest
    centroid cell; each query expands to its ``n_probe`` nearest cells;
    candidates = an EQUI-join on the cell id.  At 100 TB with
    n_cells ~ sqrt(N) this scores ~ Q * N * n_probe / n_cells pairs —
    the inverted-file trade, approximate by design (a true neighbor in
    an unprobed cell is missed; n_probe = n_cells recovers exact)."""
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv"))
    cos = F.round(_dot(F.col("_qv"), F.col("_cv"))
                  / (_norm(F.col("_qv")) * _norm(F.col("_cv"))), round_to)

    if n_cells:
        centroids = default_centroids(corpus, n_cells, id_col, vec_col)
        c = ivf_assign(c, centroids, vec_col="_cv",
                       round_to=round_to).withColumnRenamed("cell", "_cell")
        # each query explodes to its n_probe nearest cells: score the
        # centroid literals, sort (score desc, cid desc — probe_cells'
        # tie-break), slice, explode.  Centroids are literals, so this is
        # one projection, no join, no shuffle.
        scored = F.array(*[
            F.struct(_cos_to_lit("_qv", vec, round_to).alias("score"),
                     F.lit(int(cid)).alias("cid"))
            for cid, vec in centroids])
        probes = F.slice(F.reverse(F.array_sort(scored)), 1,
                         min(n_probe, len(centroids)))
        q = q.select(query_id, "_qv",
                     F.explode(F.transform(probes, lambda s: s["cid"]))
                     .alias("_cell"))
        # corpus is the big side — broadcast the exploded query side and
        # equi-join on the cell id
        pairs = c.join(F.broadcast(q), "_cell")
    else:
        pairs = c.join(F.broadcast(q))

    from pyspark.sql import Window
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(),
                                             F.col(id_col).asc())
    return (pairs.withColumn("_cos", cos)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col(id_col).alias("neighbor_id"),
                    F.col("_cos").alias("cos_sim"),
                    F.col("rank").cast("long").alias("rank"))
            .orderBy(query_id, "rank"))


def kmeans_fit(df: DataFrame, n_cells: int, n_iters: int,
               id_col: str = "vec_id", vec_col: str = "embedding",
               round_to: int = 5, mean_round: int = 6) -> list:
    """Train IVF centroids with Lloyd's k-means (spherical flavor: cosine
    assignment, per-position mean update) — the `production IVF trains
    with k-means` step the ivf_* operators document.

    Returns [(cid, centroid)] after `n_iters` iterations, directly
    consumable by ivf_assign / ivf_index_table / knn_join.

    Deterministic BY CONSTRUCTION, so a second engine can replay training
    bit-for-bit: init = the lowest `n_cells` ids; assignment = rounded
    cosine with ties to the larger cid (ivf_assign's rule); the mean is
    computed by summing elements as DECIMAL(20,10) — integer arithmetic,
    order-independent, so the usual nondeterminism of parallel double
    summation never enters — then rounded to `mean_round` places.  An
    empty cell keeps its previous centroid.

    Scale: per iteration — one assignment scan (centroid literals inlined,
    no join), one posexplode + (cell, pos)-keyed aggregation (map-side
    partial sums), and an n_cells x dim collect (metadata-sized).  The
    classic broadcast-iterate loop; iterations are O(scan), state on the
    driver is centroids only."""
    cents = default_centroids(df, n_cells, id_col, vec_col)
    for _ in range(n_iters):
        assigned = ivf_assign(df.select(id_col, vec_col), cents,
                              vec_col=vec_col, round_to=round_to)
        pos = assigned.select(
            "cell", F.posexplode(vec_col).alias("pos", "_x"))
        dec = F.col("_x").cast("double").cast("decimal(20,10)")
        agg = (pos.groupBy("cell", "pos")
               .agg(F.sum(dec).alias("_s"), F.count("*").alias("_n")))
        rows = (agg.groupBy("cell")
                .agg(F.array_sort(F.collect_list(F.struct(
                    F.col("pos"),
                    F.round(F.col("_s").cast("double") / F.col("_n"),
                            mean_round).alias("m")))).alias("_pm"))
                .collect())
        new = {r["cell"]: [p["m"] for p in r["_pm"]] for r in rows}
        cents = [(cid, new.get(cid, vec)) for cid, vec in cents]
    return cents


def kmeans_oracle_sql(n_cells: int, n_iters: int, table: str = "embeddings",
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      round_to: int = 5, mean_round: int = 6,
                      where: str = "") -> str:
    """ANSI-SQL (DuckDB) replay of kmeans_fit + a final assignment pass:
    every iteration's rounded-cosine argmax assignment and decimal-exact
    mean update is regenerated as a CTE chain, value-checking the ENTIRE
    training loop (same pattern as ann_lsh_oracle_sql / the IVF oracle).
    Returns SQL yielding ({id_col}, cell) ordered by id."""
    w = f"WHERE {where}" if where else ""
    and_w = f"AND {where}" if where else ""
    parts = [f"""WITH cents0 AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cid,
         {vec_col}::DOUBLE[] AS c
  FROM (SELECT * FROM {table} {w} ORDER BY {id_col} LIMIT {n_cells})
)"""]
    for i in range(n_iters):
        parts.append(f""", assign{i} AS (
  SELECT e.{id_col}, e.{vec_col}, c.cid,
         row_number() OVER (
           PARTITION BY e.{id_col}
           ORDER BY round(list_cosine_similarity(e.{vec_col}::DOUBLE[],
                                                 c.c), {round_to}) DESC,
                    c.cid DESC) AS rn
  FROM {table} e CROSS JOIN cents{i} c {w}
), means{i} AS (
  SELECT cell AS cid, array_agg(m ORDER BY pos) AS c FROM (
    SELECT a.cid AS cell, u.pos,
           round(CAST(SUM(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(20,10)))
                      AS DOUBLE) / count(*), {mean_round}) AS m
    FROM (SELECT * FROM assign{i} WHERE rn = 1) a,
         (SELECT a2.{id_col} AS vid, unnest(a2.{vec_col}) AS x,
                 generate_subscripts(a2.{vec_col}, 1) AS pos
          FROM (SELECT * FROM assign{i} WHERE rn = 1) a2) u
    WHERE u.vid = a.{id_col}
    GROUP BY 1, 2) GROUP BY 1
), cents{i + 1} AS (
  SELECT c0.cid, COALESCE(m.c, c0.c) AS c
  FROM cents{i} c0 LEFT JOIN means{i} m ON c0.cid = m.cid
)""")
    parts.append(f""", final AS (
  SELECT e.{id_col}, c.cid,
         row_number() OVER (
           PARTITION BY e.{id_col}
           ORDER BY round(list_cosine_similarity(e.{vec_col}::DOUBLE[],
                                                 c.c), {round_to}) DESC,
                    c.cid DESC) AS rn
  FROM {table} e CROSS JOIN cents{n_iters} c {w}
)
SELECT {id_col}, CAST(cid AS BIGINT) AS cell
FROM final WHERE rn = 1 ORDER BY {id_col}""")
    return "".join(parts)


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  q_col: str = "qvec", scale_col: str = "scale",
                  scale_round: int = 9) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard 4x
    storage/bandwidth cut for embedding retrieval (values in
    [-127, 127], one float scale per vector).

    q_i = floor(x_i / scale + 0.5) with scale = max|x| / 127 — explicit
    floor(+0.5) rounding, not round(): round-half-even vs half-up varies
    by engine, floor(+0.5) is bit-identical everywhere, which keeps the
    whole quantization SQL-verifiable.  A zero vector quantizes to zeros
    with scale 0.  Reconstruction x~ = q * scale; the error per element
    is bounded by scale/2 = max|x|/254.

    Scale: two projections (scale, then quantize), no shuffle, no UDF."""
    mx = F.aggregate(F.col(vec_col), F.lit(0.0),
                     lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))))
    with_scale = df.withColumn(
        scale_col, F.round(mx / F.lit(127.0), scale_round))
    q = F.when(F.col(scale_col) == 0.0,
               F.transform(F.col(vec_col), lambda v: F.lit(0))) \
         .otherwise(F.transform(
             F.col(vec_col),
             lambda v: F.floor(v.cast("double") / F.col(scale_col)
                               + F.lit(0.5)).cast("int")))
    return with_scale.withColumn(q_col, q)


def dequantize_int8(df: DataFrame, q_col: str = "qvec",
                    scale_col: str = "scale",
                    out_col: str = "embedding") -> DataFrame:
    """Reconstruct float vectors from int8 quantization (x~ = q * scale)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col),
                    lambda v: (v.cast("double")
                               * F.col(scale_col)).cast("float")))


def truncate_embeddings(df: DataFrame, dim: int,
                        vec_col: str = "embedding",
                        out_col: str = "vec_trunc",
                        renormalize: bool = True) -> DataFrame:
    """Matryoshka-style dimensionality reduction: keep the first `dim`
    components of each embedding, optionally L2-renormalized.  MRL-family
    models pack coarse-to-fine information into prefixes, so prefix
    truncation is the standard storage/speed knob: a 4x shorter vector
    quarters index size and scan cost (compose with quantize_int8 for
    ~16x) at a small recall cost.

    Renormalization never changes COSINE rankings (cosine is scale-
    invariant), but it keeps dot-product consumers and int8 quantization
    ranges honest.  The norm is computed in a SEPARATE projection from
    the division (two withColumns) — sibling lambda-bearing expressions
    in one select are a known Spark 4.1 hazard."""
    if dim <= 0:
        raise ValueError("dim must be positive")
    out = df.withColumn(out_col, F.slice(F.col(vec_col), 1, dim))
    if not renormalize:
        return out
    out = out.withColumn(
        "_nrm", F.sqrt(F.aggregate(
            out_col, F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"))))
    return (out.withColumn(
        out_col,
        F.transform(out_col, lambda x: x.cast("double") / F.col("_nrm")))
        .drop("_nrm"))


# ------------------------------------------------------------------ PQ
def pq_train(df: DataFrame, m: int, n_codes: int, n_iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = None) -> list:
    """Product-quantization codebooks: split each embedding into `m`
    equal subvectors and train an independent k-means codebook
    (kmeans_fit — deterministic by construction) per subspace.  Returns
    [[(code, sub_centroid)] x m].

    PQ compresses a d-dim float vector to m 1-byte codes (m * log2
    (n_codes) bits) — at d=1024/m=64 that is ~64x smaller than float32,
    which is what makes BILLION-vector corpora scannable: the ADC scan
    (pq_topk) touches codes, never raw vectors.  Jegou et al., "Product
    Quantization for Nearest Neighbor Search" (TPAMI'11).

    Scale: m independent kmeans_fit runs over sliced views — each is
    the audited broadcast-iterate loop (one scan per iteration, driver
    state = centroids only).  The m loops are INDEPENDENT, so they run
    overlapped from a small driver thread pool (guide §2.6: actions are
    only sequential because the driver calls them sequentially) — each
    subspace's training is deterministic and touches no shared state, so
    the codebooks are bit-identical to the sequential run while the
    m * n_iters tiny job waves back-fill each other's stragglers instead
    of queueing."""
    if dim is None:
        dim = len(df.select(vec_col).head()[0])
    if m <= 0 or dim % m != 0:
        raise ValueError(f"m must divide the embedding dim ({dim})")
    sub_len = dim // m

    def train_one(s: int) -> list:
        sub = df.select(
            id_col,
            F.slice(F.col(vec_col), s * sub_len + 1, sub_len)
            .alias("embedding"))
        return kmeans_fit(sub, n_codes, n_iters, id_col=id_col,
                          vec_col="embedding")

    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
        return list(pool.map(train_one, range(m)))


def pq_encode(df: DataFrame, codebooks: list,
              vec_col: str = "embedding",
              codes_col: str = "codes") -> DataFrame:
    """Encode vectors to their per-subspace nearest-centroid codes
    (ivf_assign's rounded-cosine rule per subspace — same determinism
    contract).  One scan, centroids inlined, no shuffle."""
    sub_len = len(codebooks[0][0][1])
    out = df
    tmp = []
    for s, cents in enumerate(codebooks):
        c = f"_pq{s}"
        tmp.append(c)
        out = out.withColumn(
            c, F.slice(F.col(vec_col), s * sub_len + 1, sub_len))
        out = ivf_assign(out, cents, vec_col=c, cell_col=c + "_code")
    out = out.withColumn(
        codes_col, F.array(*[F.col(c + "_code") for c in tmp]))
    return out.drop(*tmp, *[c + "_code" for c in tmp])


def pq_topk(encoded: DataFrame, codebooks: list, query_vec, k: int,
            id_col: str = "vec_id", codes_col: str = "codes") -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays exact, each
    row's score is the sum of per-subspace dot(query_sub, centroid)
    looked up from an m x n_codes literal table — dot(q, x_hat) where
    x_hat is the row's reconstruction.  The scan touches CODES only
    (one element_at per subspace); TakeOrdered gives top-k with no
    global sort."""
    sub_len = len(codebooks[0][0][1])
    score = None
    for s, cents in enumerate(codebooks):
        q_sub = [float(x) for x in query_vec[s * sub_len:(s + 1) * sub_len]]
        by_code = dict(cents)
        lut = F.array(*[
            F.lit(sum(a * float(b) for a, b in zip(q_sub, by_code[cid])))
            for cid in sorted(by_code)])
        term = F.element_at(
            lut, F.element_at(codes_col, s + 1).cast("int") + 1)
        score = term if score is None else score + term
    return (encoded.select(F.col(id_col), F.round(score, 5)
                           .alias("adc_score"))
            .orderBy(F.col("adc_score").desc(), F.col(id_col))
            .limit(k))


def pq_search(encoded: DataFrame, raw_df: DataFrame, codebooks: list,
              query_vec, k: int, shortlist: int = 100,
              id_col: str = "vec_id", vec_col: str = "embedding",
              codes_col: str = "codes") -> DataFrame:
    """The production PQ pipeline: ADC over codes builds a `shortlist`
    of candidates (the only full-corpus pass — codes, not vectors),
    then EXACT cosine reranks just those rows (raw vectors fetched for
    the shortlist only, via a broadcastable semi-join).  Recall is the
    shortlist's to lose: size it ~10x k (and grow it with corpus size);
    at recall 1.0 the result is exactly cosine_topk's.

    At 100 TB: the corpus scan touches m bytes/vector instead of 4*d,
    and the rerank reads O(shortlist) vectors — the two-stage shape
    every large ANN deployment uses."""
    if shortlist < k:
        raise ValueError("shortlist must be >= k")
    ids = pq_topk(encoded, codebooks, query_vec, shortlist,
                  id_col=id_col, codes_col=codes_col).select(id_col)
    cand = raw_df.join(F.broadcast(ids), id_col, "left_semi")
    return cosine_topk(cand, query_vec, k, id_col=id_col, vec_col=vec_col)


def hybrid_rrf_topk(docs: DataFrame, embs: DataFrame, query_terms: list,
                    query_vec: list, k: int = 10, pool: int = 50,
                    rrf_k: int = 60, id_col: str = "doc_id",
                    text_col: str = "text", emb_id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    vec_index=None, n_probe: int = None,
                    kw_index=None) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    SIGIR'09): a keyword channel (query-term overlap count) and an
    embedding channel (exact cosine) each nominate their top-``pool``
    candidates, ranks are assigned WITHIN the pooled candidates, and
    documents score ``sum(1 / (rrf_k + rank_i))`` over the channels
    they appear in (the standard hybrid-search fusion — rank-based, so
    the two channels' incomparable score scales never need calibration).

    Scale shape — the production RRF recipe, not the textbook one:
    global per-modality ranking would be a single-partition window over
    the corpus, so each channel first takes its top-``pool`` via
    TakeOrdered (per-partition heaps, no global sort), and the rank
    windows run over ≤2*pool pooled rows (driver-bounded by
    construction).  Missing channels contribute nothing (standard RRF).
    Determinism: keyword scores are integers; cosine is rounded to 5dp
    before ranking with an id tie-break; the fusion score is a 2-term
    sum of correctly-rounded divisions — replayable bit-for-bit.

    Index-backed channel (r7): pass ``vec_index`` (a persisted IVF
    table from ivf_index_table, cell-partitioned, centroids stamped in
    properties) and the embedding channel becomes
    ivf_topk_from_table — scan planning prunes to the ``n_probe``
    probed cells' FILES instead of scanning ``embs`` (which is then
    ignored; pass None).  At full probe (n_probe = n_cells, the
    default when None) every cell is a candidate and the channel is
    value-identical to the exact scan — the knn_join
    converges-to-exact contract — so the exact mode stays the oracle's
    replay path while production sizes n_probe for the recall/IO trade.
    Pass ``kw_index`` (a persisted inverted index from
    keyword.keyword_index_table, token-bucket-partitioned) and the
    keyword channel likewise prunes to the query terms' buckets' files,
    with VALUE-IDENTICAL scores (distinct matched-term counts) — both
    serving channels then run off persisted, file-pruned indexes.

    Returns (id, kw_rank, vec_rank, rrf_score) top-``k``."""
    from pyspark.sql import Window as W

    if kw_index is not None:
        # index-backed keyword channel (r7): postings partitioned by
        # token bucket — scan planning prunes to the query terms'
        # buckets' FILES; value-identical to the exact scan below
        # (distinct matched-term counts either way), so the exact mode
        # stays the oracle's replay path (docs is then ignored)
        from linkedin_iceberg_spark.operators.keyword import (
            keyword_topk_from_table)
        kw = keyword_topk_from_table(kw_index, query_terms, pool,
                                     id_col=id_col)
    else:
        terms = F.array(*[F.lit(t) for t in query_terms])
        kw = (docs.select(
                F.col(id_col),
                F.size(F.array_intersect(
                    F.array_distinct(F.split(F.lower(F.col(text_col)),
                                             "[^a-z0-9]+")), terms))
                .alias("kw_score"))
              .filter(F.col("kw_score") > 0)
              .orderBy(F.col("kw_score").desc(), F.col(id_col))
              .limit(pool))
    if vec_index is not None:
        cents = ivf_centroids(vec_index)
        vec = ivf_topk_from_table(
            vec_index, cents, query_vec, pool,
            n_probe=n_probe if n_probe is not None else len(cents),
            id_col=emb_id_col, vec_col=vec_col).drop("cell")
    else:
        vec = cosine_topk(embs, query_vec, pool, id_col=emb_id_col,
                          vec_col=vec_col)
    vec = vec.withColumnRenamed(emb_id_col, id_col)

    kw_r = kw.withColumn(
        "kw_rank", F.row_number().over(
            W.orderBy(F.col("kw_score").desc(), F.col(id_col))))
    vec_r = vec.withColumn(
        "vec_rank", F.row_number().over(
            W.orderBy(F.col("cos_sim").desc(), F.col(id_col))))
    fused = (kw_r.select(id_col, "kw_rank")
             .join(vec_r.select(id_col, "vec_rank"), id_col, "full_outer"))
    rrf = (F.when(F.col("kw_rank").isNotNull(),
                  F.lit(1.0) / (F.lit(rrf_k) + F.col("kw_rank")))
           .otherwise(F.lit(0.0))
           + F.when(F.col("vec_rank").isNotNull(),
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("vec_rank")))
           .otherwise(F.lit(0.0)))
    return (fused.select(F.col(id_col),
                         F.col("kw_rank").cast("long").alias("kw_rank"),
                         F.col("vec_rank").cast("long").alias("vec_rank"),
                         F.round(rrf, 6).alias("rrf_score"))
            .orderBy(F.col("rrf_score").desc(), F.col(id_col))
            .limit(k))
