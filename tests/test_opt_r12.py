"""Round-12 optimization regression tests: equivalence checks for paths
whose internals changed this round, plus the ADVICE r11 correctness fixes."""

import os

from pyspark.sql import functions as F

from linkedin_iceberg_spark import PartitionSpec, Schema


def test_add_files_partition_col_not_last(catalog, spark, tmp_path):
    """ADVICE r11 (high): imported Hive-layout groups are read with basePath,
    and Spark appends the path-reconstructed partition column at the END of
    the read schema even when an explicit schema is passed — so imported
    groups must ALWAYS go through align_columns, even at the current schema.
    Regression: a table whose partition column is NOT last in the schema."""
    src = str(tmp_path / "hive_mid")
    data = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("day"),
        (F.col("id") * 10).alias("v"))
    data.write.partitionBy("day").parquet(src)

    schema = Schema.from_spark(data.schema)  # (k, day, v) — day in the middle
    spec = PartitionSpec.builder_for(schema).identity("day").build()
    t = catalog.create_table("db.mid_part", schema, spec=spec)
    t.add_files(src)

    df = t.to_df()
    assert df.columns == ["k", "day", "v"]
    got = sorted(df.collect(), key=lambda r: r["k"])
    exp = sorted(data.collect(), key=lambda r: r["k"])
    assert got == exp


def test_ld_memo_invalidated_on_overwrite(spark, tmp_path):
    """ADVICE r11 / VERDICT item 8: the base-relation memo must not serve a
    stale file listing/schema after the input file is regenerated in the
    same session (key now includes st_mtime_ns)."""
    import shutil
    import time

    from linkedin_iceberg_spark import queries as Q

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    path = os.path.join(sf, "orders.parquet")

    spark.range(0, 10).selectExpr("id AS o_orderkey").toPandas() \
        .to_parquet(path)
    first = Q.ld(spark, sf, "orders")
    assert first.count() == 10

    time.sleep(0.01)  # ensure a distinct mtime_ns
    spark.range(0, 25).selectExpr(
        "id AS o_orderkey", "id * 2 AS o_extra").toPandas().to_parquet(path)
    second = Q.ld(spark, sf, "orders")
    assert second.count() == 25
    assert "o_extra" in second.columns
    shutil.rmtree(sf)


def _r11_band_signatures(df, text_col, id_col, num_hashes, bands,
                         shingle_n, hash_mode):
    """The r11 per-stream recipe (K separate array_min(transform(_hs,...))
    projections), kept verbatim as an independently-constructed pin for
    minhash_band_signatures.  (r12 prototyped a single-pass aggregate()
    fold against this pin — bit-identical but 10-15% slower per row at
    10x data, so the per-stream recipe stayed; the pin remains to protect
    any future reshaping.)"""
    from pyspark.sql import functions as F

    from linkedin_iceberg_spark.operators.dedup import _ensure_parallelism

    rows_per_band = num_hashes // bands
    toked = _ensure_parallelism(df).select(
        id_col, F.split(F.col(text_col), r"\s+").alias("_toks"))
    if hash_mode == "md5":
        sh_arr = F.expr(
            f"transform(sequence(0, greatest(size(_toks) - {shingle_n}, 0)),"
            f" i -> concat_ws(' ', slice(_toks, i + 1, {shingle_n})))")
        hs = F.expr(
            "transform(filter(_sh_arr, s -> length(s) > 0),"
            " s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))")
        base = (toked.withColumn("_sh_arr", sh_arr)
                .withColumn("_hs", hs)
                .filter(F.size("_hs") > 0))
        minhash_cols = [
            f"array_min(transform(_hs, h -> cast(conv(substring(md5("
            f"concat_ws('-', cast(h as string), '{k}')), 1, 15), 16, 10)"
            f" as bigint))) AS mh{k}"
            for k in range(num_hashes)]
    else:
        els = ", ".join(f"try_element_at(_toks, i + {j + 1})"
                        for j in range(shingle_n))
        sh_arr = F.expr(
            f"transform(sequence(0, greatest(size(_toks) - {shingle_n}, 0)),"
            f" i -> xxhash64({els}))")
        base = (toked
                .filter("size(_toks) > 0 and "
                        "not (size(_toks) = 1 and _toks[0] = '')")
                .withColumn("_hs", sh_arr))
        minhash_cols = [
            f"array_min(transform(_hs, h -> xxhash64(h, {k}))) AS mh{k}"
            for k in range(num_hashes)]
    sigs = base.selectExpr(f"`{id_col}`", *minhash_cols)
    band_structs = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        if hash_mode == "md5":
            cat = ", ".join(f"cast({c} as string)" for c in cols)
            sig = (f"cast(conv(substring(md5(concat_ws('-', {cat})), 1, 15),"
                   f" 16, 10) as bigint)")
        else:
            sig = f"xxhash64({', '.join(cols)})"
        band_structs.append(f"struct({b} AS band, {sig} AS sig)")
    return sigs.selectExpr(
        f"`{id_col}`", f"inline(array({', '.join(band_structs)}))")


def test_minhash_band_signatures_pinned_recipe(spark):
    """Band signatures bit-identical to the independently-constructed r11
    recipe, both hash modes, on tricky inputs + real docs."""
    from pyspark.sql import Row

    from linkedin_iceberg_spark.operators.dedup import minhash_band_signatures

    tricky = spark.createDataFrame([
        Row(doc_id=1, text="a b c d e f g h"),
        Row(doc_id=2, text="a b c d e f g h"),
        Row(doc_id=3, text="x"),
        Row(doc_id=4, text=""),
        Row(doc_id=5, text="a a a a a a"),
        Row(doc_id=6, text="ü ö ä ß ü ö ä ß"),
        Row(doc_id=7, text="b c d e f g h a"),
    ])
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in [tricky, docs]:
        for mode, nh in [("xxhash64", 32), ("md5", 16)]:
            new = set(map(tuple, minhash_band_signatures(
                df, "text", "doc_id", nh, 8, 3, mode).collect()))
            old = set(map(tuple, _r11_band_signatures(
                df, "text", "doc_id", nh, 8, 3, mode).collect()))
            assert new == old, f"{mode}: {len(new ^ old)} mismatches"


def test_dedup_decide_single_join_matches_r11_shape(spark):
    """r12 single-join dedup_decide: identical accept/reject decisions vs
    the r11 two-join + union shape, including same-batch collisions,
    index collisions, and both at once."""
    import random

    from pyspark.sql import Row, functions as F

    from linkedin_iceberg_spark.operators.dedup import minhash_band_signatures
    from linkedin_iceberg_spark.streaming.incremental_dedup import dedup_decide

    def r11_decide(batch_df, index_sigs, id_col="doc_id", **kw):
        sigs = minhash_band_signatures(batch_df, "text", id_col, **kw)
        hit_index = (sigs.join(index_sigs.select("band", "sig").distinct(),
                               ["band", "sig"])
                     .select(id_col).distinct())
        a, b = sigs.alias("a"), sigs.alias("b")
        hit_batch = (a.join(b, (F.col("a.band") == F.col("b.band"))
                            & (F.col("a.sig") == F.col("b.sig"))
                            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                     .select(F.col(f"b.{id_col}").alias(id_col)).distinct())
        dups = hit_index.union(hit_batch).distinct()
        return (batch_df.select(id_col)
                .join(dups.withColumn("_dup", F.lit(True)),
                      on=id_col, how="left")
                .select(id_col, F.coalesce(~F.col("_dup"), F.lit(True))
                        .alias("accepted")))

    rng = random.Random(7)
    words = [f"w{j}" for j in range(12)]
    corpus = [Row(doc_id=i, text=" ".join(rng.choices(words, k=rng.randint(1, 9))))
              for i in range(120)]
    kw = dict(num_hashes=16, bands=8, shingle_n=3, hash_mode="md5")
    index_docs = spark.createDataFrame(corpus[:60])
    batch = spark.createDataFrame(corpus[60:])
    index_sigs = minhash_band_signatures(index_docs, "text", "doc_id", **kw)

    new, sigs = dedup_decide(batch, index_sigs, **kw)
    old = r11_decide(batch, index_sigs, **kw)
    got = sorted(map(tuple, new.collect()))
    exp = sorted(map(tuple, old.collect()))
    sigs.unpersist()
    assert got == exp and len(got) == 60
    # empty index: self-collisions only
    empty = spark.createDataFrame([], "doc_id long, band int, sig long")
    new2, sigs2 = dedup_decide(batch, empty, **kw)
    old2 = r11_decide(batch, empty, **kw)
    assert sorted(map(tuple, new2.collect())) == \
        sorted(map(tuple, old2.collect()))
    sigs2.unpersist()


def test_pq_train_parallel_matches_sequential(spark):
    """r12: pq_train overlaps its m independent subspace k-means loops on a
    driver thread pool — codebooks must be bit-identical to the sequential
    per-subspace run."""
    from pyspark.sql import functions as F

    from linkedin_iceberg_spark.operators.similarity import (
        kmeans_fit, pq_train)

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(df, m=4, n_codes=8, n_iters=2)
    dim = len(df.select("embedding").head()[0])
    sub_len = dim // 4
    for s in range(4):
        sub = df.select(
            "vec_id",
            F.slice(F.col("embedding"), s * sub_len + 1, sub_len)
            .alias("embedding"))
        seq = kmeans_fit(sub, 8, 2, id_col="vec_id", vec_col="embedding")
        assert books[s] == seq, f"subspace {s} differs"


def test_cosine_topk_quoting_and_nonfinite_guard(spark):
    """ADVICE r11 (low): cosine_topk must quote the vector column (names
    needing backticks) and reject non-finite query elements instead of
    emitting unparsable SQL."""
    import pytest

    from linkedin_iceberg_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0])],
        "vec_id int, `my vec` array<double>")
    got = cosine_topk(df, [1.0, 0.0], k=2, vec_col="my vec").collect()
    assert [r["vec_id"] for r in got] == [1, 2]
    assert got[0]["cos_sim"] == 1.0

    with pytest.raises(ValueError, match="finite"):
        cosine_topk(df, [float("nan"), 1.0], k=1, vec_col="my vec")
    with pytest.raises(ValueError, match="finite"):
        cosine_topk(df, [float("inf"), 1.0], k=1, vec_col="my vec")


def test_cosine_topk_rejects_zero_query_vector(spark):
    """An all-zero query vector has no direction: every cosine divides by
    zero (NULL cos_sim, arbitrary order), so it is rejected up front
    like a non-finite one."""
    import pytest

    from linkedin_iceberg_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                               "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="non-zero"):
        cosine_topk(df, [0.0, 0.0], k=1)
    with pytest.raises(ValueError, match="non-zero"):
        cosine_topk(df, [], k=1)
