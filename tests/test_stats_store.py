"""The per-file stats stores share one on-disk layout and one read path.

* The layout is pinned: every kind lands in exactly the directory
  existing tables already hold, so a refactor can never orphan a store.
* Duplicate rows — two builders racing between the read of the covered
  files and the append — never change a consumer's answer.  Each kind's
  rebuild is checked for byte-identical rows; a kind whose rows differ
  on rebuild must merge idempotently (HLL union does).
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog import analyze as AN
from linkedin_iceberg_spark.catalog import bloom as BL
from linkedin_iceberg_spark.expressions import and_, eq

# kinds whose rebuilt rows may differ byte-wise but whose merge is
# idempotent, so a duplicated file is harmless
IDEMPOTENT_MERGE = {"hll"}


def _table(spark, catalog, name):
    df = spark.createDataFrame(
        [(i, i % 5, i // 100, f"s{i % 4}", (i * 7919) % 1000)
         for i in range(400)],
        "id bigint, a bigint, c bigint, s string, x bigint")
    t = catalog.create_table(f"db.{name}", df)
    # clustered on id, so c (= id // 100) and id prune by file
    t.append(df.repartitionByRange(4, "id"))
    return t.refresh()


def _store_dirs(t) -> set:
    """Relative paths of the directories holding store rows."""
    out = set()
    for root, _dirs, files in os.walk(t.location):
        rel = os.path.relpath(root, t.location)
        if rel.startswith("stats") and any(
                f.endswith(".parquet") for f in files):
            out.add(rel)
    return out


def test_layout_is_pinned(spark, catalog):
    t = _table(spark, catalog, "layout")
    AN.analyze_table(t, ["a"])
    AN.analyze_table_kmv(t, ["a"], k=64)
    AN.analyze_dictionary(t, "a")
    AN.analyze_dictionary_pair(t, ["c", "a"])
    AN.analyze_histogram(t, "a")
    AN.analyze_topk(t, "a", m=16)
    AN.analyze_sample(t, "x", k=64)
    AN.analyze_sample(t, "x", k=32, group_col="s")
    AN.analyze_sample(t, "x", k=64, salt="v2")
    BL.analyze_bloom(t, "id")
    assert _store_dirs(t) == {
        "stats/2",
        "stats_kmv/2/k=64",
        "stats_dict/2",
        "stats_dict_pair/2_3__long_long",
        "stats_hist/2",
        "stats_topk/2_m16",
        "stats_sample/5_64",
        "stats_sample/5_g4_32",
        "stats_sample/5_64_s1b267619",  # md5("v2")[:8]
        "stats_bloom/1_long",
    }


def _live(t):
    return sorted(e.data_file.file_path
                  for e in t._live_data_and_deletes()[0])


def _n_planned(t, expr):
    return len(t.new_scan().filter(expr).plan_files())


# kind -> (build the store, every consumer's answer)
CASES = {
    "hll": (lambda t: AN.analyze_table(t, ["a"])["a"],
            lambda t: AN.column_stats(t, "a")["ndv"]),
    "kmv": (lambda t: AN.analyze_table_kmv(t, ["x"], k=64)["x"],
            lambda t: (t.new_scan().approx_ndv("x", k=64),
                       AN.kmv_table_overlap(t, "x", t, "x", k=64))),
    "dict": (lambda t: AN.analyze_dictionary(t, "c"),
             lambda t: (t.new_scan().exact_ndv_from_dict("c"),
                        _n_planned(t, eq("c", 1)))),
    "dict_pair": (lambda t: AN.analyze_dictionary_pair(t, ["a", "c"]),
                  lambda t: _n_planned(t, and_(eq("a", 1), eq("c", 2)))),
    "hist": (lambda t: AN.analyze_histogram(t, "s"),
             lambda t: (AN.histogram_covers(t, "s"),
                        AN.histogram_fold(t, "s", _live(t)),
                        t.new_scan().count_rows_grouped(["s"]))),
    "topk": (lambda t: AN.analyze_topk(t, "x", m=8),
             lambda t: AN.approx_top_k(t, "x", 3, m=8)),
    "sample": (lambda t: AN.analyze_sample(t, "x", k=64),
               lambda t: [tuple(r) for r in
                          AN.sampled_quantiles_from_store(
                              t, "x", k=64).collect()]),
    "sample_grouped": (
        lambda t: AN.analyze_sample(t, "x", k=16, group_col="s"),
        lambda t: (sorted(AN.sample_store_groups(t, "x", k=16,
                                                 group_col="s")),
                   [tuple(r) for r in AN.sampled_quantiles_from_store(
                       t, "x", k=16, group_col="s").collect()])),
    "bloom": (lambda t: BL.analyze_bloom(t, "id"),
              lambda t: (_n_planned(t, eq("id", 7)),
                         len(BL.prune_files_by_hashes(
                             t, t.schema.id_for_name("id"), set(_live(t)),
                             [123456789])))),
}


def _rows(spark, d) -> list:
    return sorted(repr(tuple(r)) for r in spark.read.parquet(d).collect())


@pytest.mark.parametrize("kind", sorted(CASES))
def test_duplicate_store_rows_leave_answers_unchanged(spark, catalog,
                                                      tmp_path, kind):
    build, answer = CASES[kind]
    t = _table(spark, catalog, kind)
    assert build(t) == 4
    (d,) = [os.path.join(t.location, r) for r in _store_dirs(t)]
    before = answer(t)
    first = _rows(spark, d)

    # a rebuild of the same immutable files writes identical rows, or
    # the kind's merge is idempotent
    shutil.rmtree(d)
    assert build(t) == 4
    assert _rows(spark, d) == first or kind in IDEMPOTENT_MERGE
    assert answer(t) == before

    # two racing builders: every file's rows appended twice
    copy = str(tmp_path / "copy")
    spark.read.parquet(d).write.parquet(copy)
    spark.read.parquet(copy).write.mode("append").parquet(d)
    assert spark.read.parquet(d).select(F.count("*")).head()[0] \
        == 2 * len(first)
    assert build(t) == 0
    assert answer(t) == before
