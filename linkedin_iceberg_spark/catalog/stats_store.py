"""One store behind every per-file stats plane.

Each plane persists rows keyed by an immutable data-file path, as
parquet under ``<table location>/<dir>/``.  Data files never change, so
a row never goes stale: a build appends rows only for the live files the
store lacks, and a reader serves the rows of the files it needs.  This
module owns everything the planes share — the directory layout, the
existence probe, the "which live files are missing" step, the one read
of a store's rows and the GC rewrite — so the builders (analyze.py,
bloom.py) keep only their per-file aggregation.  It is the Puffin idea
(one container for per-file sketches,
https://iceberg.apache.org/puffin-spec/) on the existing on-disk format.

Layout — ``fid`` is a field id (rename-safe: a new column reusing a
dropped name never sees the old column's rows), ``<type>`` the field's
current engine type (xxhash64 is not stable across int->long promotion,
so promotion orphans a hashed store instead of mis-pruning with it):

=========  =============================================  ==================================
kind       directory                                      rows
=========  =============================================  ==================================
hll        stats/<fid>                                    file_path, sketch
kmv        stats_kmv/<fid>/k=<k>                          file_path, h (NULL: no values)
dict       stats_dict/<fid>                               file_path, values
bloom      stats_bloom/<fid>_<type>                       file_path, nbits, k, bits
hist       stats_hist/<fid>                               file_path, values, counts,
                                                          null_count
topk       stats_topk/<fid>_m<m>                          file_path, values, counts,
                                                          rest_cap, other_total
sample     stats_sample/<fid>[_g<gid>]_<k>[_s<md5>]       file_path, [g,] h, value, pos,
                                                          n_nonnull
dict_pair  stats_dict_pair/<lo>_<hi>__<type lo>_<type hi> file_path, values (pair hashes)
=========  =============================================  ==================================

``values`` arrays are sorted; NULL marks an over-cap file (recorded so
it is never rescanned, it never prunes or folds) and an EMPTY array a
file with no non-null value.  ``<md5>`` is the first 8 hex digits of
md5(salt) for a non-default sample salt.

Duplicates: nothing locks between a build's read of the covered files
and its append, so two builders (e.g. racing ``stats.auto`` appends)
can both write one file's rows.  Every plane's rows are a deterministic
function of the immutable file except the HLL sketch bytes, whose merge
(hll_union) is idempotent — so `rows` drops duplicate rows once, here,
and every consumer reads through it.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from typing import Callable, NamedTuple

SAMPLE_SALT = "v1"


def _typed(schema, fid) -> str:
    t = next((f.type for f in schema.fields if f.field_id == fid), None)
    return f"{fid}_{t}" if isinstance(t, str) else str(fid)


def _pair(schema, lo, hi) -> str:
    t = {f.field_id: f.type for f in schema.fields}
    return f"{lo}_{hi}__{t.get(lo, 'x')}_{t.get(hi, 'x')}"


def _sample(schema, fid, gid=None, k=None, salt=SAMPLE_SALT) -> str:
    leaf = f"{fid}_{k}" if gid is None else f"{fid}_g{gid}_{k}"
    if salt != SAMPLE_SALT:
        leaf += "_s" + hashlib.md5(salt.encode()).hexdigest()[:8]
    return leaf


class Kind(NamedTuple):
    subdir: str
    leaf: Callable  # (schema, *field ids, **params) -> leaf path
    # DESCRIBE decoding of a top-level dir name: field id ``f``, second
    # field id ``g`` (joined by ``sep``), shown parameter ``p``
    decode: str
    sep: str = ""
    auto: str = ""  # stats.auto spelling
    builder: str = ""  # "<catalog module>.<function>" stats.auto calls


def _plain(schema, fid) -> str:
    return str(fid)


KINDS = {
    "hll": Kind("stats", _plain, r"(?P<f>\d+)"),
    "kmv": Kind("stats_kmv", lambda s, fid, k: os.path.join(str(fid),
                                                            f"k={k}"),
                r"(?P<f>\d+)", auto="kmv",
                builder="analyze.analyze_table_kmv"),
    "dict": Kind("stats_dict", _plain, r"(?P<f>\d+)", auto="dict",
                 builder="analyze.analyze_dictionary"),
    "bloom": Kind("stats_bloom", _typed, r"(?P<f>\d+)(_.*)?", auto="bloom",
                  builder="bloom.analyze_bloom"),
    "hist": Kind("stats_hist", _plain, r"(?P<f>\d+)", auto="hist",
                 builder="analyze.analyze_histogram"),
    "topk": Kind("stats_topk", lambda s, fid, m: f"{fid}_m{m}",
                 r"(?P<f>\d+)_m(?P<p>\d+)", auto="topk",
                 builder="analyze.analyze_topk"),
    "sample": Kind("stats_sample", _sample,
                   r"(?P<f>\d+)(_g(?P<g>\d+))?_(?P<p>\d+)(_s[0-9a-f]+)?",
                   sep="@", auto="sample", builder="analyze.analyze_sample"),
    "dict_pair": Kind("stats_dict_pair", _pair, r"(?P<f>\d+)_(?P<g>\d+)__.*",
                      sep="+", auto="dictpair",
                      builder="analyze.analyze_dictionary_pair"),
}


def paths_frame(spark, paths):
    """One ``file_path`` row per distinct path (a join side: at 1M
    files an ``isin`` literal list is a codegen bomb, a parallelized
    frame joins fine and AQE broadcasts it when small)."""
    return spark.createDataFrame([(p,) for p in sorted(set(paths))],
                                 "file_path string")


class FileStatsStore:
    """The rows of one plane for one key (kind, field ids, params)."""

    def __init__(self, table, path: str):
        self.table = table
        self.path = path

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            p.endswith(".parquet") for p in os.listdir(self.path))

    def rows(self, paths=None):
        """The store's rows with duplicate rows dropped, or None when
        there is no store.  ``paths`` — file paths, or a DataFrame keyed
        by ``file_path`` whose other columns join on — keeps only those
        files' rows."""
        if not self.exists():
            return None
        spark = self.table.spark
        df = spark.read.parquet(self.path)
        if paths is not None:
            if not hasattr(paths, "schema"):
                paths = paths_frame(spark, paths)
            df = df.join(paths, "file_path")
        return df.dropDuplicates()

    def cover(self, paths, where=None):
        """``(rows, covered)``: `rows` of ``paths`` (filtered by
        ``where``) and the set of those paths that have a row."""
        rows = self.rows(paths)
        if rows is None:
            return None, set()
        if where is not None:
            rows = rows.where(where)
        return rows, {r["file_path"] for r in
                      rows.select("file_path").distinct().collect()}

    def missing(self, live) -> list:
        """Sorted live paths with no row in the store."""
        have = set()
        if self.exists():
            have = {r["file_path"] for r in
                    self.table.spark.read.parquet(self.path)
                    .select("file_path").distinct().collect()}
        return sorted(set(live) - have)

    def build(self, entries, make) -> int:
        """Append ``make(todo)`` — the rows of the live ``entries``' files
        missing from the store — and return how many files that was."""
        todo = self.missing(e.data_file.file_path for e in entries)
        if todo:
            make(todo).write.mode("append").parquet(self.path)
        return len(todo)

    def retain(self, valid, dry_run: bool = False) -> int:
        """GC: keep only rows whose file_path is in the ``valid`` frame
        and return the number of rows dropped.  The rewrite swaps whole
        directories, so a crash loses at most this advisory store."""
        df = self.rows()
        if df is None or "file_path" not in df.columns:
            return 0
        n_all = df.count()
        kept = df.join(valid, "file_path", "left_semi")
        dropped = n_all - kept.count()
        if not dropped or dry_run:
            return dropped
        tmp = self.path + ".vacuum_tmp"
        old = self.path + ".vacuum_old"
        # a prior run that died between renames leaves tmp/old dirs that
        # would fail this swap's renames — both are rebuildable copies
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        kept.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)
        return dropped


def store(table, kind: str, *fids, **params) -> FileStatsStore:
    """The ``kind`` store keyed by ``fids`` and ``params`` (see the
    layout table above)."""
    k = KINDS[kind]
    return FileStatsStore(table, os.path.join(
        table.location, k.subdir, k.leaf(table.schema, *fids, **params)))


def planted(table, *kinds) -> bool:
    """Whether any of ``kinds`` has a directory under the table — one
    ``isdir`` per kind, no listing (the plan-time gate)."""
    return any(os.path.isdir(os.path.join(table.location, KINDS[k].subdir))
               for k in kinds)


def leaves(table) -> list:
    """Every store directory holding rows, across all kinds.  Leftover
    ``.vacuum_tmp`` / ``.vacuum_old`` dirs of a crashed GC are skipped."""
    out = []
    for k in KINDS.values():
        for sub, dirs, files in os.walk(os.path.join(table.location,
                                                     k.subdir)):
            dirs[:] = sorted(x for x in dirs
                             if not x.endswith((".vacuum_tmp",
                                                ".vacuum_old")))
            if any(f.endswith(".parquet") for f in files):
                out.append(FileStatsStore(table, sub))
    return out


def describe(table) -> list:
    """``label:entries`` per kind present (directory names only, zero
    store I/O) — each entry the column name (raw field id once dropped),
    ``a+b`` / ``x@group`` for two-field keys and ``(p)`` for a shown
    parameter."""
    def name(fid):
        return table.schema.name_for_id(int(fid)) or fid

    out = []
    for label, k in KINDS.items():
        base = os.path.join(table.location, k.subdir)
        if not os.path.isdir(base):
            continue
        names = []
        for n in sorted(os.listdir(base)):
            m = re.fullmatch(k.decode, n)
            if m is None:
                continue
            d = m.groupdict()
            names.append(name(d["f"])
                         + (k.sep + name(d["g"]) if d.get("g") else "")
                         + (f"({d['p']})" if d.get("p") else ""))
        out.append(f"{label}:{','.join(names)}")
    return out


def auto_analyze(table, spec: str) -> None:
    """Run the builders a ``stats.auto`` property names, e.g.
    ``kmv:user_id,doc_id;dict:lang;sample:len@lang;dictpair:a+b`` —
    sample spells its group column with ``@``, dictpair its two columns
    with ``+``."""
    import importlib
    by_auto = {k.auto: k for k in KINDS.values() if k.auto}
    for part in spec.split(";"):
        kind, _, cols = part.partition(":")
        k = by_auto.get(kind.strip().lower())
        if k is None:
            continue
        mod, fn = k.builder.split(".")
        build = getattr(importlib.import_module(
            "linkedin_iceberg_spark.catalog." + mod), fn)
        for c in (c.strip() for c in cols.split(",")):
            if not c:
                continue
            if k.sep == "+":
                pair = [p.strip() for p in c.split("+") if p.strip()]
                if len(pair) == 2:
                    build(table, pair)
            elif k.sep == "@":
                col, _, grp = c.partition("@")
                build(table, col.strip(), group_col=grp.strip() or None)
            elif k is KINDS["kmv"]:  # the one list-taking builder
                build(table, [c])
            else:
                build(table, c)
