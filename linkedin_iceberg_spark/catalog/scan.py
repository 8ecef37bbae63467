"""TableScan: immutable, refinable scan with two-level metadata pruning.

ref: api/.../TableScan.java:33-130 (refinement API), core/.../BaseTableScan.java:202-220
(planFiles), ManifestGroup.java:201-261 (manifest-list pruning -> manifest-entry
filtering), api/.../expressions/ManifestEvaluator.java:50-74 (level 1),
InclusiveMetricsEvaluator (level 2).

Planning is O(metadata): level 1 drops whole manifests via partition-range
summaries; level 2 drops files via partition tuples + column min/max/null
stats.  Data execution is a plain ``spark.read.parquet(*paths)`` with the
full filter re-applied as a Spark Column (residual re-application is always
correct; ref: ResidualEvaluator is a perf nicety we skip) — so Catalyst
still does parquet row-group pruning, column pruning, and codegen on top.
"""

from __future__ import annotations

import json
import math
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog import manifests as M
from linkedin_iceberg_spark.catalog import plan_vectorized as PV
from linkedin_iceberg_spark.catalog import stats_store as S
from linkedin_iceberg_spark.catalog.cache import BoundedCache, file_signature
from linkedin_iceberg_spark.catalog.metadata import TableMetadata
from linkedin_iceberg_spark.expressions import (
    Evaluator,
    Expression,
    InclusiveMetricsEvaluator,
    always_true,
    and_,
    bind,
    inclusive_projection,
    to_spark_column,
)
from linkedin_iceberg_spark.expressions.expressions import (
    AlwaysFalse,
    AlwaysTrue,
    And,
    Not,
    Operation,
    Or,
    Predicate,
    Reference,
    TransformTerm,
    rewrite_not,
)
from linkedin_iceberg_spark.expressions.residuals import ResidualEvaluator
from linkedin_iceberg_spark.schema import Schema, type_to_spark

PLAN_PARALLELISM = 8  # manifest read pool (ref: ManifestGroup.java:182-186)


class _SummaryEvaluator:
    """Evaluate a projected partition predicate against manifest
    partition-field summaries (ref: ManifestEvaluator.java:50-74)."""

    def __init__(self, part_expr: Expression):
        self.expr = rewrite_not(part_expr)

    def eval(self, summaries: dict) -> bool:
        return self._eval(self.expr, summaries)

    def _eval(self, e, s) -> bool:
        if isinstance(e, AlwaysTrue):
            return True
        if isinstance(e, AlwaysFalse):
            return False
        if isinstance(e, And):
            return self._eval(e.left, s) and self._eval(e.right, s)
        if isinstance(e, Or):
            return self._eval(e.left, s) or self._eval(e.right, s)
        if isinstance(e, Not):
            return True  # conservative
        assert isinstance(e, Predicate)
        name = e.term.name if isinstance(e.term, Reference) else \
            getattr(e.term, "name", None)
        if name is None or name not in s:
            return True
        fs = s[name]
        lo, hi, has_null = fs.get("lower"), fs.get("upper"), fs.get("contains_null")
        op, v = e.op, e.literal
        if op == Operation.IS_NULL:
            return bool(has_null)
        if op == Operation.NOT_NULL:
            return not (has_null and lo is None and hi is None)
        if lo is None or hi is None:
            return False  # only nulls present -> value predicates can't match
        if op == Operation.LT:
            return lo < v
        if op == Operation.LT_EQ:
            return lo <= v
        if op == Operation.GT:
            return hi > v
        if op == Operation.GT_EQ:
            return hi >= v
        if op == Operation.EQ:
            return lo <= v <= hi
        if op == Operation.NOT_EQ:
            return True
        if op == Operation.IN:
            return any(lo <= x <= hi for x in e.literals)
        if op == Operation.NOT_IN:
            return True
        if op == Operation.STARTS_WITH:
            p = e.literal
            if isinstance(lo, str) and lo[: len(p)] > p:
                return False
            if isinstance(hi, str) and hi[: len(p)] < p:
                return False
            return True
        return True


class FileScanTask:
    """ref: api/.../FileScanTask.java — file + residual + deletes.

    ``residual`` is the per-file residual filter (ResidualEvaluator.java:
    52-118): None means "apply the scan's full filter" (callers that plan
    without residuals); AlwaysTrue means no row filter is needed at all."""

    def __init__(self, data_file, deletes=None, sequence_number: int = 0,
                 residual=None):
        self.file = data_file
        self.deletes = deletes or []
        self.sequence_number = sequence_number
        self.residual = residual

    def __repr__(self):
        return (f"FileScanTask({self.file.file_path}, "
                f"deletes={len(self.deletes)}, residual={self.residual!r})")


class TableScan:
    """Immutable refinement (each with_* returns a new scan)."""

    def __init__(self, table, row_filter: Optional[Expression] = None,
                 selected: Optional[list] = None,
                 snapshot_id: Optional[int] = None):
        self.table = table
        self.row_filter = row_filter
        self.selected = selected
        self.snapshot_id = snapshot_id

    def _copy(self, **kw) -> "TableScan":
        args = {"row_filter": self.row_filter, "selected": self.selected,
                "snapshot_id": self.snapshot_id}
        args.update(kw)
        return TableScan(self.table, **args)

    def filter(self, expr: Expression) -> "TableScan":
        combined = expr if self.row_filter is None else \
            and_(self.row_filter, expr)
        return self._copy(row_filter=combined)

    def select(self, cols: list) -> "TableScan":
        return self._copy(selected=list(cols))

    def use_snapshot(self, snapshot_id: int) -> "TableScan":
        if self.table.metadata.snapshot_by_id(snapshot_id) is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        return self._copy(snapshot_id=snapshot_id)

    def use_ref(self, name: str) -> "TableScan":
        """Pin the scan to a NAMED reference (tag) — time travel by name
        instead of raw snapshot id (ref: the SnapshotRef plane;
        `main` resolves to the current lineage head)."""
        md = self.table.metadata
        if name == "main":
            if md.current_snapshot_id is None:
                raise ValueError("table has no current snapshot")
            return self._copy(snapshot_id=md.current_snapshot_id)
        if name not in md.refs:
            raise ValueError(f"unknown ref {name!r}; known: "
                             f"{sorted(md.refs) + ['main']}")
        return self.use_snapshot(md.refs[name])

    def as_of_time(self, timestamp_ms: int) -> "TableScan":
        snap = self.table.metadata.snapshot_as_of(timestamp_ms)
        if snap is None:
            raise ValueError(f"no snapshot as of {timestamp_ms}")
        return self._copy(snapshot_id=snap.snapshot_id)

    def count_rows(self) -> int:
        """COUNT(*) with the metadata short-circuit (ref: the manifests'
        record_count the reference aggregates in ScanSummary / the
        engine-side count pushdown of SparkScan): a file whose task
        carries no pending deletes and whose residual proves EVERY row
        matches (AlwaysTrue — or no row filter at all) contributes its
        manifest record_count without being read.  Only the remaining
        files (partial matches, delete-laden) are scanned and counted.

        At 100 TB this turns full-table and partition-aligned counts
        into pure metadata operations — O(manifest entries) driver work,
        zero data I/O — and degrades gracefully to reading exactly the
        undecidable files."""
        tasks = self.plan_files()
        fast_total = 0
        slow: list = []
        for t in tasks:
            decided = self.row_filter is None or \
                isinstance(t.residual, AlwaysTrue)
            if decided and not t.deletes and \
                    t.file.record_count is not None:
                fast_total += t.file.record_count
            else:
                slow.append(t)
        if slow:
            fast_total += self._to_df_default(tasks=slow).count()
        return fast_total

    def count_rows_grouped(self, group_cols: list) -> dict:
        """GROUP BY <identity-partition columns> COUNT(*) with the
        metadata short-circuit (the per-partition record-count fold the
        reference surfaces through its partitions metadata table, as a
        grouped aggregate): a delete-free, residual-decided file whose
        spec identity-partitions on EVERY group column contributes its
        manifest record_count to that partition value's group — zero
        data I/O.  Everything else (partial residuals, deletes, files
        written under a spec that doesn't identity-partition a group
        column, types whose partition-value encoding differs from the
        scanned value) is actually read and folded in, so the result is
        exact under any history.

        Returns {tuple(group values): count}; NULL partition values
        group as None, matching SQL GROUP BY."""
        types = {f.name: f.type for f in self.table.schema.fields}
        # fast-path only the types whose manifest partition value is
        # byte-identical to the scanned value (dates/timestamps encode
        # differently in partition JSON; floats have NaN trouble)
        exact = all(isinstance(types.get(c), str)
                    and types[c] in self._GROUPABLE_TYPES
                    for c in group_cols)
        counts: dict = {}
        slow: list = []
        spec_map: dict = {}
        for t in self.plan_files():
            decided = self.row_filter is None or \
                isinstance(t.residual, AlwaysTrue)
            key = self._group_key_from_metadata(t, group_cols, spec_map) \
                if exact else None
            if exact and decided and not t.deletes \
                    and t.file.record_count is not None \
                    and key is not None:
                counts[key] = counts.get(key, 0) + t.file.record_count
            else:
                slow.append(t)
        if slow and exact and len(group_cols) == 1:
            # second metadata chance: files the spec cannot decide may
            # still carry a persisted per-file HISTOGRAM of the group
            # column (analyze_histogram) — counts are additive, so
            # covered delete-free decided files fold from the store and
            # only the remainder is read (the KMV-style per-file
            # degradation, for plain counting)
            eligible = sorted({
                t.file.file_path for t in slow
                if (self.row_filter is None or
                    isinstance(t.residual, AlwaysTrue))
                and not t.deletes})
            if eligible:
                from linkedin_iceberg_spark.catalog import analyze as AN
                folded, covered = AN.histogram_fold(
                    self.table, group_cols[0], eligible)
                if covered:
                    for v, n in folded.items():
                        counts[(v,)] = counts.get((v,), 0) + n
                    slow = [t for t in slow
                            if t.file.file_path not in covered]
        if slow:
            for r in (self._to_df_default(tasks=slow)
                      .groupBy(*group_cols).count().collect()):
                key = tuple(r[c] for c in group_cols)
                counts[key] = counts.get(key, 0) + r["count"]
        return counts

    def _group_key_from_metadata(self, task, group_cols: list,
                                 spec_map: dict):
        """Identity-partition values for `group_cols` of one task's
        file, or None when any column isn't identity-partitioned under
        that file's spec."""
        sid = task.file.spec_id
        if sid not in spec_map:
            spec_map[sid] = {
                pf.source_name: pf.name
                for pf in self.table.metadata.spec_by_id(sid).fields
                if pf.transform_str == "identity"}
        part = task.file.partition or {}
        vals = []
        for c in group_cols:
            pn = spec_map[sid].get(c)
            if pn is None or pn not in part:
                return None
            vals.append(part[pn])
        return tuple(vals)

    _GROUPABLE_TYPES = ("int", "long", "string", "boolean")

    def _bound_exactness(self, col: str):
        """Per-side predicates deciding whether a stored file bound IS
        the column's exact min/max in that file: ``(lo_ok, hi_ok)``,
        each a callable(bound)->bool or None (side never foldable).

        - integrals/decimals/dates/timestamps/booleans: both exact.
        - float/double: LOWER is exact (the stats collector drops NaN
          bounds, and parquet writers exclude NaN from stats; Spark's
          min ignores NaN whenever any non-NaN value exists — and an
          all-NaN file stores no bounds at all, falling to the read
          path).  UPPER is never foldable: Spark orders NaN LARGEST,
          so one unrecorded NaN would beat any finite stored bound.
        - string: bounds are truncated by the metrics mode (reference
          default truncate(16), MetricsModes.java:34-96), so a bound is
          provably exact only when STRICTLY SHORTER than the truncation
          length (truncate of a shorter string is the identity; a
          bound AT the length is ambiguous).  The effective length is
          min(resolved mode length, 16) so bounds written under an
          older default-16 history stay sound even if the mode was
          later widened or set to full — the same current-mode gate the
          reference's aggregate pushdown applies."""
        from linkedin_iceberg_spark.catalog.stats import (
            TRUNCATE_LEN, _parse_metrics_mode)
        f = next((f for f in self.table.schema.fields if f.name == col),
                 None)
        t = f.type if f is not None else None
        if not isinstance(t, str):
            return None, None
        if t in ("int", "long", "date", "boolean") or \
                t.startswith(("decimal", "timestamp")):
            return (lambda b: True), (lambda b: True)
        if t in ("float", "double"):
            return (lambda b: True), None
        if t == "string":
            props = self.table.properties
            mode = props.get(f"write.metadata.metrics.column.{col}",
                             props.get("write.metadata.metrics.default",
                                       "truncate(16)"))
            kind, tl = _parse_metrics_mode(mode)
            if kind != "bounds":
                return None, None
            n_eff = min(tl, TRUNCATE_LEN) if tl is not None \
                else TRUNCATE_LEN
            ok = (lambda b: isinstance(b, str) and len(b) < n_eff)
            return ok, ok
        return None, None

    def agg_minmax_grouped(self, group_cols: list, col: str,
                           sides: tuple = ("lo", "hi")) -> dict:
        """GROUP BY <identity-partition columns> MIN/MAX(col) with the
        file-bounds short-circuit (the grouped sibling of agg_minmax):
        a delete-free, residual-decided file whose stored bound is
        provably the file's EXACT min/max (_bound_exactness — includes
        short strings and float lower bounds) contributes it to its
        partition group; each side degrades independently, so a float
        column folds its MIN from metadata while only the MAX pays a
        read.  ``sides`` restricts the work to the requested sides
        (a min-only caller must not pay the max side's read); the
        unrequested side returns None.  Returns
        {tuple(group values): (lo, hi)}."""
        from pyspark.sql import functions as F

        need_lo, need_hi = "lo" in sides, "hi" in sides
        types = {f.name: f.type for f in self.table.schema.fields}
        fid = self.table.schema.id_for_name(col)
        gexact = all(isinstance(types.get(c), str)
                     and types[c] in self._GROUPABLE_TYPES
                     for c in group_cols)
        lo_ok, hi_ok = self._bound_exactness(col) if gexact \
            else (None, None)
        # float MAX normally never folds (an unrecorded NaN beats any
        # finite bound), EXCEPT per file with an explicitly recorded
        # ZERO NaN count (the DataSource write path computes them from
        # its Arrow batches — footer-only files stay unknown and read)
        is_float = gexact and types.get(col) in ("float", "double")
        out_lo: dict = {}
        out_hi: dict = {}
        slow_lo: list = []
        slow_hi: list = []
        spec_map: dict = {}
        for t in self.plan_files():
            decided = self.row_filter is None or \
                isinstance(t.residual, AlwaysTrue)
            lb = (t.file.lower_bounds or {}).get(fid)
            ub = (t.file.upper_bounds or {}).get(fid)
            key = self._group_key_from_metadata(t, group_cols, spec_map) \
                if gexact else None
            base = gexact and decided and not t.deletes and key is not None
            if need_lo:
                if base and lb is not None and lo_ok is not None \
                        and lo_ok(lb):
                    cur = out_lo.get(key)
                    out_lo[key] = lb if cur is None or lb < cur else cur
                else:
                    slow_lo.append(t)
            if need_hi:
                hi_exact = (hi_ok is not None and hi_ok(ub)) if ub is not \
                    None else False
                if not hi_exact and is_float and ub is not None and \
                        (t.file.nan_value_counts or {}).get(fid) == 0:
                    hi_exact = True  # provably NaN-free file
                if base and ub is not None and hi_exact:
                    cur = out_hi.get(key)
                    out_hi[key] = ub if cur is None or ub > cur else cur
                else:
                    slow_hi.append(t)

        def scan_fold(tasks, fn, alias, into, better):
            for r in (self._to_df_default(tasks=tasks)
                      .groupBy(*group_cols)
                      .agg(fn(col).alias(alias)).collect()):
                key = tuple(r[c] for c in group_cols)
                v = r[alias]
                cur = into.get(key)
                if key not in into:
                    into[key] = v
                elif v is not None and (cur is None or better(v, cur)):
                    into[key] = v

        same = {id(t) for t in slow_lo} == {id(t) for t in slow_hi}
        def hi_better(v, cur):
            # Spark orders NaN LARGEST; python NaN comparisons are all
            # False, so an explicit check keeps a scanned NaN winning
            return (isinstance(v, float) and math.isnan(v)) or v > cur

        if slow_lo and same:
            # both sides read the same files: one combined scan
            for r in (self._to_df_default(tasks=slow_lo)
                      .groupBy(*group_cols)
                      .agg(F.min(col).alias("_lo"),
                           F.max(col).alias("_hi")).collect()):
                key = tuple(r[c] for c in group_cols)
                slo, shi = r["_lo"], r["_hi"]
                cur = out_lo.get(key)
                if key not in out_lo:
                    out_lo[key] = slo
                elif slo is not None and (cur is None or slo < cur):
                    out_lo[key] = slo
                cur = out_hi.get(key)
                if key not in out_hi:
                    out_hi[key] = shi
                elif shi is not None and (cur is None or
                                          hi_better(shi, cur)):
                    out_hi[key] = shi
        else:
            if slow_lo:
                scan_fold(slow_lo, F.min, "_lo", out_lo,
                          lambda v, cur: v < cur)
            if slow_hi:
                scan_fold(slow_hi, F.max, "_hi", out_hi, hi_better)
        return {k: (out_lo.get(k), out_hi.get(k))
                for k in set(out_lo) | set(out_hi)}

    def agg_minmax(self, col: str, sides: tuple = ("lo", "hi")) -> tuple:
        """(min, max) of a column with the file-stats short-circuit (the
        same discipline as count_rows, ref: Iceberg's SparkScan aggregate
        pushdown): when every task is delete-free, the filter decides
        every file (residual AlwaysTrue or no filter), and every file
        carries EXACT bounds for the column, the answer is the fold of
        manifest lower/upper bounds — zero data I/O.  Any undecidable
        task falls the whole aggregate back to a real scan (bounds of a
        partially-matching file may belong to filtered-out rows).

        Sides degrade independently (_bound_exactness): short string
        bounds (strictly under the truncation length) and float/double
        LOWER bounds are provably exact and fold from metadata; float
        upper bounds never fold (one unrecorded NaN would beat any
        finite bound under Spark's NaN-is-largest ordering), and
        truncated string bounds pay a read only on the affected side."""
        fid = self.table.schema.id_for_name(col)
        need_lo, need_hi = "lo" in sides, "hi" in sides
        lo_ok, hi_ok = self._bound_exactness(col)
        ftype = next((f.type for f in self.table.schema.fields
                      if f.field_id == fid), None)
        is_float = ftype in ("float", "double")
        tasks = self.plan_files()
        lo = hi = None
        slow_lo: list = []
        slow_hi: list = []
        for t in tasks:
            decided = self.row_filter is None or \
                isinstance(t.residual, AlwaysTrue)
            lb = (t.file.lower_bounds or {}).get(fid)
            ub = (t.file.upper_bounds or {}).get(fid)
            base = decided and not t.deletes
            if need_lo:
                if base and lb is not None and lo_ok is not None \
                        and lo_ok(lb):
                    lo = lb if lo is None or lb < lo else lo
                else:
                    slow_lo.append(t)
            if need_hi:
                hi_exact = (hi_ok is not None and hi_ok(ub)) if ub is not \
                    None else False
                if not hi_exact and is_float and ub is not None and \
                        (t.file.nan_value_counts or {}).get(fid) == 0:
                    hi_exact = True  # recorded-zero NaN count (DSv2 write)
                if base and ub is not None and hi_exact:
                    hi = ub if hi is None or ub > hi else hi
                else:
                    slow_hi.append(t)
        # hybrid: metadata bounds for the decided files, a real scan
        # ONLY over the undecidable ones, folded together per side
        def _hi_wins(v, cur):
            # Spark orders NaN LARGEST; python NaN comparisons are all
            # False, so a scanned NaN must win the fold explicitly
            return (isinstance(v, float) and math.isnan(v)) or v > cur

        if slow_lo and slow_lo == slow_hi:
            row = self._to_df_default(tasks=slow_lo) \
                .agg(F.min(col), F.max(col)).head()
            slo, shi = row[0], row[1]
            lo = slo if lo is None or (slo is not None and slo < lo) else lo
            hi = shi if hi is None or (shi is not None and
                                       _hi_wins(shi, hi)) else hi
        else:
            if slow_lo:
                slo = self._to_df_default(tasks=slow_lo) \
                    .agg(F.min(col)).head()[0]
                lo = slo if lo is None or (slo is not None and slo < lo) \
                    else lo
            if slow_hi:
                shi = self._to_df_default(tasks=slow_hi) \
                    .agg(F.max(col)).head()[0]
                hi = shi if hi is None or (shi is not None and
                                           _hi_wins(shi, hi)) else hi
        return lo, hi

    def approx_ndv(self, col: str, k: int = None) -> int:
        """Approximate COUNT(DISTINCT col) via the mergeable per-file KMV
        store (catalog/analyze.py): a task that is delete-free, fully
        decided by the filter (residual AlwaysTrue or no filter), and
        present in the store contributes its persisted bottom-k hashes
        WITHOUT being read; every other task's rows are hashed live with
        the same portable recipe.  Bottom-k sets merge exactly (the
        bottom-k of a union IS the bottom-k of the per-set bottom-ks), so
        the answer is IDENTICAL whichever mix of store and live hashing
        served it — store coverage only changes data I/O, never the value.
        Exact (not approximate) whenever the true NDV is under k.

        This is the engine-defined semantics of approx_count_distinct in
        Catalog.sql: deterministic and replayable by an external SQL
        oracle, unlike HLL++ whose estimate is engine-private."""
        from linkedin_iceberg_spark.catalog import analyze as AN
        if k is None:
            k = AN.KMV_DEFAULT_K
        return AN.kmv_estimate(self._kmv_bottomk(col, k), k)

    def _kmv_bottomk(self, col: str, k: int) -> list:
        """The scan's merged bottom-k hash list behind approx_ndv (and
        the table-overlap audit): store-served for covered decided
        delete-free files, live-hashed with the same recipe for the
        rest."""
        from linkedin_iceberg_spark.catalog import analyze as AN
        fid = self.table.schema.id_for_name(col)
        if fid is None:
            raise ValueError(f"no such column {col!r}")
        fast, slow = [], []
        for t in self.plan_files():
            decided = self.row_filter is None or \
                isinstance(t.residual, AlwaysTrue)
            (fast if decided and not t.deletes else slow).append(t)
        frames = []
        covered: set = set()
        if fast:
            store, covered = S.store(self.table, "kmv", fid, k=k).cover(
                t.file.file_path for t in fast)
            if store is not None:
                frames.append(store.select("h"))
        live_fast = [t.file.file_path for t in fast
                     if t.file.file_path not in covered]
        if live_fast:
            # schema-aware live hash (analyze.column_source): a
            # current-name read nulls out pre-rename files' values,
            # silently undercounting NDV until the store covers them
            frames.append(AN.column_source(self.table, col, live_fast)
                          .select(AN._kmv_hash("v").alias("h")))
        if slow:
            frames.append(self._to_df_default(tasks=slow)
                          .select(AN._kmv_hash(col).alias("h")))
        if not frames:
            return []
        return [r["h"] for r in
                AN._union(frames).where(F.col("h").isNotNull()).distinct()
                .orderBy("h").limit(k).collect()]

    def exact_ndv_from_dict(self, col: str):
        """EXACT COUNT(DISTINCT col) from the dictionary store
        (analyze_dictionary), zero data I/O — or None when the store
        cannot prove it: the per-file value sets are exact, so when
        every surviving task is delete-free, fully decided by the
        filter, and covered by a non-overflow dictionary entry, the
        distinct count is |union of the sets| — not an estimate.  Any
        gap (uncovered file, overflow marker, pending deletes, partial
        residual) returns None and the caller takes the real scan."""
        fid = self.table.schema.id_for_name(col)
        if fid is None:
            raise ValueError(f"no such column {col!r}")
        store = S.store(self.table, "dict", fid)
        if not store.exists():
            return None
        tasks = self.plan_files()
        for t in tasks:
            decided = self.row_filter is None or \
                isinstance(t.residual, AlwaysTrue)
            if not decided or t.deletes:
                return None
        if not tasks:
            return 0
        # coverage/overflow gate first, then the exact set union
        rows, covered = store.cover([t.file.file_path for t in tasks],
                                    where=F.col("values").isNotNull())
        if len(covered) < len(tasks):
            return None
        return (rows.select(F.explode("values").alias("v"))
                .agg(F.count_distinct("v")).head()[0] or 0)

    def exact_ndv_from_dict_grouped(self, group_cols: list, col: str):
        """GROUP BY <identity-partition columns> count(DISTINCT col)
        from the dictionary store — {key: exact count} when EVERY task
        is delete-free, residual-decided, identity-partitioned on the
        group columns, and covered by a non-overflow entry; None on any
        gap (exactness is all-or-nothing, unlike the mergeable KMV
        estimate which degrades per file)."""
        from pyspark.sql import types as ST

        fid = self.table.schema.id_for_name(col)
        if fid is None:
            raise ValueError(f"no such column {col!r}")
        store = S.store(self.table, "dict", fid)
        if not store.exists():
            return None
        types = {f.name: f.type for f in self.table.schema.fields}
        if not all(isinstance(types.get(c), str)
                   and types[c] in self._GROUPABLE_TYPES
                   for c in group_cols):
            return None
        tasks = self.plan_files()
        spec_map: dict = {}
        keys: dict = {}
        for t in tasks:
            decided = self.row_filter is None or \
                isinstance(t.residual, AlwaysTrue)
            key = self._group_key_from_metadata(t, group_cols, spec_map)
            if not decided or t.deletes or key is None:
                return None
            keys[t.file.file_path] = key
        if not keys:
            return {}
        spark = self.table.spark
        sfields = {f.name: f.dataType
                   for f in self.table.schema.to_spark().fields}
        key_schema = ST.StructType(
            [ST.StructField("file_path", ST.StringType(), False)] +
            [ST.StructField(c, sfields[c], True) for c in group_cols])
        keys_df = spark.createDataFrame(
            [(p, *k) for p, k in sorted(keys.items())], key_schema)
        rows, covered = store.cover(keys_df,
                                    where=F.col("values").isNotNull())
        if len(covered) < len(keys):
            return None
        rows = (rows.select(*group_cols,
                             F.explode("values").alias("v"))
                .groupBy(*group_cols)
                .agg(F.count_distinct("v").alias("_d")).collect())
        out = {tuple(r[c] for c in group_cols): r["_d"] for r in rows}
        for key in keys.values():  # all-NULL groups count 0
            out.setdefault(key, 0)
        return out

    def approx_ndv_grouped(self, group_cols: list, col: str,
                           k: int = None) -> dict:
        """GROUP BY <identity-partition columns> approx_count_distinct
        with the KMV-store short-circuit (the grouped sibling of
        approx_ndv): a delete-free, residual-decided, store-covered
        file whose spec identity-partitions on every group column
        contributes its persisted bottom-k hashes to that partition
        value's group — zero data I/O; everything else is read and
        hashed live with the same portable recipe.  Per-group bottom-k
        sets merge exactly, so the answer is identical under any
        store/live mix.  Driver work after the one Spark job is
        O(groups): each group collapses to (m, h_k) before collection.

        Returns {tuple(group values): estimate} (groups with no
        non-null values of `col` estimate 0)."""
        from pyspark.sql import types as ST
        from pyspark.sql.window import Window as SW

        from linkedin_iceberg_spark.catalog import analyze as AN
        if k is None:
            k = AN.KMV_DEFAULT_K
        if self.table.schema.id_for_name(col) is None:
            raise ValueError(f"no such column {col!r}")
        spark = self.table.spark
        types = {f.name: f.type for f in self.table.schema.fields}
        exact = all(isinstance(types.get(c), str)
                    and types[c] in self._GROUPABLE_TYPES
                    for c in group_cols)
        fast: dict = {}  # file_path -> group key tuple
        slow: list = []
        spec_map: dict = {}
        for t in self.plan_files():
            decided = self.row_filter is None or \
                isinstance(t.residual, AlwaysTrue)
            key = self._group_key_from_metadata(t, group_cols, spec_map) \
                if exact else None
            if exact and decided and not t.deletes and key is not None:
                fast[t.file.file_path] = key
            else:
                slow.append(t)
        sfields = {f.name: f.dataType
                   for f in self.table.schema.to_spark().fields}
        key_schema = ST.StructType(
            [ST.StructField("file_path", ST.StringType(), False)] +
            [ST.StructField(c, sfields[c], True) for c in group_cols])
        frames = []
        covered: set = set()
        if fast:
            store, covered = S.store(
                self.table, "kmv", self.table.schema.id_for_name(col), k=k
            ).cover(spark.createDataFrame(
                [(p, *key) for p, key in sorted(fast.items())], key_schema))
            if store is not None:
                frames.append(store.select(*group_cols, "h"))
        live_fast = [p for p in fast if p not in covered]
        if live_fast:
            # schema-aware live hash; group-key values come from the
            # MANIFEST partition tuples (fast[p]), never a by-name read
            # of possibly-renamed group columns
            lf = sorted(live_fast)
            lf_keys = spark.createDataFrame(
                [(p, *fast[p]) for p in lf], key_schema)
            frames.append(
                AN.column_source(self.table, col, lf)
                .join(lf_keys, "file_path")
                .select(*group_cols, AN._kmv_hash("v").alias("h")))
        if slow:
            frames.append(self._to_df_default(tasks=slow)
                          .select(*group_cols,
                                  AN._kmv_hash(col).alias("h")))
        if not frames:
            return {}
        w = SW.partitionBy(*group_cols).orderBy("h")
        summary = (AN._union(frames).where(F.col("h").isNotNull()).distinct()
                   .withColumn("_rk", F.row_number().over(w))
                   .filter(F.col("_rk") <= k)
                   .groupBy(*group_cols)
                   .agg(F.count("*").alias("_m"), F.max("h").alias("_hk"))
                   .collect())
        out = {tuple(r[c] for c in group_cols):
               AN.kmv_estimate_mk(r["_m"], r["_hk"], k) for r in summary}
        # groups that exist but hold no non-null values estimate 0
        for key in fast.values():
            out.setdefault(key, 0)
        return out

    # ------------------------------------------------------------- planning
    def _snapshot(self):
        md = self.table.metadata
        if self.snapshot_id is not None:
            return md.snapshot_by_id(self.snapshot_id)
        # branch handles resolve their head here (Table.current_snapshot)
        return self.table.current_snapshot()

    def plan_files(self) -> list:
        """Two-level pruned list of FileScanTasks."""
        table = self.table
        md = table.metadata
        snap = self._snapshot()
        if snap is None:
            return []
        schema = md.schema
        bound = bind(schema, self.row_filter) if self.row_filter is not None \
            else always_true()

        # ref: BaseTableScan.java:209-210 ScanEvent emission at plan time
        from linkedin_iceberg_spark import events as EV
        EV.notify_all(EV.ScanEvent(table.name, snap.snapshot_id, bound,
                                   self.selected))

        # per-spec inclusive projections (ref: TableMetadata.specsById —
        # after partition evolution a snapshot's entries mix specs; each
        # file's partition tuple must be judged under ITS OWN spec, never
        # the default's, or old files get wrongly pruned)
        part_exprs = {s.spec_id: inclusive_projection(s, bound)
                      for s in md.bound_specs()}
        part_evals = {sid: Evaluator(pe) for sid, pe in part_exprs.items()}
        summary_evals = [_SummaryEvaluator(pe) for pe in part_exprs.values()]

        # level 1: manifest-list pruning via partition summaries — a
        # manifest survives if ANY spec's projection might match (each
        # evaluator is already conservative for field names it can't see)
        infos = M.read_manifest_list(
            table.ops.new_metadata_path(snap.manifest_list),
            md.all_partition_types())
        live = [i for i in infos
                if (i.added_files_count + i.existing_files_count) > 0]
        pruned = [i for i in live
                  if any(ev.eval(i.partition_summaries)
                         for ev in summary_evals)]

        # level 2: read surviving manifests (parallel), filter entries
        types_by_id = {f.field_id: f.type for f in schema.fields
                       if isinstance(f.type, str)}
        ptypes = md.all_partition_types()
        metrics_eval = InclusiveMetricsEvaluator(bound)

        def read_one(info):
            return M.read_manifest_table(
                table.ops.new_metadata_path(info.manifest_path))

        if len(pruned) > 1:
            with ThreadPoolExecutor(max_workers=PLAN_PARALLELISM) as pool:
                tables = list(pool.map(read_one, pruned))
        else:
            tables = [read_one(i) for i in pruned]

        default_eval = part_evals[md.default_spec_id]
        total_rows = sum(t.num_rows for t in tables)
        if total_rows >= PV.VECTORIZED_THRESHOLD:
            # columnar pass (SURVEY M3): partition + metrics predicates over
            # manifest column vectors, entries materialized only for
            # survivors — Python-per-entry cost at ~10^6 entries is the one
            # driver-side scale weakness the per-entry loop has
            data_entries, delete_entries = PV.filter_entries(
                tables, bound, part_evals, default_eval, types_by_id, ptypes)
        else:
            data_entries, delete_entries = [], []
            for t in tables:
                for e in M.entries_from_table(t, types_by_id, ptypes):
                    if e.status == M.STATUS_DELETED:
                        continue
                    if e.data_file.content == M.CONTENT_DATA:
                        pe = part_evals.get(e.data_file.spec_id, default_eval)
                        if pe.eval(e.data_file.partition) and \
                                metrics_eval.eval(e.stats_dict()):
                            data_entries.append(e)
                    else:
                        delete_entries.append(e)

        # level 3 (opt-in): exact dictionary skipping — when the table
        # carries per-file distinct-value stores (analyze_dictionary),
        # eq/IN conjuncts drop files whose value SET provably excludes
        # the literals (bounds can't: an unsorted column's min/max spans
        # the domain in every file).  Advisory only; absent store = no-op.
        if data_entries and self.row_filter is not None and \
                S.planted(table, "dict", "dict_pair"):
            from linkedin_iceberg_spark.catalog import analyze as AN
            data_entries = AN.dictionary_prune(table, data_entries, bound)

        # level 4 (opt-in): bloom-filter skipping — the high-cardinality
        # complement of the dictionary store (analyze_bloom): eq/IN
        # conjuncts drop files whose per-file bloom proves the literals
        # absent.  One-sided (false positives only cost an unpruned
        # file); advisory only; absent store = no-op.
        if data_entries and self.row_filter is not None and \
                S.planted(table, "bloom"):
            from linkedin_iceberg_spark.catalog import bloom as BL
            data_entries = BL.bloom_prune(table, data_entries, bound)

        residuals_by_spec = {s.spec_id: ResidualEvaluator(s, bound)
                             for s in md.bound_specs()}
        return match_deletes(data_entries, delete_entries,
                             residuals_by_spec=residuals_by_spec,
                             default_spec_id=md.default_spec_id)

    def plan_tasks(self, split_size: Optional[int] = None,
                   lookback: Optional[int] = None,
                   open_file_cost: Optional[int] = None) -> list:
        """Combined scan tasks: files split at split-size boundaries and
        bin-packed with an open-file cost floor (ref: TableScanUtil.java:
        33-49, BaseTableScan.planTasks).  Task-count parity with the
        reference for consumers that schedule work themselves; the Spark
        read path lets ``spark.sql.files.maxPartitionBytes`` do this."""
        from linkedin_iceberg_spark.catalog import split_planning as SP
        size, lb, cost = SP.props_for(self.table.properties)
        return SP.plan_tasks(self.plan_files(),
                             split_size if split_size is not None else size,
                             lookback if lookback is not None else lb,
                             open_file_cost if open_file_cost is not None
                             else cost)

    # ------------------------------------------------------------ execution
    def to_df(self, use_planned_tasks: bool = False,
              split_size: Optional[int] = None,
              lookback: Optional[int] = None,
              open_file_cost: Optional[int] = None,
              metadata_columns: bool = False) -> DataFrame:
        if metadata_columns:
            return self._to_df_metadata()
        if use_planned_tasks:
            return self._to_df_planned(split_size, lookback, open_file_cost)
        return self._to_df_default()

    def _to_df_metadata(self) -> DataFrame:
        """The scan with the reference's reserved METADATA COLUMNS
        appended (ref: core/.../MetadataColumns.java:35-50): ``_file``
        (the row's data file path) and ``_pos`` (its ORIGINAL position
        in that file — stable under position-delete application, the
        ROW_POSITION contract; exact for parquet, ORC, and Avro — the
        non-parquet formats ride the whole-file pyarrow/codec readers,
        whose per-file row counter is the same number).  The full
        row filter re-applies as a Spark Column (no residual grouping
        on this path), and ``select()`` may project the metadata
        columns like any other."""
        from pyspark.sql import types as T

        from linkedin_iceberg_spark.catalog.deletes import apply_deletes
        tasks = self.plan_files()
        if not tasks:
            fields = list(self.table.metadata.schema.to_spark().fields)
            fields += [T.StructField("_file", T.StringType(), True),
                       T.StructField("_pos", T.LongType(), True)]
            return self._finish(self.table.spark.createDataFrame(
                [], T.StructType(fields)))
        return self._finish(apply_deletes(self.table, tasks,
                                          keep_metadata=True))

    def _to_df_planned(self, split_size=None, lookback=None,
                       open_file_cost=None) -> DataFrame:
        """Execute the scan with OUR CombinedScanTasks as the unit of
        parallelism (ref: SparkBatchScan.planInputPartitions consuming
        TableScanUtil.planTasks) instead of letting Spark re-split by
        maxPartitionBytes: each bin-packed task becomes exactly one Spark
        partition (a 1-element RDD slice), and workers read parquet
        row-group ranges snapped by byte-range midpoint — the same
        convention the reference's readers use.  Proves the split planner
        is load-bearing: small files coalesce into one task (open-file
        cost), giant files fan out across tasks.

        Falls back to the default reader when a task carries v2 deletes or
        a non-parquet/orc file (those need the join-based/codec readers),
        or when the current schema has nested types (worker-side alignment
        is by top-level cast).  Filters are re-applied in full after the
        read — always correct, and Catalyst still prunes columns above."""
        import json as _json

        from linkedin_iceberg_spark.catalog import split_planning as SP
        from linkedin_iceberg_spark.catalog.local_read import type_to_arrow

        table = self.table
        md = table.metadata
        current = md.schema
        tasks = self.plan_files()
        nested = any(not isinstance(f.type, str) for f in current.fields)
        if not tasks or nested or \
                any(t.deletes for t in tasks) or \
                any(t.file.file_format not in ("parquet", "orc")
                    for t in tasks):
            # hand the already-planned tasks to the default path — a
            # re-plan would re-read every pruned manifest and fire a
            # second ScanEvent for one logical scan
            return self._to_df_default(tasks=tasks)

        import pyarrow as pa
        size, lb, cost = SP.props_for(table.properties)
        ctasks = SP.plan_tasks(
            tasks,
            split_size if split_size is not None else size,
            lookback if lookback is not None else lb,
            open_file_cost if open_file_cost is not None else cost,
            splittable=("parquet",))  # orc readers here consume whole files

        # per written-schema rename maps: current name -> name in the file
        # (field-id based, so renames never mis-align); plus identity
        # partition constants for in-place-imported Hive-layout files
        from linkedin_iceberg_spark.catalog.serde import encode_value
        rev_by_sid: dict = {}
        for t in tasks:
            sid = t.file.schema_id
            if sid not in rev_by_sid:
                written = md.schema_by_id(sid)
                rev_by_sid[sid] = {
                    f.name: written.name_for_id(f.field_id)
                    for f in current.fields
                    if written.name_for_id(f.field_id) is not None}

        def pconst_for(file) -> dict:
            spec = md.spec_by_id(file.spec_id)
            out = {}
            for pf in spec.fields:
                if pf.transform_str == "identity" and \
                        pf.name in file.partition:
                    out[pf.source_name] = encode_value(
                        file.partition[pf.name], pf.source_type or "string")
            return out

        # column pruning (the default path gets this from Catalyst): read
        # only the projected columns plus whatever the row filter needs —
        # a scan that reads every column for a 2-column projection wastes
        # the dominant cost at scale
        fields = current.fields
        if self.selected:
            needed = set(self.selected) | _referenced_names(
                bind(current, self.row_filter)
                if self.row_filter is not None else None)
            fields = [f for f in current.fields if f.name in needed]
        target = pa.schema([pa.field(f.name, type_to_arrow(f.type),
                                     nullable=not f.required)
                            for f in fields])
        ser_schema = target.serialize().to_pybytes()

        descs = []
        for i, ct in enumerate(ctasks):
            splits = []
            for t in ct.tasks:
                is_split = isinstance(t, SP.SplitTask)
                splits.append({
                    "path": t.file.file_path,
                    "fmt": t.file.file_format,
                    "start": t.start if is_split else None,
                    "len": t.length if is_split else None,
                    "sid": t.file.schema_id,
                    "pconst": pconst_for(t.file),
                })
            descs.append((i, _json.dumps(
                {"splits": splits,
                 "rev": {str(sid): m for sid, m in rev_by_sid.items()}})))

        def read_task(batches):
            import json as _j

            import pyarrow as _pa
            import pyarrow.compute as _pc

            tgt = _pa.ipc.read_schema(_pa.py_buffer(ser_schema))

            def emit(tbl, rev, pconst):
                names = set(tbl.column_names)
                data = {}
                for f in tgt:
                    src = rev.get(f.name)
                    if src is not None and src in names:
                        arr = tbl[src].combine_chunks()
                        data[f.name] = arr if arr.type == f.type \
                            else arr.cast(f.type)
                    elif f.name in pconst:
                        data[f.name] = _pc.cast(
                            _pa.array([pconst[f.name]] * len(tbl)), f.type)
                    else:
                        data[f.name] = _pa.nulls(len(tbl), f.type)
                return _pa.table(data).to_pandas()

            for pdf in batches:
                for desc_s in pdf["desc"]:
                    d = _j.loads(desc_s)
                    for sp in d["splits"]:
                        rev = d["rev"].get(str(sp["sid"]), {})
                        # read only the source columns the projection
                        # needs — column pruning at the file reader
                        want = [rev[f.name] for f in tgt if f.name in rev]
                        if sp["fmt"] == "orc":
                            from pyarrow import orc as _orc
                            of = _orc.ORCFile(sp["path"])
                            cols = [c for c in want
                                    if c in of.schema.names] or None
                            tbl = of.read(columns=cols)
                            if len(tbl):
                                yield emit(tbl, rev, sp["pconst"])
                            continue
                        import pyarrow.parquet as _pq
                        pf = _pq.ParquetFile(sp["path"])
                        file_cols = set(pf.schema_arrow.names)
                        cols = [c for c in want if c in file_cols] or None
                        nrg = pf.metadata.num_row_groups
                        if sp["start"] is None:
                            rgs = list(range(nrg))
                        else:
                            lo, hi = sp["start"], sp["start"] + sp["len"]
                            rgs = []
                            for g in range(nrg):
                                rg = pf.metadata.row_group(g)
                                c0 = rg.column(0)
                                off = c0.dictionary_page_offset \
                                    if c0.dictionary_page_offset is not None \
                                    else c0.data_page_offset
                                csize = sum(
                                    rg.column(c).total_compressed_size
                                    for c in range(rg.num_columns))
                                mid = off + csize // 2
                                if lo <= mid < hi:
                                    rgs.append(g)
                        if not rgs:
                            continue
                        tbl = pf.read_row_groups(rgs, columns=cols)
                        if len(tbl):
                            yield emit(tbl, rev, sp["pconst"])

        spark = table.spark
        rdd = spark.sparkContext.parallelize(descs, max(len(descs), 1))
        seed = spark.createDataFrame(rdd, "task_id long, desc string")
        from pyspark.sql.types import StructType
        keep = {f.name for f in fields}
        out_schema = StructType(
            [sf for sf in current.to_spark().fields if sf.name in keep])
        out = seed.mapInPandas(read_task, schema=out_schema)
        return self._finish(out)

    def _to_df_default(self, tasks: list = None) -> DataFrame:
        """Execute the scan as one Spark DataFrame.

        Files are grouped by their residual filter (ResidualEvaluator.java:
        52-118): a group whose residual folded to ALWAYS_TRUE is read with
        NO row filter at all (the partition tuple already guarantees every
        row matches — the common case when the filter hits only identity
        partition columns), and other groups apply only the surviving part
        of the filter.  Catalyst still gets the residual as a plain Column,
        so parquet row-group pruning and codegen apply on top."""
        table = self.table
        md = table.metadata
        schema = md.schema
        if tasks is None:
            tasks = self.plan_files()
        if not tasks:
            empty = table.spark.createDataFrame([], schema.to_spark())
            return self._finish(empty)

        from linkedin_iceberg_spark.catalog.deletes import apply_deletes

        by_residual: dict = {}
        for t in tasks:
            by_residual.setdefault(repr(t.residual), []).append(t)

        # safety valve: each residual group is its own read+filter branch,
        # and Spark's analyzer degrades non-linearly on deep unionByName
        # chains (documented pathology).  Past a sane branch count, collapse
        # to ONE read with the full filter — residuals are a per-file perf
        # nicety, never required for correctness.
        if len(by_residual) > 32:
            for t in tasks:
                t.residual = None
            by_residual = {"collapsed": list(tasks)}

        parts = []
        for _key in sorted(by_residual):
            group = by_residual[_key]
            residual = group[0].residual
            if any(t.deletes for t in group):
                df = apply_deletes(table, group)
            else:
                by_schema: dict = {}
                for t in group:
                    by_schema.setdefault(data_group_key(md, t.file), []) \
                        .append(t.file.file_path)
                df = read_files_as_current_schema(table.spark, md, by_schema)
            if residual is None:
                # planned without residuals: fall back to the full filter
                if self.row_filter is not None:
                    bound = bind(schema, self.row_filter)
                    df = df.filter(to_spark_column(bound))
            elif not isinstance(residual, AlwaysTrue):
                df = df.filter(to_spark_column(residual))
            parts.append(df)

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if self.selected:
            out = out.select(*self.selected)
        return out

    def to_arrow(self, metadata_columns: bool = False):
        """Local generic read (ref: data/.../IcebergGenerics.java): execute
        this scan on the driver with pyarrow only — same planning, pruning,
        residuals, and delete application as to_df(), no Spark needed.
        Sandbox-scale by design; to_df() is the distributed path.
        ``metadata_columns`` appends ``_file``/``_pos`` (r10 — same
        reserved-column contract as to_df(metadata_columns=True))."""
        from linkedin_iceberg_spark.catalog.local_read import scan_to_arrow
        return scan_to_arrow(self, metadata_columns=metadata_columns)

    def to_pandas(self, metadata_columns: bool = False):
        return self.to_arrow(metadata_columns=metadata_columns).to_pandas()

    def _finish(self, df: DataFrame) -> DataFrame:
        if self.row_filter is not None:
            bound = bind(self.table.metadata.schema, self.row_filter)
            df = df.filter(to_spark_column(bound))
        if self.selected:
            df = df.select(*self.selected)
        return df


def _referenced_names(expr) -> set:
    """Column names a (bound or unbound) expression touches — used for
    projection pruning in the planned-task read path."""
    from linkedin_iceberg_spark.expressions.expressions import (
        BoundReference, Reference)
    out: set = set()

    def walk(e):
        if e is None:
            return
        if isinstance(e, (And, Or)):
            walk(e.left)
            walk(e.right)
        elif isinstance(e, Not):
            walk(e.child)
        elif isinstance(e, Predicate):
            term = e.term
            if isinstance(term, TransformTerm):
                term = term.ref
            if isinstance(term, (Reference, BoundReference)):
                out.add(term.name)

    walk(expr)
    return out


def match_deletes(data_entries: list, delete_entries: list,
                  residuals: Optional["ResidualEvaluator"] = None,
                  residuals_by_spec: Optional[dict] = None,
                  default_spec_id: int = 0) -> list:
    """v2 row-level deletes: match delete files to data files by sequence
    number (ref: core/.../DeleteFileIndex.java:61-133).  Equality deletes
    apply only to STRICTLY older files (rows committed with or after the
    delete survive); position deletes apply to same-or-older files (they may
    be committed alongside the data they target).  Shared by scan planning
    and the DML/compaction rewrite paths (both must see live rows).

    Deletes are indexed by partition tuple (global deletes separately), so
    matching is O(data x deletes-in-partition), not O(data x all-deletes) —
    the same partition-keyed index DeleteFileIndex builds."""
    def res(e):
        if residuals_by_spec is not None:
            ev = residuals_by_spec.get(e.data_file.spec_id) \
                or residuals_by_spec.get(default_spec_id)
            return ev.residual_for(e.data_file.partition)
        return residuals.residual_for(e.data_file.partition) \
            if residuals is not None else None

    if not delete_entries:
        return [FileScanTask(e.data_file, [], e.sequence_number, res(e))
                for e in data_entries]
    global_deletes: list = []
    by_partition: dict = {}
    for d in delete_entries:
        p = d.data_file.partition
        if not p:
            global_deletes.append(d)
        else:
            by_partition.setdefault(
                tuple(sorted(p.items(), key=lambda kv: kv[0])), []).append(d)
    tasks = []
    for e in data_entries:
        key = tuple(sorted(e.data_file.partition.items(),
                           key=lambda kv: kv[0]))
        deletes = []
        for d in (*global_deletes, *by_partition.get(key, ())):
            if d.data_file.content == M.CONTENT_EQUALITY_DELETES:
                if d.sequence_number > e.sequence_number and \
                        _eq_delete_may_hit(d.data_file, e.data_file):
                    deletes.append(d)
            elif d.sequence_number >= e.sequence_number and \
                    _pos_delete_may_hit(d.data_file, e.data_file):
                deletes.append(d)
        tasks.append(FileScanTask(e.data_file, deletes, e.sequence_number,
                                  res(e)))
    return tasks


def _pos_delete_may_hit(del_file, data_file) -> bool:
    """Referenced-path pruning of position-delete applicability: a
    pos-delete entry records the min/max of its file_path column; data
    files outside that range are untouched by construction.  Missing
    bounds keep the delete (conservative)."""
    lo = (del_file.lower_bounds or {}).get(M.DELETE_FILE_PATH_FID)
    hi = (del_file.upper_bounds or {}).get(M.DELETE_FILE_PATH_FID)
    if lo is None or hi is None:
        return True
    return lo <= data_file.file_path <= hi


def _eq_delete_may_hit(del_file, data_file) -> bool:
    """Value-range pruning of equality-delete applicability (ref:
    DeleteFileIndex consulting delete-file metrics): when BOTH sides
    carry bounds for an equality column and the ranges are disjoint, no
    deleted key can exist in the data file — skip the anti-join for this
    pair entirely.  Missing bounds on either side keep the delete
    (conservative).

    NULL guard: bounds EXCLUDE nulls, but equality deletes apply
    null-safely (deletes.py uses eqNullSafe, so a NULL delete key
    deletes NULL data keys) — a column may only prune when BOTH sides
    are provably null-free (null_value_counts == 0; unknown counts keep
    the delete).  Float/double bounds never prune either: NaN keys are
    absent from bounds but match under Spark's NaN-equals-NaN join
    semantics."""
    dlo = del_file.lower_bounds or {}
    dhi = del_file.upper_bounds or {}
    flo = data_file.lower_bounds or {}
    fhi = data_file.upper_bounds or {}
    dnull = del_file.null_value_counts or {}
    fnull = data_file.null_value_counts or {}
    for fid in (del_file.equality_ids or ()):
        a_lo, a_hi = dlo.get(fid), dhi.get(fid)
        b_lo, b_hi = flo.get(fid), fhi.get(fid)
        if a_lo is None or a_hi is None or b_lo is None or b_hi is None:
            continue
        if dnull.get(fid) != 0 or fnull.get(fid) != 0:
            continue  # nulls possible on a side: this column can't prune
        if isinstance(a_lo, float) or isinstance(b_lo, float):
            continue  # NaN keys are invisible to bounds
        try:
            if a_hi < b_lo or b_hi < a_lo:
                return False  # disjoint on this key column: cannot hit
        except TypeError:  # cross-type bounds: stay conservative
            continue
    return True




def _align_expr(cexpr, written_t, current_t):
    """Recursively build a Column producing `current_t` from a column of
    `written_t`, matching nested struct fields BY FIELD ID (ref: the core
    read path's projection visitor; SchemaUpdate semantics require
    rename/add/drop/promote INSIDE structs to never corrupt old files).

    cexpr=None means the field does not exist in the written file -> null."""
    from linkedin_iceberg_spark.schema import (
        ListTypeDef, MapTypeDef, StructTypeDef)

    if cexpr is None:
        return F.lit(None).cast(type_to_spark(current_t))
    if written_t == current_t:
        return cexpr  # identical subtree: pass through untouched
    if isinstance(current_t, str):
        return cexpr.cast(type_to_spark(current_t))  # safe promotions only
    if isinstance(current_t, StructTypeDef):
        by_id = {f.field_id: f for f in written_t.fields} \
            if isinstance(written_t, StructTypeDef) else {}
        parts = []
        for f in current_t.fields:
            wf = by_id.get(f.field_id)
            sub = cexpr.getField(wf.name) if wf is not None else None
            parts.append(_align_expr(sub, wf.type if wf else None,
                                     f.type).alias(f.name))
        built = F.struct(*parts)
        # preserve null structs (struct(nulls) != null)
        return F.when(cexpr.isNotNull(), built) \
            .otherwise(F.lit(None).cast(type_to_spark(current_t)))
    if isinstance(current_t, ListTypeDef):
        we = written_t.element if isinstance(written_t, ListTypeDef) else None
        return F.transform(cexpr, lambda x: _align_expr(x, we,
                                                        current_t.element))
    if isinstance(current_t, MapTypeDef):
        wk = written_t.key if isinstance(written_t, MapTypeDef) else None
        wv = written_t.value if isinstance(written_t, MapTypeDef) else None
        return F.map_from_arrays(
            F.transform(F.map_keys(cexpr),
                        lambda k: _align_expr(k, wk, current_t.key)),
            F.transform(F.map_values(cexpr),
                        lambda v: _align_expr(v, wv, current_t.value)))
    raise TypeError(f"cannot align type {current_t!r}")


def align_columns(written, current) -> list:
    """Per-top-level-field alignment expressions from `written` to `current`
    schema (shared by the plain scan and the delete-applying read)."""
    cols = []
    for f in current.fields:
        old_name = written.name_for_id(f.field_id)
        old_f = written.find_field(f.field_id) if old_name else None
        cexpr = F.col(old_name) if old_name is not None else None
        cols.append(_align_expr(cexpr, old_f.type if old_f else None,
                                f.type).alias(f.name))
    return cols


def import_base_path(md: TableMetadata, path: str) -> Optional[str]:
    """Base directory under which ``path`` was imported in place by
    ``Table.add_files`` (None for files our writers produced).

    Imported Hive-layout files don't physically contain their identity
    partition columns — reads must pass ``basePath`` so Spark reconstructs
    those columns from the ``k=v`` directory names (the read-side half of
    the name-mapping convention, ref: core/.../mapping/NameMapping.java)."""
    raw = md.properties.get("import.base-paths")
    if not raw:
        return None
    for bp in json.loads(raw):
        if path.startswith(bp.rstrip("/") + "/"):
            return bp
    return None


def data_group_key(md: TableMetadata, data_file) -> tuple:
    """Grouping key for batch-reading data files: files are read together
    only when they share a written schema, a format, AND an import base
    path (or the absence of one)."""
    return (data_file.schema_id, data_file.file_format,
            import_base_path(md, data_file.file_path))


# Resolved file-group relations (`spark.read.schema(...).load(paths)` costs
# ~25 ms of py4j + relation resolution even with an explicit schema): engine
# data files are immutable (writers always create new uuid-named files), the
# key pins every file's signature, and a DataFrame is an unexecuted plan
# handle.  Groups above _RELATION_MEMO_MAX_FILES skip the memo: the per-file
# os.stat cost grows with the group while the saved resolution does not.
_RELATION_MEMO = BoundedCache(max_entries=128)
_RELATION_MEMO_MAX_FILES = 64


def load_file_group(spark: SparkSession, fmt: str, bp, schema,
                     group_paths: list) -> DataFrame:
    """The one reader of a group of parquet/ORC files under an explicit
    Spark ``schema`` (a StructType), memoized per exact file signature."""
    def build() -> DataFrame:
        reader = spark.read.schema(schema).format(fmt)
        if bp is not None:
            # imported in place: partition columns live in the directory
            # names, not the files — Spark fills them from the paths
            reader = reader.option("basePath", bp)
        return reader.load(group_paths)

    sig = (file_signature(group_paths)
           if len(group_paths) <= _RELATION_MEMO_MAX_FILES else None)
    app = spark.sparkContext.applicationId
    key = None if sig is None else (id(spark), app, fmt, bp, schema.json(), sig)
    return _RELATION_MEMO.get(key, build, app)


def read_files_as_current_schema(spark: SparkSession, md: TableMetadata,
                                 paths_by_schema: dict) -> DataFrame:
    """Read data files written under (possibly) older schemas/formats and
    project to the current schema BY FIELD ID (ref: core read path
    projection + SchemaUpdate semantics: rename/add/drop/promote never
    corrupt old files — including nested struct fields).

    Files are grouped by (written schema, file format[, import base path]);
    each group is renamed/padded/cast to the current schema, then unioned.
    All Spark-side, distributed, no data rewrite.  Keys are
    (schema_id, format) or (schema_id, format, base_path) tuples (a bare
    int means parquet, for backwards compatibility)."""
    current = md.schema
    cur_spark = current.to_spark()
    out = None
    for key in sorted(paths_by_schema, key=str):
        if isinstance(key, tuple):
            sid, fmt, bp = key if len(key) == 3 else (*key, None)
        else:
            sid, fmt, bp = key, "parquet", None
        group_paths = paths_by_schema[key]
        written = md.schema_by_id(sid)
        if fmt == "avro":
            from linkedin_iceberg_spark.sources.avro_spark import (
                read_avro_files)
            df = read_avro_files(spark, group_paths, written)
        else:
            df = load_file_group(spark, fmt, bp, written.to_spark(),
                                  group_paths)
        if sid != md.current_schema_id or bp is not None:
            df = df.select(*align_columns(written, current))
        # files written under the CURRENT schema need no alignment: the
        # read schema above is already current.to_spark(), so the select
        # would be an identity projection — skipping it saves a py4j
        # round-trip per field on every scan (r11; evolution paths are
        # unchanged and still align by field id).  Imported groups (bp set)
        # must ALWAYS align: Spark appends the path-reconstructed partition
        # columns at the END of the schema even with an explicit read
        # schema, so the select is what restores current-schema order.
        out = df if out is None else out.unionByName(df)
    return out if out is not None else spark.createDataFrame([], cur_spark)
