"""Directory-based catalog (ref: core/.../hadoop/HadoopCatalog.java,
api/.../catalog/Catalog.java).

A warehouse dir holds one subdirectory per table (namespace levels become
nested dirs).  Table existence == metadata/v1.metadata.json exists."""

from __future__ import annotations

import os
import shutil
from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession

from linkedin_iceberg_spark.catalog.metadata import TableMetadata, TableOperations
from linkedin_iceberg_spark.catalog.spec import PartitionSpec
from linkedin_iceberg_spark.catalog.table import Table
from linkedin_iceberg_spark.schema import Schema


def clone_registry(properties: dict) -> list:
    """Parse ``snapshot.clone-locations`` (the source-side registry of
    zero-copy clones sharing this table's files).  The ONE copy of the
    property's format — snapshot_table, drop_table, release, and the
    maintenance gc fence all go through here."""
    import json
    return json.loads(properties.get("snapshot.clone-locations", "[]"))


def with_clone_registry(properties: dict, clones: list) -> dict:
    """A copy of `properties` with the clone registry set (or removed
    when empty)."""
    import json
    props = dict(properties)
    if clones:
        props["snapshot.clone-locations"] = json.dumps(clones)
    else:
        props.pop("snapshot.clone-locations", None)
    return props


import re as _re

# string literals ('' doubling), double-quoted strings, line and block
# comments — masked to \x00<n>\x00 tokens before ANY rewriting regex
# runs, so a table name inside a literal or comment is never rewritten
_SQL_MASK_RE = _re.compile(
    r"'(?:[^']|'')*'"
    r"|\"(?:[^\"]|\"\")*\""
    r"|--[^\n]*"
    r"|/\*.*?\*/",
    _re.DOTALL)

_SQL_LIT_TOKEN = _re.compile(r"\x00(\d+)\x00")

# words that can follow a FROM-clause relation without being its alias
_SQL_NON_ALIAS_WORDS = {
    "where", "group", "order", "having", "limit", "window", "union",
    "intersect", "except", "qualify", "on", "join", "inner", "left",
    "right", "full", "cross", "natural", "using", "for", "version",
    "timestamp", "as", "lateral", "values", "select", "semi", "anti",
    "cluster", "distribute", "sort",
}

_SQL_WHERE_TERMINATORS = (
    "group", "order", "having", "limit", "window", "union", "intersect",
    "except", "qualify", "cluster", "distribute", "sort")

# non-column words inside a conjunct the predicate parser accepts
_SQL_PREDICATE_WORDS = {
    "and", "or", "not", "in", "is", "null", "like", "between", "true",
    "false", "timestamp", "date"}


def _mask_sql_literals(query: str):
    """Replace literals/comments with ``\\x00<n>\\x00`` placeholders;
    returns (masked query, literal list)."""
    lits: list = []

    def repl(m):
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    return _SQL_MASK_RE.sub(repl, query), lits


def _unmask_sql_literals(masked: str, lits: list) -> str:
    return _SQL_LIT_TOKEN.sub(lambda m: lits[int(m.group(1))], masked)


def _cut_where_clause(tail: str) -> str:
    """The WHERE clause body: `tail` (text after the WHERE keyword) up to
    the first TOP-LEVEL terminator keyword / statement end."""
    term = _re.compile(
        r"[();]|\b(" + "|".join(_SQL_WHERE_TERMINATORS) + r")\b",
        _re.IGNORECASE)
    depth = 0
    for m in term.finditer(tail):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth < 0:
                return tail[:m.start()]
        elif depth == 0:
            return tail[:m.start()]
    return tail


def _split_top_level_and(clause: str) -> list:
    """Split on depth-0 ANDs, keeping the AND that belongs to a pending
    BETWEEN inside its conjunct."""
    parts, depth, start, between = [], 0, 0, False
    tok = _re.compile(r"[()]|\b(and|between)\b", _re.IGNORECASE)
    for m in tok.finditer(clause):
        t = m.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            if t.lower() == "between":
                between = True
            elif between:  # the BETWEEN's own AND
                between = False
            else:
                parts.append(clause[start:m.start()])
                start = m.end()
    parts.append(clause[start:])
    return [p.strip() for p in parts if p.strip()]


def _split_top_level_commas(text: str) -> list:
    """Split on depth-0 commas only — list elements may themselves be
    calls / typed literals with commas (DECIMAL(10,2), bucket(4, k))."""
    depth, cur, parts = 0, [], []
    for ch in text:
        depth += ch == "("
        depth -= ch == ")"
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _split_type_commas(text: str) -> list:
    """Depth-0 comma split tracking BOTH () and <> — column/type lists
    where struct<x: double, y: double> and DECIMAL(10,2) nest."""
    depth, cur, parts = 0, [], []
    for ch in text:
        depth += ch in "(<"
        depth -= ch in ")>"
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _sql_type_def(s: str):
    """SQL type text -> engine type: a primitive string via
    _sql_type_to_engine, or a StructTypeDef/ListTypeDef/MapTypeDef tree
    (placeholder ids — CREATE assigns via _assign_fresh_ids, ALTER via
    the evolution plane's fresh_ids).  Struct fields accept the
    reference's test spellings (`x: double NOT NULL`,
    TestAlterTable.java:65) and Spark DDL's space form (`x double`)."""
    from linkedin_iceberg_spark.schema import (ListTypeDef, MapTypeDef,
                                               NestedField, StructTypeDef)
    s = s.strip()
    low = s.lower()
    m = _re.match(r"(struct|array|list|map)\s*<(.*)>\s*$", s,
                  _re.IGNORECASE | _re.DOTALL)
    if not m:
        return _sql_type_to_engine(s)
    kind, inner = m.group(1).lower(), m.group(2)
    if kind in ("array", "list"):
        return ListTypeDef(0, _sql_type_def(inner), False)
    if kind == "map":
        parts = _split_type_commas(inner)
        if len(parts) != 2:
            raise ValueError(f"map needs key, value: {s!r}")
        return MapTypeDef(0, _sql_type_def(parts[0]), 0,
                          _sql_type_def(parts[1]), False)
    fields = []
    for part in _split_type_commas(inner):
        fm = _re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s*:?\s*(.+)$",
                       part.strip(), _re.DOTALL)
        if not fm:
            raise ValueError(f"malformed struct field: {part!r}")
        name, rest = fm.group(1), fm.group(2).strip()
        doc = None
        cm = _re.search(r"\s+comment\s+'((?:[^']|'')*)'\s*$", rest,
                        _re.IGNORECASE)
        if cm:
            doc = cm.group(1).replace("''", "'")
            rest = rest[:cm.start()].strip()
        required = False
        nm = _re.search(r"\s+not\s+null\s*$", rest, _re.IGNORECASE)
        if nm:
            required = True
            rest = rest[:nm.start()].strip()
        fields.append(NestedField(0, name, _sql_type_def(rest),
                                  required, doc))
    if not fields:
        raise ValueError(f"empty struct type: {s!r}")
    return StructTypeDef(tuple(fields))


def _assign_fresh_ids(fields: list) -> list:
    """Sequential unique ids across a whole new-schema tree (CREATE
    TABLE path; the evolution plane re-ids ALTER adds itself)."""
    from linkedin_iceberg_spark.schema import (ListTypeDef, MapTypeDef,
                                               NestedField, StructTypeDef)
    counter = [0]

    def nid() -> int:
        counter[0] += 1
        return counter[0]

    def walk(t):
        if isinstance(t, StructTypeDef):
            return StructTypeDef(tuple(
                NestedField(nid(), f.name, walk(f.type), f.required,
                            f.doc) for f in t.fields))
        if isinstance(t, ListTypeDef):
            return ListTypeDef(nid(), walk(t.element), t.element_required)
        if isinstance(t, MapTypeDef):
            return MapTypeDef(nid(), walk(t.key), nid(), walk(t.value),
                              t.value_required)
        return t

    out = []
    for f in fields:
        fid = nid()
        out.append(NestedField(fid, f.name, walk(f.type), f.required,
                               f.doc))
    return out


def _cut_balanced(text: str) -> tuple:
    """`text` starts just after an opening '(' — return (inner, rest)
    where `inner` is the balanced content and `rest` follows the close."""
    depth = 1
    for i, ch in enumerate(text):
        depth += ch == "("
        depth -= ch == ")"
        if depth == 0:
            return text[:i], text[i + 1:]
    raise ValueError(f"unbalanced parentheses in: {text[:80]!r}")


def _try_parse_conjunct(conjunct: str, lits: list, dotted: str, alias,
                        own_cols: set, other_cols: set):
    """One conjunct -> engine Expression, or None when anything about it
    cannot be proven to be a plain predicate over this table's columns
    (subquery, function call, arithmetic, foreign/ambiguous column).
    Sound either way: skipped conjuncts simply aren't pruned on, and the
    original WHERE re-applies on the scan's rows."""
    from linkedin_iceberg_spark.expressions.parser import parse_expr

    if _re.search(r"\bselect\b", conjunct, _re.IGNORECASE):
        return None  # subquery
    quals = [_re.escape(dotted)]
    if alias:
        quals.append(_re.escape(alias))
    qualified_ours = set(
        _re.findall(rf"(?<![A-Za-z0-9_.])(?:{'|'.join(quals)})"
                    rf"\.([A-Za-z_][A-Za-z0-9_]*)", conjunct))
    stripped = _re.sub(rf"(?<![A-Za-z0-9_.])(?:{'|'.join(quals)})\.",
                       "", conjunct)
    for ref in _re.findall(r"[A-Za-z_][A-Za-z0-9_.]*", stripped):
        if ref.lower() in _SQL_PREDICATE_WORDS:
            continue
        if ref not in own_cols:
            return None  # foreign column, function name, dotted leftover
        if ref in other_cols and ref not in qualified_ours:
            return None  # ambiguous between resolved tables
    # TIMESTAMP '...' / DATE '...' typed literals -> plain strings (the
    # engine parser binds strings to date/timestamp columns)
    stripped = _re.sub(r"(?i)\b(?:timestamp|date)\s+(\x00\d+\x00)",
                       r"\1", stripped)
    try:
        return parse_expr(_unmask_sql_literals(stripped, lits))
    except Exception:  # noqa: BLE001 — anything unparseable: no pushdown
        return None


def _extract_scan_filter(masked: str, lits: list, dotted: str, alias,
                         table, plain: dict, counts: dict):
    """Engine row_filter for `dotted`'s scan, extracted from the query's
    WHERE clause — or None when the query shape is not provably safe.
    Guards: the table appears exactly once in FROM/JOIN position, the
    query has exactly one SELECT and at most one WHERE (so the clause
    provably scopes the table's read), and each conjunct passes
    _try_parse_conjunct.  Partial extraction is fine — pruning on a
    subset of conjuncts is still sound."""
    from linkedin_iceberg_spark.expressions import and_

    if counts.get(dotted, 0) != 1:
        return None
    if len(_re.findall(r"\bselect\b", masked, _re.IGNORECASE)) != 1:
        return None
    wheres = list(_re.finditer(r"\bwhere\b", masked, _re.IGNORECASE))
    if len(wheres) != 1:
        return None
    clause = _cut_where_clause(masked[wheres[0].end():])
    own_cols = set(table.schema.column_names())
    other_cols = set()
    for d2, (t2, _a2) in plain.items():
        if d2 != dotted:
            other_cols |= set(t2.schema.column_names())
    exprs = [e for c in _split_top_level_and(clause)
             if (e := _try_parse_conjunct(c, lits, dotted, alias,
                                          own_cols, other_cols))
             is not None]
    if not exprs:
        return None
    out = exprs[0]
    for e in exprs[1:]:
        out = and_(out, e)
    return out


def _runtime_join_filters(catalog, masked: str, lits: list, plain: dict,
                          counts: dict, filters: dict) -> dict:
    """Auto runtime filtering for the star-join SQL shape (the
    dynamic-partition-pruning move, catalog/runtime_filter.py): when a
    two-table equi-join puts ALL its extracted WHERE conjuncts on one
    side (the dim), that side's DISTINCT join keys become an extra scan
    predicate on the other side (the fact), so fact files prune at plan
    time — Catalyst cannot move a dim-side filter across the join.

    Conservative guards (bail -> {} -> plain behavior, always sound):
    one fact table and one-or-more FILTERED dims (the fact is the
    single table WITHOUT extracted conjuncts), each table once in
    FROM/JOIN, a single SELECT/WHERE, no outer/semi/anti/cross/natural
    join keywords (an outer-preserved side must not be pruned), an
    unambiguous `dim.k = fact.j` equi-conjunct as a TOP-LEVEL AND
    conjunct of the WHERE or an ON clause, and each build side's
    PRUNED scan fits the session broadcast budget (collecting its
    distinct keys is then strictly cheaper than one fact-file read).
    Dims that fail any per-dim check simply contribute nothing — each
    dim's runtime filter is independently sound (an inner-join
    conjunct binds every result row).  Keys are collected with only
    the EXTRACTED conjuncts applied — a superset of the true build
    rows, so pruning stays sound even when part of the dim's WHERE
    didn't extract."""
    from linkedin_iceberg_spark.catalog.runtime_filter import (
        runtime_filter)

    if len(plain) < 2 or any(counts.get(d, 0) != 1 for d in plain):
        return {}
    no_f = [d for d in plain if filters.get(d) is None]
    if len(no_f) != 1:
        return {}  # need exactly one unfiltered side: the fact
    probe_dotted = no_f[0]
    build_dotteds = [d for d in plain if d != probe_dotted]
    if len(_re.findall(r"\bselect\b", masked, _re.IGNORECASE)) != 1 \
            or len(_re.findall(r"\bwhere\b", masked, _re.IGNORECASE)) != 1:
        return {}
    if _re.search(r"\b(left|right|full|cross|semi|anti|natural)\b",
                  masked, _re.IGNORECASE):
        return {}
    # qualifier -> dotted (aliases and the dotted names themselves)
    quals = {}
    for d, (t, a) in plain.items():
        quals[d] = d
        if a:
            quals[a] = d
    ident = r"[A-Za-z_][A-Za-z0-9_]*"
    # only a TOP-LEVEL AND conjunct of the WHERE clause or of an ON
    # clause proves the equality holds for every result row — an
    # equality nested under an OR (or any larger expression) does not,
    # and pruning on it would drop rows the OR's other branch keeps
    conjuncts = []
    wm = _re.search(r"\bwhere\b", masked, _re.IGNORECASE)
    if wm:
        conjuncts += _split_top_level_and(
            _cut_where_clause(masked[wm.end():]))
    for om in _re.finditer(
            r"\bon\b(.*?)(?=\b(?:where|join|group|order|limit|having|"
            r"union)\b|$)", masked, _re.IGNORECASE | _re.DOTALL):
        conjuncts += _split_top_level_and(om.group(1))
    pair_re = _re.compile(
        rf"\s*((?:{ident}\.)*{ident})\.({ident})"
        rf"\s*=\s*((?:{ident}\.)*{ident})\.({ident})\s*$")
    pairs = {}  # build_dotted -> (build_col, probe_col), first wins
    pt = plain[probe_dotted][0]
    probe_cols = set(pt.schema.column_names())
    for conj in conjuncts:
        m = pair_re.match(conj)
        if not m:
            continue
        lq, lc, rq, rc = m.groups()
        if lq not in quals or rq not in quals:
            continue
        ld_, rd_ = quals[lq], quals[rq]
        if probe_dotted not in (ld_, rd_) or ld_ == rd_:
            continue
        bd = rd_ if ld_ == probe_dotted else ld_
        if bd in pairs:
            continue
        b_col, p_col = (lc, rc) if ld_ == bd else (rc, lc)
        if b_col not in set(plain[bd][0].schema.column_names()) \
                or p_col not in probe_cols:
            continue
        pairs[bd] = (b_col, p_col)
    if not pairs:
        return {}
    raw = catalog.spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                                 "10485760")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    low = raw.strip().lower().rstrip("b")
    thr = int(low[:-1]) * mult[low[-1]] if low and low[-1] in mult \
        else int(low)
    if thr < 0:
        return {}
    rf = None
    for bd in build_dotteds:
        if bd not in pairs:
            continue  # this dim never equi-joins the fact: skip it
        b_col, p_col = pairs[bd]
        build_scan = plain[bd][0].new_scan().filter(filters[bd])
        try:
            tasks = build_scan.plan_files()
        except Exception:  # noqa: BLE001 — planning trouble: skip dim
            continue
        total = sum(task.file.file_size_in_bytes or 0 for task in tasks)
        if total * 3 > thr:
            continue  # oversized build: this dim contributes nothing
        from linkedin_iceberg_spark.expressions import and_ as _and
        one = runtime_filter(build_scan.to_df().select(b_col),
                             b_col, p_col)
        rf = one if rf is None else _and(rf, one)
    return {probe_dotted: rf} if rf is not None else {}


# SQL type spellings -> engine primitive type strings
_SQL_TYPE_MAP = {
    "bigint": "long", "long": "long",
    "int": "int", "integer": "int", "smallint": "int", "tinyint": "int",
    "string": "string", "varchar": "string", "text": "string",
    "char": "string",
    "double": "double", "float": "float", "real": "float",
    "boolean": "boolean", "bool": "boolean",
    "timestamp": "timestamp", "date": "date", "binary": "binary",
    # engine-native spellings, so SHOW CREATE TABLE output round-trips
    # through the CREATE TABLE parser
    "timestamptz": "timestamptz", "uuid": "uuid", "fixed": "binary",
}


def _tasks_fit_broadcast(spark, tasks: list,
                         decompression_factor: float = 3.0) -> bool:
    """True when the planned tasks' summed file bytes, scaled by the
    parquet->unsafe-row decompression factor, fit the session's
    broadcast threshold (suggest_broadcast's sizing rule applied to a
    PRUNED task list instead of the whole table).  Conservative on
    unknowns: a non-empty file without a recorded size disables the
    advice; pending deletes don't (they only shrink the side)."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                         "10485760")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    low = raw.strip().lower().rstrip("b")
    if low and low[-1] in mult:
        threshold = int(low[:-1]) * mult[low[-1]]
    else:
        threshold = int(low)
    if threshold < 0:
        return False
    total = 0
    for t in tasks:
        size = t.file.file_size_in_bytes
        if not size and t.file.record_count:
            return False
        total += size or 0
    return total * decompression_factor <= threshold


def _apply_sql_transform(builder, text: str) -> None:
    """Apply one SQL partition-transform spelling to a SpecBuilder:
    bare column (identity), year/month/day/hour(col),
    bucket(n, col) or bucket(col, n), truncate likewise."""
    text = text.strip()
    m = _re.match(r"([A-Za-z_]\w*)\s*\(\s*([^()]*?)\s*\)$", text)
    if not m:
        builder.identity(text)
        return
    fn = m.group(1).lower()
    inner = [a.strip() for a in m.group(2).split(",")]
    if fn in ("identity", "year", "month", "day", "hour") \
            and len(inner) == 1:
        getattr(builder, fn)(inner[0])
    elif fn in ("bucket", "truncate") and len(inner) == 2:
        a, b = inner
        col, n = (b, a) if a.lstrip("-").isdigit() else (a, b)
        getattr(builder, fn)(col, int(n))
    else:
        raise ValueError(f"unsupported partition transform: {text!r}")


def _replay_spec_field(builder, f) -> None:
    """Re-apply an existing bound PartitionField onto a SpecBuilder."""
    ts, src = f.transform_str, f.source_name
    if ts == "identity":
        builder.identity(src)
    elif ts in ("year", "month", "day", "hour"):
        getattr(builder, ts)(src)
    elif ts.startswith("bucket["):
        builder.bucket(src, int(ts[len("bucket["):-1]))
    elif ts.startswith("truncate["):
        builder.truncate(src, int(ts[len("truncate["):-1]))
    elif ts == "void":
        builder.always_null(src)
    else:
        raise ValueError(f"cannot replay transform {ts!r}")


def _spec_field_spellings(f) -> set:
    """The SQL spellings that name an existing partition field (for
    DROP PARTITION FIELD): the field name, the bare source column for
    identity, and the canonical transform(args) form."""
    ts, src = f.transform_str, f.source_name
    out = {f.name.lower()}
    if ts == "identity":
        out |= {src.lower(), f"identity({src.lower()})"}
    elif ts.startswith("bucket["):
        n = ts[len("bucket["):-1]
        out |= {f"bucket({n},{src.lower()})", f"bucket({src.lower()},{n})"}
    elif ts.startswith("truncate["):
        n = ts[len("truncate["):-1]
        out |= {f"truncate({n},{src.lower()})",
                f"truncate({src.lower()},{n})"}
    else:
        out.add(f"{ts}({src.lower()})")
    return out


def _sql_type_to_engine(sql_type: str) -> str:
    """'BIGINT' -> 'long', 'DECIMAL(10,2)' -> 'decimal(10,2)', ..."""
    s = sql_type.strip().lower()
    m = _re.match(r"(?:decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", s)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    base = _re.sub(r"\s*\(.*\)$", "", s)  # VARCHAR(255) -> varchar
    if base in _SQL_TYPE_MAP:
        return _SQL_TYPE_MAP[base]
    raise ValueError(f"unsupported SQL type: {sql_type!r}")


def _mv_agg_objects(spec_aggs: dict) -> dict:
    """Persisted MV agg spec -> the incremental_view aggs dict.
    count(*) maps to counting a non-null literal, which folds signed
    exactly like any count."""
    from pyspark.sql import functions as F
    out = {}
    for name, (fn, col) in spec_aggs.items():
        out[name] = ("count", F.lit(1)) if fn == "count_star" \
            else (fn, col)
    return out


class NoSuchTableError(Exception):
    pass


class AlreadyExistsError(Exception):
    pass


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _table_location(self, name: str) -> str:
        """Physical location for reads: the catalog.json mapping wins
        (rename support); a tombstone (None) means the default dir is
        occupied by a renamed-away table, so the name resolves to a
        location that never holds metadata."""
        mapping = self._catalog_map()
        if name in mapping:
            loc = mapping[name]
            if loc is None:  # tombstone: name is free
                return os.path.join(self.warehouse, "__tombstone__",
                                    *name.split("."))
            return loc
        return os.path.join(self.warehouse, *name.split("."))

    def _location_for_create(self, name: str) -> str:
        """Physical location for a NEW table: the default dir when
        free, else a unique suffixed dir recorded in the mapping (the
        default is occupied by a renamed-away table's data)."""
        import uuid as _uuid
        mapping = self._catalog_map()
        default = os.path.join(self.warehouse, *name.split("."))
        occupied = os.path.isdir(os.path.join(default, "metadata")) \
            or os.path.isfile(os.path.join(default, "view.json"))
        if mapping.get(name, "") is None or occupied:
            loc = default + "__" + _uuid.uuid4().hex[:8]
            mapping[name] = loc
            self._write_catalog_map(mapping)
            return loc
        if name in mapping:
            # stale mapping to a dropped location: reclaim the default
            mapping.pop(name)
            self._write_catalog_map(mapping)
        return default

    def create_table(self, name: str, schema: Union[Schema, "DataFrame"],
                     spec: Optional[PartitionSpec] = None,
                     properties: Optional[dict] = None,
                     location: Optional[str] = None) -> Table:
        """`location` pins a custom physical directory (the SQL LOCATION
        clause, ref: spark3/.../sql/TestCreateTable.java
        testCreateTableLocation); the logical name maps to it through
        catalog.json — the same remap plane renames use."""
        if isinstance(schema, DataFrame):
            schema = Schema.from_spark(schema.schema)
        if self.table_exists(name):
            raise AlreadyExistsError(f"table {name} already exists")
        if self.view_exists(name):
            # Catalog.sql resolves views BEFORE tables, so a table
            # created under a view's name would be unreachable by name
            # while the stale view shadows it — refuse symmetrically
            # with create_view's table check
            raise AlreadyExistsError(f"view {name} already exists")
        if location:
            location = os.path.abspath(
                _re.sub(r"^file:(//)?", "", location))
        else:
            location = self._location_for_create(name)
        ops = TableOperations(location)
        spec = spec or PartitionSpec.unpartitioned()
        if spec.fields and spec.fields[0].source_name is None:
            spec = spec.bind(schema)
        md = TableMetadata.new_table(location, schema, spec, properties)
        version = ops.commit(0, md)
        md._version = version  # type: ignore[attr-defined]
        default = os.path.join(self.warehouse, *name.split("."))
        if os.path.abspath(location) != os.path.abspath(default):
            # record the mapping only after the metadata commit: a
            # failed create must not leave a dangling catalog entry
            mapping = self._catalog_map()
            mapping[name] = location
            self._write_catalog_map(mapping)
        return Table(self.spark, ops, md, version, name)

    def load_table(self, name: str) -> Table:
        location = self._table_location(name)
        ops = TableOperations(location)
        md = ops.refresh()
        if md is None:
            raise NoSuchTableError(f"no such table: {name}")
        return Table(self.spark, ops, md, getattr(md, "_version", 1), name)

    def table_exists(self, name: str) -> bool:
        return TableOperations(self._table_location(name)).refresh() is not None

    def drop_table(self, name: str, purge: bool = True) -> bool:
        location = self._table_location(name)
        if not os.path.isdir(os.path.join(location, "metadata")):
            return False
        md = TableOperations(location).refresh()
        props = md.properties if md is not None else {}
        if clone_registry(props):
            # refuse in EITHER mode: purge would delete shared files, and
            # a metadata-only drop would release this table's OWN source
            # registration while grandchild clones still transitively
            # depend on that source's files (clone chains)
            raise ValueError(
                f"table {name} has zero-copy clones sharing its files "
                f"({props['snapshot.clone-locations']}); drop the clones "
                "first")
        src_loc = props.get("snapshot.source-location")
        if purge:
            shutil.rmtree(location)
        else:
            shutil.rmtree(os.path.join(location, "metadata"))
        mapping = self._catalog_map()
        if name in mapping:
            # the logical name's mapping (rename/relocation) dies with
            # the table; tombstones for OTHER names over this dir are
            # cleared too once the occupying data is gone
            mapping.pop(name)
            default = os.path.join(self.warehouse, *name.split("."))
            if os.path.isdir(os.path.join(default, "metadata")) and \
                    os.path.abspath(default) != os.path.abspath(location):
                # the name's default dir is still occupied by a
                # renamed-away table: keep the name tombstoned
                mapping[name] = None
            if purge:
                for k, v in list(mapping.items()):
                    if v is None and os.path.join(
                            self.warehouse, *k.split(".")) == location:
                        mapping.pop(k)
            self._write_catalog_map(mapping)
        if src_loc:
            self._release_clone(src_loc, location)
        # a recreate at this location restarts version numbers at 1 —
        # cached parsed metadata would be served for the NEW table
        from linkedin_iceberg_spark.catalog.metadata import (
            invalidate_metadata_cache)
        invalidate_metadata_cache(location)
        return True

    # -- logical-name mapping (rename support) -------------------------
    #
    # The reference's directory catalog cannot rename
    # (core/.../hadoop/HadoopCatalog.java:219 throws: manifests record
    # absolute paths, so moving the directory would orphan every data
    # file).  Metastore catalogs rename by remapping the NAME and
    # leaving the location alone — we do the same with a warehouse-level
    # catalog.json: logical name -> physical location, plus None
    # tombstones for renamed-away names whose default directory is
    # still occupied by the (now differently-named) table.

    def _catalog_map_path(self) -> str:
        return os.path.join(self.warehouse, "catalog.json")

    def _catalog_map(self) -> dict:
        import json
        p = self._catalog_map_path()
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f).get("tables", {})

    def _write_catalog_map(self, mapping: dict) -> None:
        import json
        p = self._catalog_map_path()
        tmp = p + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"tables": mapping}, f, sort_keys=True)
        os.replace(tmp, p)  # atomic vs readers; concurrent renames race

    def rename_table(self, name: str, new_name: str) -> None:
        """ALTER TABLE ... RENAME TO (ref: spark3/.../sql/
        TestAlterTable.java:200 testTableRename — which the reference's
        own directory catalog cannot do, HadoopCatalog.java:219).
        Metadata-only: the logical name remaps to the existing physical
        location, so every absolute file path in manifests — and every
        location-keyed clone registration — stays valid.  Concurrent
        renames last-write-win on catalog.json; table DATA commits are
        unaffected (they CAS on per-table version files)."""
        if not self.table_exists(name):
            raise NoSuchTableError(f"no such table: {name}")
        if self.table_exists(new_name) or self.view_exists(new_name):
            raise AlreadyExistsError(f"{new_name} already exists")
        loc = self._table_location(name)
        mapping = self._catalog_map()
        default_old = os.path.join(self.warehouse, *name.split("."))
        if os.path.abspath(loc) == os.path.abspath(default_old):
            # the old name's default dir stays occupied: tombstone it
            mapping[name] = None
        else:
            mapping.pop(name, None)
        mapping[new_name] = loc
        self._write_catalog_map(mapping)

    def _release_clone(self, source_location: str,
                       clone_location: str) -> None:
        """Remove a dropped clone from its source's
        ``snapshot.clone-locations`` registry, unblocking the source's
        file-deleting maintenance.  A VANISHED source never blocks the
        drop (silent no-op); any other failure — notably commit
        contention after retries — warns loudly, because a dangling
        entry blocks the source's maintenance until cleared by hand."""
        try:
            sops = TableOperations(source_location)
            smd = sops.refresh()
            if smd is None:
                return
            src = Table(self.spark, sops, smd, getattr(smd, "_version", 1))

            def rel(base):
                import dataclasses
                clones = clone_registry(base.properties)
                if clone_location not in clones:
                    return base
                md2 = dataclasses.replace(base)
                md2.properties = with_clone_registry(
                    base.properties,
                    [c for c in clones if c != clone_location])
                return md2
            src._commit_metadata_edit(rel)
        except Exception as e:  # noqa: BLE001 — warn, don't fail the drop
            import warnings
            warnings.warn(
                f"could not release clone {clone_location} from source "
                f"{source_location} ({e}); the source's file-deleting "
                "maintenance stays blocked until snapshot.clone-locations "
                "is cleared by hand", stacklevel=2)

    # -- persisted SQL views (the view-spec analog: versioned SQL text
    # in the catalog, resolved at query time against engine tables) ----

    def _view_path(self, name: str) -> str:
        return os.path.join(self._table_location(name), "view.json")

    def view_exists(self, name: str) -> bool:
        return os.path.isfile(self._view_path(name))

    def create_view(self, name: str, sql_text: str,
                    replace: bool = False) -> None:
        """Persist a named SQL view.  The text is stored verbatim and
        re-planned per query (late binding — the view tracks the base
        tables' CURRENT snapshots, the view-spec semantic), with a
        version history like table metadata.  Staged+renamed write."""
        import json

        if self.table_exists(name):
            raise AlreadyExistsError(f"{name} is a table")
        p = self._view_path(name)
        versions = []
        if os.path.isfile(p):
            if not replace:
                raise AlreadyExistsError(f"view {name} already exists")
            with open(p) as f:
                versions = json.load(f).get("versions", [])
        versions.append({"version-id": len(versions) + 1,
                         "sql": sql_text})
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"current-version-id": len(versions),
                       "versions": versions}, f)
        os.replace(tmp, p)

    def view_sql(self, name: str) -> str:
        import json
        with open(self._view_path(name)) as f:
            doc = json.load(f)
        cur = doc["current-version-id"]
        return next(v["sql"] for v in doc["versions"]
                    if v["version-id"] == cur)

    def drop_view(self, name: str) -> bool:
        p = self._view_path(name)
        if not os.path.isfile(p):
            return False
        os.remove(p)
        d = os.path.dirname(p)
        if not os.listdir(d):
            os.rmdir(d)
        return True

    def list_views(self, namespace: str = "") -> list:
        base = os.path.join(self.warehouse, *namespace.split(".")) \
            if namespace else self.warehouse
        out = []
        for root, _dirs, files in os.walk(base):
            if "view.json" in files:
                rel = os.path.relpath(root, base)
                out.append(rel.replace(os.sep, "."))
        return sorted(out)

    def _resolve_view(self, name: str) -> DataFrame:
        """Evaluate a view's SQL through the full Catalog.sql pipeline
        (nested views resolve recursively); a definition cycle raises
        instead of recursing forever."""
        stack = getattr(self, "_view_stack", frozenset())
        if name in stack:
            raise ValueError(
                f"view definition cycle through {name!r}")
        self._view_stack = stack | {name}
        try:
            return self.sql(self.view_sql(name))
        finally:
            self._view_stack = stack

    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL directly against engine tables — the day-one-user
        entrypoint the reference's Spark integration gives via catalog
        resolution (ref: spark3/.../SparkCatalog.java:122 loadTable /
        loadIcebergTable flow).  Dotted identifiers in FROM/JOIN clauses
        that resolve in THIS catalog are auto-registered as temp views and
        the query is delegated to ``spark.sql``:

            cat.sql("SELECT count(*) FROM db.orders WHERE ...")
            cat.sql("SELECT snapshot_id, operation FROM db.orders.snapshots")
            cat.sql("SELECT * FROM db.orders VERSION AS OF 'v1'")
            cat.sql("SELECT * FROM db.orders TIMESTAMP AS OF "
                    "'2026-01-01 00:00:00'")

        ``db.t.<name>`` resolves the metadata relation ``<name>``
        (snapshots/files/partitions/history/refs/…) of table ``db.t``,
        exactly as the reference exposes metadata tables in SQL.

        DML statements route to the commit operators and return a
        one-row status frame (counts from the committed snapshot's
        summary — metadata, no recount scan):

            cat.sql("INSERT INTO db.t SELECT ...")       -> append
            cat.sql("DELETE FROM db.t WHERE k < 10")     -> delete_where
            cat.sql("UPDATE db.t SET a = a * 2 WHERE p") -> update_where

        Resolution is conservative by design (a regex over FROM/JOIN
        clauses, not a SQL parser — Spark's parser lives JVM-side): only
        dotted identifiers are considered, already-registered temp views
        and unresolvable names are left untouched, and each resolved
        identifier is swapped for a deterministic view name.  String
        literals and comments are masked before any rewriting, so
        ``WHERE note = 'db.orders'`` never has its literal rewritten.

        WHERE predicates PUSH DOWN into scan planning (the reference's
        reason-to-exist: Catalyst filters consumed at plan time,
        spark3/.../SparkScanBuilder.java:101-130, SparkFilters.java:
        87-195 — the "Data filtering" claim of site/docs/performance.md):
        top-level AND-ed conjuncts over a resolved table's own columns
        are parsed with the engine predicate parser and the view
        registers ``t.scan(row_filter=...)``, so manifest/file-level
        pruning applies before Spark ever sees a file.  Extraction bails
        to the unpruned view on anything it cannot prove (subqueries,
        multiple SELECTs, expressions/functions, ambiguous column
        ownership) — always sound, because the original WHERE stays in
        the rewritten query and re-applies on whatever the scan
        returns."""
        import re

        from linkedin_iceberg_spark.catalog.metadata_tables import (
            METADATA_TABLES)

        em = re.match(r"\s*explain\s+(formatted\s+|extended\s+)?(.+)$",
                      query, re.IGNORECASE | re.DOTALL)
        if em and re.match(r"(select|with)\b", em.group(2).strip(),
                           re.IGNORECASE):
            # EXPLAIN [FORMATTED|EXTENDED] SELECT ...: resolve through
            # the full path (engine tables register, WHERE pushdown
            # applies — the plan SHOWS the pruned scan), return the
            # plan text as rows
            df = self.sql(em.group(2).strip())
            mode = (em.group(1) or "formatted").strip().lower()
            qe = df._jdf.queryExecution()
            text = qe.toString() if mode == "extended" \
                else qe.explainString(
                    self.spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted"))
            return self.spark.createDataFrame(
                [(line,) for line in text.splitlines()], "plan string")

        ddl = self._sql_ddl(query)
        if ddl is not None:
            return ddl
        call = self._sql_call(query)
        if call is not None:
            return call
        an = self._sql_analyze(query)
        if an is not None:
            return an
        mv = self._sql_optimize_vacuum(query)
        if mv is not None:
            return mv
        dml = self._sql_dml(query)
        if dml is not None:
            return dml

        query, lits = _mask_sql_literals(query)

        fast = self._sql_count_star(query, lits)
        if fast is not None:
            return fast
        fast = self._sql_colocated_groupby(query, lits)
        if fast is not None:
            return fast
        fast = self._sql_group_count(query, lits)
        if fast is not None:
            return fast
        fast = self._sql_colocated_join(query, lits)
        if fast is not None:
            return fast
        fast = self._sql_colocated_multijoin(query, lits)
        if fast is not None:
            return fast

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        dotted_pat = rf"{ident}(?:\.{ident})+"
        lit_tok = r"\x00\d+\x00"

        # time travel first: FROM db.t VERSION AS OF <snapshot-id|'ref'>
        # and FROM db.t TIMESTAMP AS OF '<ts>' (Spark's SQL time-travel
        # grammar incl. the FOR SYSTEM_* spellings) resolve through the
        # scan builder's snapshot/ref/as-of planes, so expired snapshots
        # and named refs behave exactly like the API route
        travel = re.compile(
            rf"\b(from|join)\s+({dotted_pat})\s+"
            rf"(for\s+system_version\s+as\s+of|version\s+as\s+of|"
            rf"for\s+system_time\s+as\s+of|timestamp\s+as\s+of)\s+"
            rf"(\d+|{lit_tok})",
            re.IGNORECASE)

        def _travel_view(m: "re.Match") -> str:
            kw, dotted, how, lit = (m.group(1), m.group(2),
                                    m.group(3), m.group(4))
            if lit.startswith("\x00"):  # masked string literal
                lit = lits[int(lit.strip("\x00"))]
            if not self.table_exists(dotted):
                return m.group(0)
            t = self.load_table(dotted)
            is_time = "time" in how.lower()
            if lit.isdigit():
                scan = (t.new_scan().as_of_time(int(lit)) if is_time
                        else t.new_scan().use_snapshot(int(lit)))
            elif is_time:
                import datetime as _dt
                s = lit.strip("'")
                fmt = "%Y-%m-%d %H:%M:%S" if " " in s else "%Y-%m-%d"
                ts = _dt.datetime.strptime(s, fmt) \
                    .replace(tzinfo=_dt.timezone.utc)
                scan = t.new_scan().as_of_time(int(ts.timestamp() * 1000))
            else:
                scan = t.new_scan().use_ref(lit.strip("'"))
            # the travel scan prunes on extracted WHERE conjuncts too —
            # historical states have the same manifest metadata, so a
            # selective query over VERSION AS OF plans the same reduced
            # file set as a current-snapshot read
            n_occ = len(re.findall(
                rf"\b(?:from|join)\s+{re.escape(dotted)}(?![A-Za-z0-9_])",
                query, re.IGNORECASE))
            flt = _extract_scan_filter(query, lits, dotted, None, t,
                                       {}, {dotted: n_occ})
            if flt is not None:
                scan = scan.filter(flt)
            import hashlib as _h
            view = "liceberg_sql_tt_" + _h.md5(
                f"{dotted}|{lit}".encode()).hexdigest()[:10]
            scan.to_df().createOrReplaceTempView(view)
            return f"{kw} {view}"

        query = travel.sub(_travel_view, query)
        # each list element may carry an alias (FROM db.t o, db.u u);
        # non-alias trailing keywords (WHERE, ON, ...) are filtered below
        clause = re.compile(
            rf"\b(?:from|join)\s+({dotted_pat}(?:\s+(?:as\s+)?{ident})?"
            rf"(?:\s*,\s*{dotted_pat}(?:\s+(?:as\s+)?{ident})?)*)",
            re.IGNORECASE)
        plain: dict = {}   # dotted -> (Table, alias-or-None)
        metadf: dict = {}  # dotted -> metadata-relation DataFrame
        counts: dict = {}  # dotted -> FROM/JOIN occurrences (self-joins)
        for m in clause.finditer(query):
            for elem in re.split(r"\s*,\s*", m.group(1)):
                toks = elem.split()
                dotted = toks[0]
                alias = None
                rest_toks = [w for w in toks[1:] if w.lower() != "as"]
                if rest_toks and \
                        rest_toks[0].lower() not in _SQL_NON_ALIAS_WORDS:
                    alias = rest_toks[0]
                counts[dotted] = counts.get(dotted, 0) + 1
                if dotted in plain or dotted in metadf:
                    continue
                parts = dotted.split(".")
                # longest prefix that names a table/view wins; one
                # trailing part may name a metadata relation
                for k in range(len(parts), 0, -1):
                    tname = ".".join(parts[:k])
                    rest = parts[k:]
                    if not rest and self.view_exists(tname):
                        metadf[dotted] = self._resolve_view(tname)
                        break
                    if len(rest) > 1 or not self.table_exists(tname):
                        continue
                    t = self.load_table(tname)
                    if not rest:
                        plain[dotted] = (t, alias)
                    elif rest[0] in METADATA_TABLES:
                        metadf[dotted] = t.metadata_table(rest[0])
                    break
        resolved: dict = {}

        def _view_name(dotted: str) -> str:
            import hashlib as _h
            # md5 suffix: underscore-joining alone would collide
            # a.b.c with a.b_c in the same query
            return ("liceberg_sql_" + "_".join(dotted.split(".")) + "_"
                    + _h.md5(dotted.encode()).hexdigest()[:6])

        for dotted, df in metadf.items():
            view = _view_name(dotted)
            df.createOrReplaceTempView(view)
            resolved[dotted] = view
        filters = {d: _extract_scan_filter(query, lits, d, a, t2,
                                           plain, counts)
                   for d, (t2, a) in plain.items()}
        # star-join shapes additionally runtime-filter the fact side by
        # the dim side's distinct join keys (sound pruning; bails to {}
        # on anything unprovable)
        rt = _runtime_join_filters(self, query, lits, plain, counts,
                                   filters)
        multi_table = len(plain) + len(metadf) > 1
        for dotted, (t, alias) in plain.items():
            from linkedin_iceberg_spark.expressions import and_ as _and
            flt = filters[dotted]
            if dotted in rt:
                flt = _and(flt, rt[dotted]) if flt is not None \
                    else rt[dotted]
            scan = t.new_scan().filter(flt) if flt is not None \
                else t.new_scan()
            tasks = scan.plan_files()
            if re.search(r"(?<![A-Za-z0-9_])_(?:file|pos)(?![A-Za-z0-9_])",
                         query) and not (
                    {"_file", "_pos"} & set(t.schema.column_names())):
                # the statement references the reserved metadata columns
                # (_file / _pos, MetadataColumns.java parity): register
                # the view with them attached; Spark re-applies the
                # WHERE row-level, so skipping residual grouping here
                # is sound
                from linkedin_iceberg_spark.catalog.deletes import (
                    apply_deletes)
                df = apply_deletes(t, tasks, keep_metadata=True)
            else:
                df = scan._to_df_default(tasks=tasks)
            # metadata-informed broadcast hint (the estimateStatistics
            # analog a pure-Python source can't report to Catalyst):
            # the PRUNED scan's summed file bytes x decompression
            # factor under the session broadcast threshold marks the
            # side broadcastable, so multi-table SQL plans BHJ without
            # waiting for an AQE shuffle to observe the size.  Spark
            # ignores hints where a broadcast is invalid (e.g. the
            # preserved side of an outer join), so this is advice, not
            # a plan override.  Planned ONCE: the same task list feeds
            # the size estimate and the read.
            if multi_table and _tasks_fit_broadcast(self.spark, tasks):
                from pyspark.sql import functions as _F
                df = _F.broadcast(df)
            view = _view_name(dotted)
            df.createOrReplaceTempView(view)
            resolved[dotted] = view
        # substitute longest-first so db.t.snapshots never half-matches a
        # db.t rewrite; a trailing dot is ALLOWED so qualified column
        # references (db.t.some_col) rewrite to view.some_col
        rewritten = query
        for dotted in sorted(resolved, key=len, reverse=True):
            rewritten = re.sub(
                rf"(?<![A-Za-z0-9_.]){re.escape(dotted)}(?![A-Za-z0-9_])",
                resolved[dotted], rewritten)
        return self.spark.sql(_unmask_sql_literals(rewritten, lits))

    def _sql_colocated_groupby(self, masked: str, lits: list):
        """`SELECT <group cols>, <aggs...> FROM db.t [WHERE key = lit |
        key IN (...)] GROUP BY <group cols> [HAVING ...] [ORDER BY
        <out cols>]` where ONE group column is bucketed by the CURRENT
        spec routes to the
        zero-shuffle co-located aggregation (catalog/colocated.py
        colocated_groupby): every group lives wholly inside one bucket,
        so per-bucket tasks aggregate their own files and the plan
        carries NO exchange and NO Spark aggregate operator — the
        shuffle a plain GROUP BY pays is the one the bucketed layout
        already paid at write time.  Secondary group columns (GROUP BY
        user_id, event_type) ride along free — the bucket key already
        confines every group to one bucket.  Aggs: count(*) / count(c) /
        count(DISTINCT c) / sum / min / max / avg.  WHERE is accepted
        ONLY as key-membership conjuncts (they commute with grouping
        and double as bucket pruning); anything else falls to the
        generic route.  Runs BEFORE _sql_group_count but bails when the
        spec ALSO identity-partitions the key (the metadata fold is
        zero-I/O there, strictly better).  NOTE sum/avg over floating
        columns follow the engine's per-bucket combination order, which
        may differ from Spark's shuffle order in the last ulp — the
        same engine-defined-semantics stance as approx_ndv.  Disable
        with spark.liceberg.sql.colocatedAggregate=false.  None when
        the statement is not exactly this shape."""
        import re

        from pyspark.sql import functions as F

        from linkedin_iceberg_spark.catalog.colocated import (
            _bucket_layout, colocated_groupby)
        from linkedin_iceberg_spark.expressions.expressions import (
            Operation, Predicate, Reference)

        if self.spark.conf.get("spark.liceberg.sql.colocatedAggregate",
                               "true").lower() == "false":
            return None
        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        m = re.match(
            rf"\s*select\s+(.+?)\s+from\s+({ident}(?:\.{ident})+)"
            rf"(?:\s+where\s+(.+?))?\s+group\s+by\s+(.+?)"
            rf"(?:\s+having\s+(.+?))?(?:\s+order\s+by\s+(.+?))?\s*;?\s*$",
            masked, re.IGNORECASE | re.DOTALL)
        if not m or not self.table_exists(m.group(2)):
            return None
        t = self.load_table(m.group(2))
        own = set(t.schema.column_names())
        gcols = []
        for g in _split_top_level_commas(m.group(4)):
            g = g.strip()
            if not re.match(rf"{ident}$", g) or g not in own:
                return None
            gcols.append(g)
        if not gcols or len(set(gcols)) != len(gcols):
            return None
        key = next((c for c in gcols
                    if _bucket_layout(t, c) is not None), None)
        if key is None:
            return None
        idents = {pf.source_name for pf in t.spec.fields
                  if pf.transform_str == "identity"}
        if all(c in idents for c in gcols):
            return None  # metadata grouped fold is zero-I/O: keep it
        agg_re = re.compile(
            rf"\s*(count|sum|min|max|avg)\(\s*"
            rf"(\*|distinct\s+{ident}|{ident})\s*\)"
            rf"(?:\s+as\s+({ident}))?\s*$", re.IGNORECASE)
        col_re = re.compile(rf"\s*({ident})(?:\s+as\s+({ident}))?\s*$",
                            re.IGNORECASE)
        aggs, items = [], []  # items: (is_key, out-name)
        for raw in _split_top_level_commas(m.group(1)):
            am = agg_re.match(raw)
            if am:
                fn, arg = am.group(1).lower(), am.group(2)
                if arg == "*":
                    if fn != "count":
                        return None
                    name = am.group(3) or "count(1)"
                    aggs.append(("count", None, name))
                elif re.match(r"(?i)distinct\s", arg):
                    if fn != "count":
                        return None
                    c = arg.split()[-1]
                    if c not in own:
                        return None
                    name = am.group(3) or f"count(DISTINCT {c})"
                    aggs.append(("count_distinct", c, name))
                else:
                    if arg not in own:
                        return None
                    name = am.group(3) or f"{fn}({arg})"
                    aggs.append((fn, arg, name))
                items.append((False, name))
                continue
            km = col_re.match(raw)
            if km and km.group(1) in gcols:
                items.append((km.group(1), km.group(2) or km.group(1)))
                continue
            return None
        if not aggs:
            return None
        col_out = {c: n for c, n in items if c is not False}
        if set(col_out) != set(gcols):
            return None  # every group col must appear in the output
        key_values = None
        if m.group(3):
            vals = None
            for conj in _split_top_level_and(m.group(3)):
                e = _try_parse_conjunct(conj, lits, m.group(2), None,
                                        own, set())
                if not (isinstance(e, Predicate) and
                        isinstance(e.term, Reference) and
                        e.term.name == key):
                    return None
                if e.op == Operation.EQ:
                    got = {e.literal}
                elif e.op == Operation.IN:
                    got = set(e.literals)
                else:
                    return None
                vals = got if vals is None else (vals & got)
            key_values = sorted(vals)
        out_names = [n for _c, n in items]
        orders = []
        if m.group(6):
            for o in _split_top_level_commas(m.group(6)):
                om = re.match(rf"\s*({ident})(?:\s+(asc|desc))?\s*$",
                              o, re.IGNORECASE)
                if not om or om.group(1) not in out_names:
                    return None
                c = F.col(om.group(1))
                orders.append(c.desc() if om.group(2)
                              and om.group(2).lower() == "desc"
                              else c.asc())
        having = None
        if m.group(5):
            hv_re = re.compile(
                rf"\s*({ident})\s*(=|<>|!=|<=|>=|<|>)\s*"
                rf"(-?\d+(?:\.\d+)?|\x00\d+\x00)\s*$")
            for conj in _split_top_level_and(m.group(5)):
                hm = hv_re.match(conj)
                if not hm or hm.group(1) not in out_names:
                    return None
                name, op, val = hm.groups()
                val = _unmask_sql_literals(val, lits)
                cond = F.expr(f"`{name}` {'!=' if op == '<>' else op} "
                              f"{val}")
                having = cond if having is None else (having & cond)
        if key_values is None and len(gcols) == 1 and \
                all(fn == "count" and c is None for fn, c, _n in aggs):
            # count-only GROUP BY on one column: if the histogram store
            # covers every live file, the metadata fold answers with
            # ZERO data I/O — defer to _sql_group_count (r8 ADVICE:
            # the co-located read was winning this exact shape)
            from linkedin_iceberg_spark.catalog.analyze import (
                histogram_covers)
            if histogram_covers(t, gcols[0]):
                return None
        df = colocated_groupby(t, gcols, aggs, key_values=key_values)
        for c, n in col_out.items():
            if n != c:
                df = df.withColumnRenamed(c, n)
        df = df.select(*out_names)
        if having is not None:
            df = df.filter(having)
        return df.orderBy(*orders) if orders else df

    def _sql_group_count(self, masked: str, lits: list):
        """`SELECT <group cols...>, count(*) | min(c) | max(c) |
        approx_count_distinct(c) | approx_percentile(c, <frac>)
        FROM db.t [WHERE <pushable>]
        GROUP BY <group cols> [HAVING ...] [ORDER BY <out cols>]
        [LIMIT n — ordered only; the heavy-hitters shape]`
        answered from metadata via count_rows_grouped /
        agg_minmax_grouped / approx_ndv_grouped /
        sampled_quantiles_from_store — per-partition record counts,
        exact file bounds, per-file KMV sketches, and the grouped
        SAMPLE plane are pure metadata folds when covered, and degrade
        gracefully (only the undecidable/uncovered files are read)
        otherwise.  approx_percentile (alias percentile_approx) is the
        ENGINE's deterministic bottom-k sample semantics (r11: the
        grouped spelling of the _sql_count_star route) — ONE group
        column, integer percents, and no WHERE (a persisted row sample
        cannot filter on other columns).  None (generic route)
        unless the whole statement is this shape and EVERY WHERE
        conjunct parses (all-or-nothing, same rule as _sql_count_star:
        a metadata answer can't re-apply a residual WHERE)."""
        import re

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from linkedin_iceberg_spark.expressions import and_

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        m = re.match(
            rf"\s*select\s+(.+?)\s+from\s+({ident}(?:\.{ident})+)"
            rf"(?:\s+where\s+(.+?))?\s+group\s+by\s+(.+?)"
            rf"(?:\s+having\s+(.+?))?(?:\s+order\s+by\s+(.+?))?"
            rf"(?:\s+limit\s+(\d+))?\s*;?\s*$",
            masked, re.IGNORECASE | re.DOTALL)
        if not m or not self.table_exists(m.group(2)):
            return None
        having_text, order_text = m.group(5), m.group(6)
        limit_n = int(m.group(7)) if m.group(7) else None
        t = self.load_table(m.group(2))
        own = set(t.schema.column_names())
        group_cols = []
        for g in _split_top_level_commas(m.group(4)):
            if g not in own:
                return None
            group_cols.append(g)
        cnt_re = re.compile(
            rf"\s*count\(\s*\*\s*\)(?:\s+as\s+({ident}))?\s*$",
            re.IGNORECASE)
        mm_re = re.compile(
            rf"\s*(min|max|approx_count_distinct)\(\s*({ident})\s*\)"
            rf"(?:\s+as\s+({ident}))?\s*$",
            re.IGNORECASE)
        cntd_re = re.compile(
            rf"\s*count\(\s*distinct\s+({ident})\s*\)"
            rf"(?:\s+as\s+({ident}))?\s*$", re.IGNORECASE)
        pctl_re = re.compile(
            rf"\s*(approx_percentile|percentile_approx)"
            rf"\(\s*({ident})\s*,\s*(0?\.\d+|[01](?:\.0*)?)\s*\)"
            rf"(?:\s+as\s+({ident}))?\s*$", re.IGNORECASE)
        col_re = re.compile(rf"\s*({ident})(?:\s+as\s+({ident}))?\s*$",
                            re.IGNORECASE)
        items = []      # (kind, col-or-None, out-name)
        pct_of = {}     # out-name -> integer percent (percentile items)
        for raw in _split_top_level_commas(m.group(1)):
            cm = cnt_re.match(raw)
            if cm:
                items.append(("count", None, cm.group(1) or "count(1)"))
                continue
            dm = cntd_re.match(raw)
            if dm and dm.group(1) in own:
                items.append(("count_distinct", dm.group(1),
                              dm.group(2) or
                              f"count(DISTINCT {dm.group(1)})"))
                continue
            pm = pctl_re.match(raw)
            if pm and pm.group(2) in own:
                # GROUPED approx_percentile (r11): the engine's
                # deterministic bottom-k SAMPLE semantics, served per
                # group from a grouped sample store when one covers
                # (col, group) — "p50 length per language" from
                # metadata — identical live recipe otherwise.  Same
                # rules as the global route (_sql_count_star): integer
                # percents only, and a WHERE bails below (a persisted
                # row sample cannot filter on other columns).
                frac = float(pm.group(3))
                pct = round(frac * 100)
                if abs(frac * 100 - pct) > 1e-9 or not 1 <= pct <= 100:
                    return None
                name = (pm.group(4)
                        or f"{pm.group(1).lower()}({pm.group(2)}, "
                           f"{pm.group(3)})")
                items.append(("approx_percentile", pm.group(2), name))
                pct_of[name] = int(pct)
                continue
            mmm = mm_re.match(raw)
            if mmm and mmm.group(2) in own:
                kind, c = mmm.group(1).lower(), mmm.group(2)
                items.append((kind, c,
                              mmm.group(3) or f"{kind}({c})"))
                continue
            km = col_re.match(raw)
            if km and km.group(1) in group_cols:
                items.append(("col", km.group(1),
                              km.group(2) or km.group(1)))
                continue
            return None
        if pct_of and (len(group_cols) != 1 or m.group(3)):
            # the grouped sample plane keys on ONE group column, and a
            # WHERE cannot filter a persisted sample: generic route
            return None
        if all(k == "col" for k, _c, _n in items):
            return None  # no aggregate at all: generic route
        out_names = [n for _k, _c, n in items]
        orders = []
        if order_text:
            for o in _split_top_level_commas(order_text):
                om = re.match(rf"\s*({ident})(?:\s+(asc|desc))?\s*$",
                              o, re.IGNORECASE)
                if not om or om.group(1) not in out_names:
                    return None
                c = F.col(om.group(1))
                orders.append(c.desc() if om.group(2)
                              and om.group(2).lower() == "desc"
                              else c.asc())
        having = None
        if having_text:
            # conservative HAVING: top-level AND of simple comparisons
            # over OUTPUT columns (`n > 5`, `st <> 'F'`) — anything
            # richer falls back to the generic route, same results
            hv_re = re.compile(
                rf"\s*({ident})\s*(=|<>|!=|<=|>=|<|>)\s*"
                rf"(-?\d+(?:\.\d+)?|\x00\d+\x00)\s*$")
            for conj in _split_top_level_and(having_text):
                hm = hv_re.match(conj)
                if not hm or hm.group(1) not in out_names:
                    return None
                name, op, val = hm.groups()
                val = _unmask_sql_literals(val, lits)
                cond = F.expr(f"{name} {'!=' if op == '<>' else op} "
                              f"{val}")
                having = cond if having is None else (having & cond)
        expr = None
        if m.group(3):
            conj = []
            for c in _split_top_level_and(m.group(3)):
                e = _try_parse_conjunct(c, lits, m.group(2), None,
                                        own, set())
                if e is None:
                    return None
                conj.append(e)
            expr = conj[0]
            for e in conj[1:]:
                expr = and_(expr, e)
        scan = t.new_scan()
        if expr is not None:
            scan = scan.filter(expr)
        kinds = {k for k, _c, _n in items}
        counts = scan.count_rows_grouped(group_cols) \
            if "count" in kinds else None
        minmax = {}  # col -> {key: (lo, hi)}, one pass per column
        ndvs = {}    # col -> {key: KMV estimate}, one pass per column
        exacts = {}  # col -> {key: exact distinct from dictionaries}
        for k, c, _n in items:
            if k in ("min", "max") and c not in minmax:
                # request only the sides the statement asks for: a
                # min-only column must not pay the max side's read
                # (float max never folds — NaN ordering)
                sides = tuple(s for s, kk in (("lo", "min"), ("hi", "max"))
                              if any(k2 == kk and c2 == c
                                     for k2, c2, _ in items))
                minmax[c] = scan.agg_minmax_grouped(group_cols, c,
                                                    sides=sides)
            elif k == "approx_count_distinct" and c not in ndvs:
                ndvs[c] = scan.approx_ndv_grouped(group_cols, c)
            elif k == "count_distinct" and c not in exacts:
                # exactness is all-or-nothing: a coverage gap sends the
                # whole statement to the generic route
                ex = scan.exact_ndv_from_dict_grouped(group_cols, c)
                if ex is None:
                    return None
                exacts[c] = ex
        qmaps = {}  # (col, pct) -> {group value: quantile_value}
        if pct_of:
            from linkedin_iceberg_spark.catalog.analyze import (
                sampled_quantiles_from_store)
            by_col: dict = {}
            for k, c, n in items:
                if k == "approx_percentile":
                    by_col.setdefault(c, set()).add(pct_of[n])
            gcol = group_cols[0]
            try:
                for c, ps in sorted(by_col.items()):
                    for r in sampled_quantiles_from_store(
                            t, c, pcts=tuple(sorted(ps)),
                            group_col=gcol).collect():
                        qmaps.setdefault((c, r["pct"]), {})[r[gcol]] = \
                            r["quantile_value"]
            except ValueError:
                return None  # unsupported value/group type: generic
        keys = set()
        if counts is not None:
            keys |= set(counts)
        for mm in minmax.values():
            keys |= set(mm)
        for nd in ndvs.values():
            keys |= set(nd)
        for ex in exacts.values():
            keys |= set(ex)
        if pct_of:
            # groups whose every value is NULL have no sample rows but
            # must still appear (Spark returns them with a NULL
            # percentile).  The grouped store's per-(file, group)
            # markers enumerate the full universe from metadata;
            # uncovered/deleted tables enumerate live (the percentile
            # serve fell back to a live scan in that case anyway).
            from linkedin_iceberg_spark.catalog.analyze import (
                sample_store_groups)
            gvals = None
            for c in sorted(by_col):
                try:
                    gvals = sample_store_groups(t, c,
                                                group_col=group_cols[0])
                except ValueError:
                    gvals = None
                if gvals is not None:
                    break
            if gvals is None:
                gvals = [r[0] for r in t.to_df()
                         .select(group_cols[0]).distinct().collect()]
            keys |= {(v,) for v in gvals}
        stypes = {f.name: f.dataType for f in t.schema.to_spark().fields}
        fields = []
        for k, c, n in items:
            if k in ("count", "approx_count_distinct", "count_distinct"):
                fields.append(T.StructField(n, T.LongType(), False))
            elif k == "col":
                fields.append(T.StructField(n, stypes[c], True))
            else:
                fields.append(T.StructField(n, stypes[c], True))
        rows = []
        for key in keys:
            kv = dict(zip(group_cols, key))
            row = []
            for k, c, _n in items:
                if k == "count":
                    row.append(int(counts.get(key, 0)))
                elif k == "approx_count_distinct":
                    row.append(int(ndvs[c].get(key, 0)))
                elif k == "count_distinct":
                    row.append(int(exacts[c].get(key, 0)))
                elif k == "approx_percentile":
                    row.append(qmaps.get((c, pct_of[_n]),
                                         {}).get(key[0]))
                elif k == "col":
                    row.append(kv[c])
                else:
                    lo, hi = minmax[c].get(key, (None, None))
                    row.append(lo if k == "min" else hi)
            rows.append(tuple(row))
        df = self.spark.createDataFrame(rows, T.StructType(fields))
        if having is not None:
            df = df.filter(having)
        if orders:
            df = df.orderBy(*orders)
        if limit_n is not None:
            if not orders:
                return None  # unordered LIMIT is arbitrary: generic route
            df = df.limit(limit_n)
        return df

    def _sql_count_star(self, masked: str, lits: list):
        """`SELECT count(*) | min(c) | max(c) | approx_count_distinct(c)
        | count(DISTINCT c) | approx_percentile(c, <frac>) [, ...]
        FROM db.t [WHERE <pushable>]`
        answered from manifest metadata via the scan's count_rows() /
        agg_minmax() / approx_ndv() / exact_ndv_from_dict() /
        sample-store planes — partition-aligned counts, exact-bounds
        min/max, and KMV-store distinct estimates are metadata
        operations, zero data I/O, and all degrade gracefully by
        actually reading only undecidable/uncovered files (ref: the
        aggregate pushdown of the modern SparkScan; our SQL spelling of
        the driver-green table_count_pushdown path).  NOTE
        approx_count_distinct here is the ENGINE's deterministic KMV
        semantics, not Spark's HLL++ — documented in approx_ndv; the
        two differ only within each other's error bands.  Likewise
        approx_percentile (alias percentile_approx) is the ENGINE's
        deterministic bottom-k SAMPLE semantics
        (analyze.sampled_quantiles_from_store — store-served when the
        sample plane covers the live files, byte-identical live recipe
        otherwise) rather than Spark's KLL-ish sketch; the fraction
        must land on an integer percent (the house rank convention)
        and a WHERE clause sends the statement to the generic route (a
        persisted row sample cannot filter on other columns).  None
        (falls through to the generic
        Spark route) unless the ENTIRE statement is this shape, every
        select item is one of the listed aggregates, and EVERY WHERE
        conjunct parses into an engine predicate — partial extraction
        is sound for scans (the residual WHERE re-applies) but NOT for
        a metadata-answered aggregate, so all-or-nothing."""
        import re

        from pyspark.sql import types as T

        from linkedin_iceberg_spark.expressions import and_

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        m = re.match(
            rf"\s*select\s+(.+?)\s+"
            rf"from\s+({ident}(?:\.{ident})+)(?:\s+where\s+(.+?))?"
            rf"\s*;?\s*$",
            masked, re.IGNORECASE | re.DOTALL)
        if not m or not self.table_exists(m.group(2)):
            return None
        t = self.load_table(m.group(2))
        own = set(t.schema.column_names())
        item_re = re.compile(
            rf"\s*(count\(\s*\*\s*\)"
            rf"|count\(\s*distinct\s+({ident})\s*\)"
            rf"|(min|max|approx_count_distinct)\(\s*({ident})\s*\)"
            rf"|(approx_percentile|percentile_approx)"
            rf"\(\s*({ident})\s*,\s*(0?\.\d+|[01](?:\.0*)?)\s*\))"
            rf"(?:\s+as\s+({ident}))?\s*$", re.IGNORECASE)
        items = []  # (kind, col-or-None, out-name, extra)
        for raw in _split_top_level_commas(m.group(1)):
            im = item_re.match(raw)
            if not im:
                return None  # not a pure fast-aggregate select list
            if im.group(2):  # count(DISTINCT col): dictionary-exact
                kind, col = "count_distinct", im.group(2)
                if col not in own:
                    return None
                name = im.group(8) or f"count(DISTINCT {col})"
                items.append((kind, col, name, None))
            elif im.group(3):  # min/max/approx_count_distinct
                kind, col = im.group(3).lower(), im.group(4)
                if col not in own:
                    return None
                name = im.group(8) or f"{kind}({col})"
                items.append((kind, col, name, None))
            elif im.group(5):  # approx_percentile(col, frac)
                col, frac = im.group(6), float(im.group(7))
                if col not in own:
                    return None
                pct = round(frac * 100)
                # the house rank convention is integer percents in
                # [1, 100]; anything finer takes the generic route
                if abs(frac * 100 - pct) > 1e-9 or not 1 <= pct <= 100:
                    return None
                name = im.group(8) or f"approx_percentile({col}, {frac})"
                items.append(("approx_percentile", col, name, int(pct)))
            else:
                kind, col = "count", None
                name = im.group(8) or "count(1)"  # Spark's name
                items.append((kind, col, name, None))
        if not items:
            return None
        expr = None
        if m.group(3):
            conj = []
            for c in _split_top_level_and(m.group(3)):
                e = _try_parse_conjunct(c, lits, m.group(2), None,
                                        own, set())
                if e is None:
                    return None  # unprovable conjunct: generic route
                conj.append(e)
            expr = conj[0]
            for e in conj[1:]:
                expr = and_(expr, e)
        scan = t.new_scan()
        if expr is not None:
            scan = scan.filter(expr)
        minmax: dict = {}  # col -> (lo, hi), one pass per column
        values, fields = [], []
        spark_types = {f.name: f.dataType
                       for f in t.schema.to_spark().fields}
        for kind, col, name, extra in items:
            if kind == "count":
                values.append(scan.count_rows())
                fields.append(T.StructField(name, T.LongType(), False))
            elif kind == "approx_percentile":
                # engine-defined semantics: the deterministic bottom-k
                # sample quantile (store-served when covered, identical
                # live recipe otherwise).  A WHERE clause already bailed
                # above — a persisted row sample cannot filter rows.
                if expr is not None:
                    return None
                from linkedin_iceberg_spark.catalog.analyze import (
                    sampled_quantiles_from_store)
                row = sampled_quantiles_from_store(
                    t, col, pcts=(extra,)).head()
                values.append(None if row is None
                              else row["quantile_value"])
                fields.append(T.StructField(name, spark_types[col], True))
            elif kind == "approx_count_distinct":
                # engine-defined semantics: the deterministic KMV
                # estimate (scan.approx_ndv) — served from the per-file
                # bottom-k store when analyze_table_kmv covers the
                # surviving delete-free files, identical value from a
                # live hash of the remainder otherwise
                values.append(scan.approx_ndv(col))
                fields.append(T.StructField(name, T.LongType(), False))
            elif kind == "count_distinct":
                # EXACT count(DISTINCT col) from the dictionary store —
                # all-or-nothing: any coverage gap sends the WHOLE
                # statement to the generic route (the answer must be
                # exact, unlike the approx aggregate above)
                v = scan.exact_ndv_from_dict(col)
                if v is None:
                    return None
                values.append(v)
                fields.append(T.StructField(name, T.LongType(), False))
            else:
                if col not in minmax:
                    sides = tuple(
                        s for s, kk in (("lo", "min"), ("hi", "max"))
                        if any(k2 == kk and c2 == col
                               for k2, c2, _, _ in items))
                    minmax[col] = scan.agg_minmax(col, sides=sides)
                lo, hi = minmax[col]
                values.append(lo if kind == "min" else hi)
                fields.append(T.StructField(name, spark_types[col], True))
        return self.spark.createDataFrame(
            [tuple(values)], T.StructType(fields))

    def _sql_insert_static_partition(self, mode: str, tname: str,
                                     part_spec: str, body: str, status):
        """INSERT INTO/OVERWRITE ... PARTITION (col='v', ...) — the
        static-partition form (ref: spark3/.../sql/
        TestPartitionedWrites.java static-partition cases).  Each
        PARTITION column must be an IDENTITY partition source of the
        current spec (transform partitions — month(ts), bucket(k) —
        have no static SQL spelling; Spark rejects those too).  The
        source frame omits the static columns; they are filled as
        constants.  OVERWRITE becomes overwrite-by-filter on the
        partition equality conjunction (W4) — exactly the declared
        partition is replaced, nothing dynamic."""
        import re

        from pyspark.sql import functions as F

        from linkedin_iceberg_spark.expressions import and_, eq

        t = self.load_table(tname)
        idents = {f.source_name for f in t.spec.fields
                  if f.transform_str == "identity"}
        masked, lits = _mask_sql_literals(part_spec)
        assigns = {}
        for part in _split_top_level_commas(masked):
            cm = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*"
                          r"(\x00\d+\x00|-?\d+(?:\.\d+)?|true|false)\s*$",
                          part, re.IGNORECASE)
            if not cm:
                raise ValueError(f"malformed PARTITION clause: {part!r}")
            col, raw = cm.group(1), cm.group(2)
            if col not in idents:
                raise ValueError(
                    f"PARTITION column {col!r} is not an identity "
                    f"partition source of the current spec "
                    f"(identity sources: {sorted(idents)})")
            if raw.startswith("\x00"):
                val = lits[int(raw.strip("\x00"))].strip("'") \
                    .replace("''", "'")
            elif raw.lower() in ("true", "false"):
                val = raw.lower() == "true"
            elif "." in raw:
                val = float(raw)
            else:
                val = int(raw)
            assigns[col] = val
        body = body.strip().rstrip(";")
        if re.match(r"values\b", body, re.IGNORECASE):
            df = self.spark.sql(f"SELECT * FROM {body}")
        else:
            df = self.sql(body)
        fields = t.schema.to_spark().fields
        rest = [f.name for f in fields if f.name not in assigns]
        if len(df.columns) != len(rest):
            raise ValueError(
                f"INSERT ... PARTITION supplies {len(df.columns)} "
                f"columns for the {len(rest)} non-partition columns "
                f"{rest}")
        df = df.toDF(*rest)
        for col, val in assigns.items():
            df = df.withColumn(col, F.lit(val))
        df = self._align_insert_df(t, df, None, by_name=True)
        if mode.lower() == "overwrite":
            conj = [eq(c, v) for c, v in sorted(assigns.items())]
            expr = conj[0]
            for e in conj[1:]:
                expr = and_(expr, e)
            t.overwrite_where(df, expr)
            summ = t.metadata.current_snapshot.summary
            return status("insert_overwrite",
                          summ.get("added-records", -1))
        t.append(df)
        summ = t.metadata.current_snapshot.summary
        return status("insert", summ.get("added-records", -1))

    def _align_insert_df(self, t: "Table", df: DataFrame,
                         cols: Optional[list],
                         by_name: bool = False) -> DataFrame:
        """Align an INSERT source frame to the target table's schema:
        with an explicit column list the source binds to it positionally
        and unmentioned target columns fill with NULL; without one, the
        source binds POSITIONALLY — the SQL-standard ordinal rule Spark
        itself applies to `INSERT INTO t SELECT b, a`, never silently
        remapped by name.  `by_name=True` is for internal callers whose
        frame is already target-named but possibly reordered (the static
        PARTITION path appends the assigned partition columns last).
        Every output column casts to the target type, so VALUES integer
        literals land in BIGINT columns losslessly."""
        from pyspark.sql import functions as F

        fields = t.schema.to_spark().fields
        names = [f.name for f in fields]
        if by_name:
            missing = [n for n in names if n not in set(df.columns)]
            if missing:
                raise ValueError(
                    f"INSERT source is missing target column(s) "
                    f"{missing}")
        elif cols is not None:
            unknown = [c for c in cols if c not in names]
            if unknown:
                raise ValueError(
                    f"INSERT column(s) {unknown} not in target "
                    f"table (columns: {names})")
            if len(df.columns) != len(cols):
                raise ValueError(
                    f"INSERT supplies {len(df.columns)} values for "
                    f"{len(cols)} named columns")
            df = df.toDF(*cols)
        else:
            if len(df.columns) != len(names):
                raise ValueError(
                    f"INSERT source has {len(df.columns)} columns; "
                    f"target has {len(names)}")
            df = df.toDF(*names)
        have = set(df.columns)
        return df.select(*[
            (F.col(f.name) if f.name in have
             else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in fields])

    def _sql_dml(self, query: str):
        """Route INSERT/DELETE/UPDATE statements to the commit operators
        (None when `query` is not DML).  Predicates go through the
        engine's own parser — so metadata-only deletes, partition
        pruning, and conflict validation behave exactly as the API
        route — and the returned one-row frame reads its counts from
        the committed snapshot's summary (no recount scan)."""
        import re

        from pyspark.sql import functions as F

        from linkedin_iceberg_spark.expressions.parser import parse_expr

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        dotted = rf"{ident}(?:\.{ident})+"

        def status(op: str, rows) -> DataFrame:
            return self.spark.createDataFrame(
                [(op, int(rows))], "operation string, rows_affected long")

        m = re.match(rf"\s*truncate\s+table\s+({dotted})\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            from linkedin_iceberg_spark.expressions import always_true
            t = self.load_table(m.group(1))
            # row count from metadata (zero data I/O), then a
            # metadata-only delete of every live file
            n = t.new_scan().count_rows()
            t.delete_where(always_true())
            return status("truncate", n)

        m = re.match(
            rf"\s*insert\s+(into|overwrite)\s+(?:table\s+)?({dotted})\s*"
            rf"(?:partition\s*\(([^)]*)\)\s*)?"
            rf"(?:\(\s*({ident}(?:\s*,\s*{ident})*)\s*\)\s*)?"
            rf"((?:select|values|with)\b.*)",
            query, re.IGNORECASE | re.DOTALL)
        if m:
            mode, tname, part_spec, col_list, body = m.groups()
            if part_spec is not None:
                if col_list:
                    raise ValueError(
                        "INSERT ... PARTITION with an explicit column "
                        "list is not supported; list only the "
                        "non-partition columns' values")
                return self._sql_insert_static_partition(
                    mode, tname, part_spec, body, status)
            t = self.load_table(tname)
            body = body.strip().rstrip(";")
            if re.match(r"values\b", body, re.IGNORECASE):
                # Spark's inline-table grammar parses the row list
                # (typed literals, casts, NULLs) — columns come back
                # positional (col1, col2, ...) and are renamed below
                df = self.spark.sql(f"SELECT * FROM {body}")
            else:
                df = self.sql(body)
            cols = [c.strip() for c in col_list.split(",")] \
                if col_list else None
            df = self._align_insert_df(t, df, cols)
            if mode.lower() == "overwrite":
                # route by table shape (the reference's Spark writer
                # split: ReplacePartitions for partitioned tables,
                # OverwriteFiles otherwise — spark2/.../Writer.java:
                # 182-190): dynamic partition overwrite replaces exactly
                # the partitions present in df; an unpartitioned table
                # is fully replaced (overwrite-by-filter over TRUE)
                if t.spec.fields:
                    t.overwrite_partitions(df)
                else:
                    from linkedin_iceberg_spark.expressions import (
                        always_true)
                    t.overwrite_where(df, always_true())
                summ = t.metadata.current_snapshot.summary
                return status("insert_overwrite",
                              summ.get("added-records", -1))
            t.append(df)
            summ = t.metadata.current_snapshot.summary
            return status("insert", summ.get("added-records", -1))

        if re.match(r"\s*merge\s+into\b", query, re.IGNORECASE):
            return self._sql_merge(query)

        m = re.match(rf"\s*delete\s+from\s+({dotted})\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            # WHERE-less DELETE: remove every row — same metadata-only
            # plan as TRUNCATE (every live file's strict projection
            # decides TRUE, zero rewrites)
            from linkedin_iceberg_spark.expressions import always_true
            t = self.load_table(m.group(1))
            n = t.new_scan().count_rows()
            t.delete_where(always_true())
            return status("delete", n)

        m = re.match(rf"\s*delete\s+from\s+({dotted})\s+where\s+"
                     rf"({ident})\s+in\s*\(\s*(select\b.+)\)\s*;?\s*$",
                     query, re.IGNORECASE | re.DOTALL)
        if m:
            # DELETE ... WHERE col IN (SELECT ...): the subquery result
            # becomes an EQUALITY-DELETE file (one sequence-scoped
            # RowDelta commit, no copy-on-write of untouched files) —
            # the reference's engine-delegated row-level delete shape.
            # The subquery may read any engine table, including the
            # target itself (keys materialize before the commit).  IN
            # semantics: NULL keys match nothing.
            t = self.load_table(m.group(1))
            col = m.group(2)
            if col not in t.schema.column_names():
                raise ValueError(f"DELETE key {col!r} is not a column "
                                 f"of {m.group(1)}")
            keys = self.sql(m.group(3).strip())
            if len(keys.columns) != 1:
                raise ValueError("IN (SELECT ...) must produce exactly "
                                 f"one column, got {keys.columns}")
            keys = keys.toDF(col).filter(F.col(col).isNotNull()) \
                .distinct()
            # matched rows BEFORE the commit (the rows_affected
            # contract); a semi-join count, since arbitrary keys have
            # no metadata pushdown
            n = t.to_df().join(keys, col, "left_semi").count()
            t.row_delta(equality_delete_keys=keys, key_cols=[col])
            return status("delete", n)

        m = re.match(rf"\s*delete\s+from\s+({dotted})\s+where\s+(.+)",
                     query, re.IGNORECASE | re.DOTALL)
        if m:
            t = self.load_table(m.group(1))
            expr = parse_expr(m.group(2).strip().rstrip(";"))
            # matched-row count BEFORE the rewrite via the metadata COUNT
            # pushdown (same as the UPDATE path).  Summary arithmetic
            # (deleted-records - added-records) overcounts when rewritten
            # files carried pre-existing position/equality deletes: rows
            # already shadowed by those delete files sit in the removed
            # files' record_count but are absent from the survivors
            n = t.new_scan().filter(expr).count_rows()
            t.delete_where(expr)
            return status("delete", n)

        m = re.match(rf"\s*update\s+({dotted})\s+set\s+(.+?)\s+where\s+"
                     rf"({ident})\s+in\s*\(\s*(select\b.+)\)\s*;?\s*$",
                     query, re.IGNORECASE | re.DOTALL)
        if m:
            # UPDATE ... WHERE col IN (SELECT ...): routed through the
            # MERGE operator (matched-update only, ONE sequence-scoped
            # RowDelta commit).  SET expressions see the target's
            # columns; reference the KEY column as t.<col> (unqualified
            # it is ambiguous against the key set's side of the join).
            from linkedin_iceberg_spark.catalog.row_delta import merge
            t = self.load_table(m.group(1))
            col = m.group(3)
            if col not in t.schema.column_names():
                raise ValueError(f"UPDATE key {col!r} is not a column "
                                 f"of {m.group(1)}")
            keys = self.sql(m.group(4).strip())
            if len(keys.columns) != 1:
                raise ValueError("IN (SELECT ...) must produce exactly "
                                 f"one column, got {keys.columns}")
            keys = keys.toDF(col).filter(F.col(col).isNotNull()) \
                .distinct()
            assigns = {}
            for part in _split_top_level_commas(m.group(2)):
                c, _, val = part.partition("=")
                if not c.strip() or not val.strip():
                    raise ValueError(f"malformed SET clause: {part!r}")
                assigns[c.strip()] = F.expr(val.strip())
            n = t.to_df().join(keys, col, "left_semi").count()
            merge(t, keys, key_cols=[col], matched_update=assigns,
                  insert_unmatched=False)
            return status("update", n)

        m = re.match(rf"\s*update\s+({dotted})\s+set\s+(.+?)"
                     rf"(?:\s+where\s+(.+))?\s*;?\s*$",
                     query, re.IGNORECASE | re.DOTALL)
        if m:
            t = self.load_table(m.group(1))
            assigns = {}
            # split assignments on TOP-LEVEL commas only (values may be
            # function calls); each is `col = <spark sql expression>`
            depth, cur, parts = 0, [], []
            for ch in m.group(2):
                depth += ch == "("
                depth -= ch == ")"
                if ch == "," and depth == 0:
                    parts.append("".join(cur))
                    cur = []
                else:
                    cur.append(ch)
            parts.append("".join(cur))
            for part in parts:
                col, _, val = part.partition("=")
                if not col.strip() or not val.strip():
                    raise ValueError(f"malformed SET clause: {part!r}")
                assigns[col.strip()] = F.expr(val.strip())
            from linkedin_iceberg_spark.expressions import always_true
            expr = parse_expr(m.group(3).strip().rstrip(";")) \
                if m.group(3) else always_true()  # WHERE-less: all rows
            # matched-row count BEFORE the rewrite, via the metadata
            # COUNT pushdown (only residual-undecided files are read) —
            # the rewrite's own summary counts rewritten rows, not
            # matched ones
            n = t.new_scan().filter(expr).count_rows()
            t.update_where(expr, assigns)
            return status("update", n)

        return None

    def _sql_ddl(self, query: str):
        """Route DDL statements to the catalog/evolution operators (None
        when `query` is not DDL).  Supported:

            CREATE [OR REPLACE] TABLE db.t
              [PARTITIONED BY (month(c), bucket(16, k), c2, ...)]
              AS SELECT ...                                (CTAS / RTAS)
            CREATE TABLE [IF NOT EXISTS] db.t
              (col TYPE [NOT NULL] [COMMENT '...'], ...)
              [USING fmt] [PARTITIONED BY (...)]
              [TBLPROPERTIES ('k'='v', ...)]   (ref: spark3/.../sql/
                                    TestCreateTable.java:54,99)
            CREATE TABLE [IF NOT EXISTS] db.t2 LIKE db.t
            CREATE [OR REPLACE] VIEW db.v AS SELECT ...
            DROP VIEW [IF EXISTS] db.v
            CREATE MATERIALIZED VIEW db.mv AS
              SELECT keys..., fn(col) AS alias... FROM db.t
              GROUP BY keys                    (incremental_view plane)
            REFRESH MATERIALIZED VIEW db.mv    (changelog fold)
            DROP MATERIALIZED VIEW [IF EXISTS] db.mv
            EXPLAIN [FORMATTED|EXTENDED] SELECT ...   (plan as rows)
            SHOW TABLES [IN ns] / SHOW NAMESPACES [IN ns] / SHOW VIEWS
            SHOW PARTITIONS db.t / SHOW CREATE TABLE db.t
            CREATE NAMESPACE [IF NOT EXISTS] ns
            DROP NAMESPACE [IF EXISTS] ns      (refuses non-empty)
            DESCRIBE [EXTENDED] db.t           (tables and views)
            DROP TABLE [IF EXISTS] db.t
            ALTER TABLE db.t RENAME TO db.u    (logical-name remap)
            ALTER TABLE db.t ALTER COLUMN c
              (COMMENT '...' | SET/DROP NOT NULL | FIRST | AFTER o)
            ALTER TABLE db.t UNSET TBLPROPERTIES ('k', ...)
            ALTER TABLE db.t WRITE ORDERED BY (cols | zorder(cols))
            ALTER TABLE db.t WRITE DISTRIBUTED BY
              (PARTITION | HASH | RANGE | NONE)
            (TRUNCATE TABLE and INSERT ... PARTITION (col=v) route
             through _sql_dml)
            ALTER TABLE db.t ADD COLUMN[S] name TYPE [, name TYPE ...]
            ALTER TABLE db.t DROP COLUMN name
            ALTER TABLE db.t RENAME COLUMN a TO b
            ALTER TABLE db.t ALTER COLUMN a TYPE <type>    (promotion)
            ALTER TABLE db.t ADD PARTITION FIELD <transform>
            ALTER TABLE db.t DROP PARTITION FIELD <transform-or-name>
            ALTER TABLE db.t SET TBLPROPERTIES ('k'='v', ...)
            ALTER TABLE db.t CREATE [OR REPLACE] BRANCH|TAG [IF NOT
              EXISTS] name [AS OF VERSION n] [RETAIN n DAYS|HOURS|
              MINUTES]
            ALTER TABLE db.t REPLACE BRANCH|TAG name AS OF VERSION n
            ALTER TABLE db.t DROP BRANCH|TAG [IF EXISTS] name
            ALTER TABLE db.t SET IDENTIFIER FIELDS a [, b ...]
            ALTER TABLE db.t DROP IDENTIFIER FIELDS a [, b ...]

        Schema changes go through the evolution plane (field ids
        preserved, promotions validated) and partition-field changes
        through spec evolution (existing files keep their spec_id and
        stay scannable), so old snapshots keep reading correctly —
        exactly the API route, just spelled in SQL."""
        import re

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        dotted = rf"{ident}(?:\.{ident})+"

        def status(op: str, detail: str) -> DataFrame:
            return self.spark.createDataFrame(
                [(op, detail)], "operation string, detail string")

        m = re.match(
            rf"\s*create\s+(or\s+replace\s+)?table\s+({dotted})\s+"
            rf"(?:partitioned\s+by\s*\(([^)]*(?:\([^)]*\)[^)]*)*)\)\s+)?"
            rf"as\s+(select\b.*)", query, re.IGNORECASE | re.DOTALL)
        if m:
            df = self.sql(m.group(4))
            spec = None
            if m.group(3):
                b = PartitionSpec.builder_for(Schema.from_spark(df.schema))
                depth, cur, parts = 0, [], []
                for ch in m.group(3):
                    depth += ch == "("
                    depth -= ch == ")"
                    if ch == "," and depth == 0:
                        parts.append("".join(cur))
                        cur = []
                    else:
                        cur.append(ch)
                parts.append("".join(cur))
                for p in parts:
                    _apply_sql_transform(b, p)
                spec = b.build()
            if m.group(1):
                t = self.replace_table_as_select(m.group(2), df, spec=spec)
            else:
                t = self.create_table_as_select(m.group(2), df, spec=spec)
            summ = t.metadata.current_snapshot.summary
            return status("create_table",
                          f"rows={summ.get('added-records', '0')}")

        m = re.match(
            rf"\s*create\s+table\s+(if\s+not\s+exists\s+)?({dotted})\s*\(",
            query, re.IGNORECASE)
        if m:
            # plain CREATE TABLE with a column list (ref: spark3/.../sql/
            # TestCreateTable.java:54 create / :99 createPartitioned).
            # Column list is cut on the BALANCED close paren — types like
            # DECIMAL(10,2) nest — then the tail may carry USING <fmt>,
            # PARTITIONED BY (...), TBLPROPERTIES (...)
            if_not_exists, tname = m.group(1), m.group(2)
            col_text, tail = _cut_balanced(query[m.end():])
            if if_not_exists and self.table_exists(tname):
                return status("create_table", "skipped: exists")
            from linkedin_iceberg_spark.schema import NestedField
            fields = []
            for part in _split_type_commas(col_text):
                cm = re.match(
                    rf"({ident})\s+(.+?)"
                    rf"(\s+not\s+null)?(?:\s+comment\s+'((?:[^']|'')*)')?"
                    rf"\s*$", part.strip(), re.IGNORECASE | re.DOTALL)
                if not cm:
                    raise ValueError(f"malformed column definition: "
                                     f"{part.strip()!r}")
                fields.append(NestedField(
                    0, cm.group(1),
                    _sql_type_def(cm.group(2)),
                    required=bool(cm.group(3)),
                    doc=cm.group(4).replace("''", "'")
                    if cm.group(4) else None))
            schema = Schema(_assign_fresh_ids(fields))
            tail = re.sub(rf"^\s*using\s+{ident}", "", tail,
                          flags=re.IGNORECASE)
            spec, props = None, None
            pm = re.search(r"\bpartitioned\s+by\s*\(", tail, re.IGNORECASE)
            if pm:
                ptext, _ = _cut_balanced(tail[pm.end():])
                b = PartitionSpec.builder_for(schema)
                for p in _split_top_level_commas(ptext):
                    _apply_sql_transform(b, p)
                spec = b.build()
            tm = re.search(r"\btblproperties\s*\(", tail, re.IGNORECASE)
            if tm:
                ptext, _ = _cut_balanced(tail[tm.end():])
                props = {}
                for km, vm in re.findall(r"'((?:[^']|'')*)'\s*=\s*"
                                         r"'((?:[^']|'')*)'", ptext):
                    props[km.replace("''", "'")] = vm.replace("''", "'")
            # COMMENT 'Table doc' -> the 'comment' property; LOCATION
            # '...' pins the physical dir (ref: spark3/.../sql/
            # TestCreateTable.java testCreateTableComment/Location)
            cm2 = re.search(r"\bcomment\s+'((?:[^']|'')*)'", tail,
                            re.IGNORECASE)
            if cm2:
                props = dict(props or {})
                props["comment"] = cm2.group(1).replace("''", "'")
            loc = None
            lm = re.search(r"\blocation\s+'((?:[^']|'')*)'", tail,
                           re.IGNORECASE)
            if lm:
                loc = lm.group(1).replace("''", "'")
            self.create_table(tname, schema, spec=spec, properties=props,
                              location=loc)
            return status("create_table",
                          f"columns={len(fields)}"
                          + (f",partitioned_by={len(spec.fields)}"
                             if spec else ""))

        m = re.match(rf"\s*create\s+table\s+(if\s+not\s+exists\s+)?"
                     rf"({dotted})\s+like\s+({dotted})\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            # CREATE TABLE ... LIKE: clone schema + partition spec +
            # properties (field ids re-assigned fresh), no data
            if m.group(1) and self.table_exists(m.group(2)):
                return status("create_table", "skipped: exists")
            src = self.load_table(m.group(3))
            b = PartitionSpec.builder_for(src.schema)
            for f in src.spec.fields:
                _replay_spec_field(b, f)
            # lineage-bound properties (clone registry, MV spec) must
            # NOT transfer — they describe the source's files/identity
            props = {k: v for k, v in src.properties.items()
                     if not k.startswith(("snapshot.", "mview.",
                                          "view."))}
            self.create_table(m.group(2), src.schema,
                              spec=b.build(), properties=props)
            return status("create_table", f"like={m.group(3)}")

        m = re.match(rf"\s*drop\s+table\s+(if\s+exists\s+)?({dotted})"
                     rf"\s*;?\s*$", query, re.IGNORECASE)
        if m:
            if m.group(1) and not self.table_exists(m.group(2)):
                return status("drop_table", "skipped: no such table")
            return status("drop_table",
                          f"dropped={self.drop_table(m.group(2))}")

        m = re.match(rf"\s*show\s+tables(?:\s+in\s+({ident}(?:\.{ident})*))?"
                     rf"\s*;?\s*$", query, re.IGNORECASE)
        if m:
            ns = m.group(1) or ""
            rows = []
            for full in self.list_tables(ns):
                dotted_full = f"{ns}.{full}" if ns else full
                namespace, _, tbl = dotted_full.rpartition(".")
                rows.append((namespace, tbl))
            return self.spark.createDataFrame(
                rows, "namespace string, tableName string")

        m = re.match(rf"\s*show\s+partitions\s+({ident}(?:\.{ident})+)"
                     rf"\s*;?\s*$", query, re.IGNORECASE)
        if m:
            # Hive/Spark's SHOW PARTITIONS answered from manifest
            # metadata (zero data I/O) — served as the partitions
            # metadata relation (partition string + record/file counts,
            # strictly more than Spark's bare string list); Spark's own
            # error shape for unpartitioned tables
            t = self.load_table(m.group(1))
            if not t.spec.fields:
                raise ValueError(
                    f"SHOW PARTITIONS is not allowed on a table that is "
                    f"not partitioned: {m.group(1)}")
            return t.metadata_table("partitions")

        m = re.match(rf"\s*show\s+namespaces(?:\s+in\s+"
                     rf"({ident}(?:\.{ident})*))?\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            base = os.path.join(self.warehouse,
                                *m.group(1).split(".")) \
                if m.group(1) else self.warehouse
            rows = []
            if os.path.isdir(base):
                for d in sorted(os.listdir(base)):
                    p = os.path.join(base, d)
                    # a namespace is a dir that is NOT itself a table
                    if os.path.isdir(p) and not os.path.isdir(
                            os.path.join(p, "metadata")):
                        rows.append((d,))
            return self.spark.createDataFrame(rows, "namespace string")

        m = re.match(rf"\s*create\s+namespace\s+(if\s+not\s+exists\s+)?"
                     rf"({ident}(?:\.{ident})*)\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            p = os.path.join(self.warehouse, *m.group(2).split("."))
            if os.path.isdir(p):
                if m.group(1):
                    return status("create_namespace", "skipped: exists")
                raise AlreadyExistsError(
                    f"namespace {m.group(2)} already exists")
            os.makedirs(p)
            return status("create_namespace", m.group(2))

        m = re.match(rf"\s*drop\s+namespace\s+(if\s+exists\s+)?"
                     rf"({ident}(?:\.{ident})*)\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            p = os.path.join(self.warehouse, *m.group(2).split("."))
            if not os.path.isdir(p):
                if m.group(1):
                    return status("drop_namespace", "skipped: no such")
                raise NoSuchTableError(f"no such namespace: {m.group(2)}")
            if self.list_tables(m.group(2)):
                raise ValueError(
                    f"namespace {m.group(2)} is not empty; drop its "
                    "tables first")
            shutil.rmtree(p)
            return status("drop_namespace", m.group(2))

        m = re.match(
            rf"\s*create\s+materialized\s+view\s+({dotted})\s+as\s+"
            rf"select\s+(.+?)\s+from\s+({dotted})\s+"
            rf"group\s+by\s+(.+?)\s*;?\s*$",
            query, re.IGNORECASE | re.DOTALL)
        if m:
            return self._sql_create_mview(*m.groups(), status=status)

        m = re.match(rf"\s*refresh\s+materialized\s+view\s+({dotted})"
                     rf"\s*;?\s*$", query, re.IGNORECASE)
        if m:
            import json as _json

            from linkedin_iceberg_spark.catalog.incremental_view import (
                refresh_agg_view)
            view = self.load_table(m.group(1))
            spec = _json.loads(view.properties["mview.spec"])
            base = self.load_table(spec["base"])
            refresh_agg_view(view, base, spec["keys"],
                             _mv_agg_objects(spec["aggs"]))
            return status(
                "refresh_materialized_view",
                f"synced_to={base.metadata.current_snapshot_id}")

        m = re.match(rf"\s*drop\s+materialized\s+view\s+"
                     rf"(if\s+exists\s+)?({dotted})\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            if m.group(1) and not self.table_exists(m.group(2)):
                return status("drop_materialized_view",
                              "skipped: no such view")
            return status("drop_materialized_view",
                          f"dropped={self.drop_table(m.group(2))}")

        m = re.match(
            rf"\s*create\s+(or\s+replace\s+)?view\s+({dotted})\s+"
            rf"as\s+(select\b.*)$", query, re.IGNORECASE | re.DOTALL)
        if m:
            self.create_view(m.group(2), m.group(3).strip().rstrip(";"),
                             replace=bool(m.group(1)))
            return status("create_view", m.group(2))

        m = re.match(rf"\s*drop\s+view\s+(if\s+exists\s+)?({dotted})"
                     rf"\s*;?\s*$", query, re.IGNORECASE)
        if m:
            dropped = self.drop_view(m.group(2))
            if not dropped and not m.group(1):
                raise NoSuchTableError(f"no such view: {m.group(2)}")
            return status("drop_view",
                          f"dropped={dropped}")

        m = re.match(rf"\s*show\s+views(?:\s+in\s+({ident}(?:\.{ident})*"
                     rf"))?\s*;?\s*$", query, re.IGNORECASE)
        if m:
            ns = m.group(1) or ""
            rows = []
            for full in self.list_views(ns):
                dotted_full = f"{ns}.{full}" if ns else full
                namespace, _, vname = dotted_full.rpartition(".")
                rows.append((namespace, vname))
            return self.spark.createDataFrame(
                rows, "namespace string, viewName string")

        m = re.match(rf"\s*show\s+tblproperties\s+({dotted})"
                     rf"(?:\s*\(\s*'((?:[^']|'')*)'\s*\))?\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            t = self.load_table(m.group(1))
            if m.group(2) is not None:
                k = m.group(2).replace("''", "'")
                rows = [(k, t.properties.get(
                    k, f"Table {m.group(1)} does not have property: "
                       f"{k}"))]
            else:
                rows = sorted(t.properties.items())
            return self.spark.createDataFrame(
                rows, "key string, value string")

        m = re.match(rf"\s*show\s+partitions\s+({dotted})\s*;?\s*$",
                     query, re.IGNORECASE)
        if m and self.table_exists(m.group(1)):
            # the partitions metadata relation: one row per live
            # partition tuple with record/file counts — strictly more
            # than Spark's string list, same manifest-only cost
            return self.load_table(m.group(1)).metadata_table(
                "partitions")

        m = re.match(rf"\s*show\s+create\s+table\s+({dotted})\s*;?\s*$",
                     query, re.IGNORECASE)
        if m:
            t = self.load_table(m.group(1))
            from linkedin_iceberg_spark.schema import _type_to_json
            cols = []
            for f in t.schema.fields:
                tp = f.type if isinstance(f.type, str) else \
                    __import__("json").dumps(_type_to_json(f.type))
                line = f"  {f.name} {tp.upper()}"
                if f.required:
                    line += " NOT NULL"
                if f.doc:
                    line += " COMMENT '" + f.doc.replace("'", "''") + "'"
                cols.append(line)
            stmt = (f"CREATE TABLE {m.group(1)} (\n"
                    + ",\n".join(cols) + ")\nUSING iceberg")
            if t.spec.fields:
                parts = []
                for f in t.spec.fields:
                    ts = f.transform_str
                    if ts == "identity":
                        parts.append(f.source_name)
                    elif "[" in ts:  # bucket[n] / truncate[n]
                        fn, n = ts.split("[")
                        parts.append(f"{fn}({n.rstrip(']')}, "
                                     f"{f.source_name})")
                    else:
                        parts.append(f"{ts}({f.source_name})")
                stmt += "\nPARTITIONED BY (" + ", ".join(parts) + ")"
            if t.properties:
                kv = ", ".join(
                    f"'{k}'='{t.properties[k]}'"
                    for k in sorted(t.properties))
                stmt += f"\nTBLPROPERTIES ({kv})"
            return self.spark.createDataFrame(
                [(stmt,)], "createtab_stmt string")

        m = re.match(rf"\s*desc(?:ribe)?\s+(extended\s+)?({dotted})"
                     rf"\s*;?\s*$", query, re.IGNORECASE)
        if m and self.view_exists(m.group(2)):
            resolved = self._resolve_view(m.group(2))
            rows = [(c, tp, "") for c, tp in resolved.dtypes]
            rows.append(("# View Text", self.view_sql(m.group(2)), ""))
            return self.spark.createDataFrame(
                rows, "col_name string, data_type string, comment string")
        if m and self.table_exists(m.group(2)):
            from linkedin_iceberg_spark.schema import _type_to_json
            t = self.load_table(m.group(2))

            def tstr(tp):
                j = _type_to_json(tp)
                return tp if isinstance(tp, str) else \
                    __import__("json").dumps(j, sort_keys=True)
            rows = [(f.name, tstr(f.type), f.doc or "")
                    for f in t.schema.fields]
            if m.group(1):
                rows.append(("", "", ""))
                rows.append(("# Partitioning", "", ""))
                for i, f in enumerate(t.spec.fields):
                    rows.append((f"Part {i}",
                                 f"{f.transform_str}({f.source_name})",
                                 ""))
                rows.append(("# Detailed Table Information", "", ""))
                rows.append(("Location", t.location, ""))
                snap = t.metadata.current_snapshot
                rows.append(("Current Snapshot",
                             str(snap.snapshot_id) if snap else "none",
                             ""))
                from linkedin_iceberg_spark.catalog.metadata import (
                    FORMAT_VERSION)
                rows.append(("Format Version", str(FORMAT_VERSION), ""))
                if t.identifier_fields:
                    rows.append(("Identifier Fields",
                                 ",".join(t.identifier_fields), ""))
                # statistics-plane coverage: which columns carry
                # persisted per-file stores (directory names only —
                # zero store I/O)
                from linkedin_iceberg_spark.catalog.stats_store import (
                    describe)
                stats = describe(t)
                if stats:
                    rows.append(("Statistics", "; ".join(stats), ""))
                for k in sorted(t.properties):
                    rows.append((f"prop:{k}", t.properties[k], ""))
            return self.spark.createDataFrame(
                rows, "col_name string, data_type string, comment string")

        m = re.match(rf"\s*alter\s+table\s+({dotted})\s+(.*?)\s*;?\s*$",
                     query, re.IGNORECASE | re.DOTALL)
        if not m:
            return None
        t = self.load_table(m.group(1))
        body = m.group(2)

        a = re.match(rf"add\s+columns?\s+(.+)$", body,
                     re.IGNORECASE | re.DOTALL)
        if a:
            # full ADD COLUMN grammar (ref: spark3/.../sql/
            # TestAlterTable.java:60 NOT NULL rejected, :65 struct type
            # + AFTER, :78 nested add + COMMENT + FIRST): per column
            #   name TYPE [NOT NULL] [COMMENT '...'] [FIRST | AFTER c]
            # Moves commit as a second schema update — SchemaUpdate
            # resolves move targets against the pre-update schema, so a
            # just-added column is movable only after its add commits.
            text = a.group(1).strip()
            if text.startswith("(") and text.endswith(")"):
                text = text[1:-1]
            up = t.update_schema()
            cols, moves = [], []
            for part in _split_type_commas(text):
                part = part.strip()
                pos = None
                pm = re.search(rf"\s+(first|after\s+({ident}"
                               rf"(?:\.{ident})*))\s*$", part,
                               re.IGNORECASE)
                if pm:
                    pos = ("first", None) if pm.group(1).lower() == \
                        "first" else ("after", pm.group(2))
                    part = part[:pm.start()]
                doc = None
                cm = re.search(r"\s+comment\s+'((?:[^']|'')*)'\s*$",
                               part, re.IGNORECASE)
                if cm:
                    doc = cm.group(1).replace("''", "'")
                    part = part[:cm.start()]
                required = False
                nm = re.search(r"\s+not\s+null\s*$", part, re.IGNORECASE)
                if nm:
                    required = True
                    part = part[:nm.start()]
                cm = re.match(rf"({ident}(?:\.{ident})*)\s+(\S.*)$",
                              part.strip(), re.IGNORECASE | re.DOTALL)
                if not cm:
                    raise ValueError(f"malformed ADD COLUMN: {part!r}")
                up.add_column(cm.group(1), _sql_type_def(cm.group(2)),
                              doc=doc, required=required)
                cols.append(cm.group(1))
                if pos:
                    moves.append((cm.group(1), pos))
            up.commit()
            if moves:
                t.refresh()
                up2 = t.update_schema()
                for name, (kind, other) in moves:
                    if kind == "first":
                        up2.move_first(name)
                    else:
                        up2.move_after(name, other)
                up2.commit()
            return status("alter_table", f"added={','.join(cols)}")

        a = re.match(rf"drop\s+columns?\s+({ident}(?:\.{ident})*)\s*$",
                     body, re.IGNORECASE)
        if a:
            t.update_schema().delete_column(a.group(1)).commit()
            return status("alter_table", f"dropped={a.group(1)}")

        a = re.match(rf"rename\s+column\s+({ident}(?:\.{ident})*)\s+to\s+"
                     rf"({ident})\s*$", body, re.IGNORECASE)
        if a:
            t.update_schema().rename_column(a.group(1),
                                            a.group(2)).commit()
            return status("alter_table",
                          f"renamed={a.group(1)}->{a.group(2)}")

        a = re.match(rf"alter\s+column\s+({ident}(?:\.{ident})*)\s+"
                     rf"type\s+(\S.*)$", body, re.IGNORECASE)
        if a:
            t.update_schema().update_column(
                a.group(1), _sql_type_to_engine(a.group(2))).commit()
            return status("alter_table", f"promoted={a.group(1)}")

        a = re.match(rf"alter\s+column\s+({ident}(?:\.{ident})*)\s+"
                     rf"comment\s+'((?:[^']|'')*)'\s*$", body,
                     re.IGNORECASE)
        if a:
            t.update_schema().update_column_doc(
                a.group(1), a.group(2).replace("''", "'")).commit()
            return status("alter_table", f"commented={a.group(1)}")

        a = re.match(rf"alter\s+column\s+({ident}(?:\.{ident})*)\s+"
                     rf"(drop|set)\s+not\s+null\s*$", body, re.IGNORECASE)
        if a:
            up = t.update_schema()
            if a.group(2).lower() == "drop":
                up.make_column_optional(a.group(1)).commit()
                return status("alter_table", f"optional={a.group(1)}")
            # SET NOT NULL on existing data is unsafe unless proven;
            # the evolution plane enforces that contract
            up.allow_incompatible_changes() \
                .require_column(a.group(1)).commit()
            return status("alter_table", f"required={a.group(1)}")

        a = re.match(rf"alter\s+column\s+({ident}(?:\.{ident})*)\s+"
                     rf"(?:first|after\s+({ident}(?:\.{ident})*))\s*$",
                     body, re.IGNORECASE)
        if a:
            up = t.update_schema()
            if a.group(2):
                up.move_after(a.group(1), a.group(2)).commit()
                return status("alter_table",
                              f"moved={a.group(1)} after {a.group(2)}")
            up.move_first(a.group(1)).commit()
            return status("alter_table", f"moved={a.group(1)} first")

        a = re.match(rf"rename\s+to\s+({dotted})\s*$", body,
                     re.IGNORECASE)
        if a:
            self.rename_table(m.group(1), a.group(1))
            return status("alter_table",
                          f"renamed={m.group(1)}->{a.group(1)}")

        a = re.match(r"unset\s+tblproperties\s*(?:if\s+exists\s*)?"
                     r"\((.+)\)\s*$", body, re.IGNORECASE | re.DOTALL)
        if a:
            keys = [k.replace("''", "'") for k in
                    re.findall(r"'((?:[^']|'')*)'", a.group(1))]
            if not keys:
                raise ValueError(
                    f"malformed UNSET TBLPROPERTIES: {a.group(1)!r}")
            t.update_properties(remove=keys)
            return status("alter_table",
                          f"unset={','.join(sorted(keys))}")

        a = re.match(rf"set\s+identifier\s+fields\s+"
                     rf"({ident}(?:\s*,\s*{ident})*)\s*$", body,
                     re.IGNORECASE)
        if a:
            # the Spark SQL extension's row-identity DDL (ref: the v2
            # spec's identifier-field-ids; Table.set_identifier_fields
            # enforces required/primitive/non-float)
            names = [c.strip() for c in a.group(1).split(",")]
            t.set_identifier_fields(names)
            return status("alter_table",
                          f"identifier_fields={','.join(names)}")

        a = re.match(rf"drop\s+identifier\s+fields\s+"
                     rf"({ident}(?:\s*,\s*{ident})*)\s*$", body,
                     re.IGNORECASE)
        if a:
            drop = {c.strip() for c in a.group(1).split(",")}
            cur = t.identifier_fields
            missing = drop - set(cur)
            if missing:
                raise ValueError(f"not identifier field(s): "
                                 f"{sorted(missing)} (current: {cur})")
            t.set_identifier_fields([c for c in cur if c not in drop])
            return status("alter_table",
                          f"identifier_fields_dropped={','.join(sorted(drop))}")

        a = re.match(
            r"(create\s+(?:or\s+replace\s+)?|replace\s+)"
            r"(branch|tag)\s+(?:if\s+not\s+exists\s+)?"
            rf"({ident})"
            r"(?:\s+as\s+of\s+version\s+(\d+))?"
            r"(?:\s+retain\s+(\d+)\s+(days?|hours?|minutes?))?\s*$",
            body, re.IGNORECASE)
        if a:
            # the branch/tag DDL of the Spark SQL extensions (ALTER
            # TABLE ... CREATE/REPLACE BRANCH|TAG ... [AS OF VERSION n]
            # [RETAIN n DAYS]) over the SnapshotRef plane (ref:
            # core/.../SnapshotManager.java tag/branch ops; this fork
            # stages via wap.id — our refs are the n-commit
            # generalization, table.py create_branch/create_tag)
            verb, kind = a.group(1).lower(), a.group(2).lower()
            name, ver = a.group(3), a.group(4)
            replace = "replace" in verb
            if_not_exists = bool(re.search(r"if\s+not\s+exists", body,
                                           re.IGNORECASE))
            if verb.strip() == "replace" and ver is None:
                raise ValueError(
                    f"REPLACE {kind.upper()} requires AS OF VERSION")
            sid = int(ver) if ver is not None else None
            age_ms = None
            if a.group(5):
                unit = a.group(6).lower()
                per = {"day": 86_400_000, "hour": 3_600_000,
                       "minute": 60_000}[unit.rstrip("s")]
                age_ms = int(a.group(5)) * per
            # ref_types records branches only; a name in refs without a
            # ref_types row is a tag
            exists = t.metadata.ref_types.get(
                name, "tag" if name in t.metadata.refs else None)
            if exists and if_not_exists:
                return status("alter_table",
                              f"{kind}_exists={name}")
            if kind == "tag":
                t.create_tag(name, snapshot_id=sid, replace=replace,
                             max_ref_age_ms=age_ms)
            else:
                if exists == "branch" and replace:
                    t.drop_branch(name)
                elif exists and not replace:
                    raise ValueError(
                        f"{kind} {name!r} already exists "
                        f"(use CREATE OR REPLACE / IF NOT EXISTS)")
                t.create_branch(name, snapshot_id=sid,
                                max_ref_age_ms=age_ms)
            did = "replaced" if (replace and exists) else "created"
            return status("alter_table", f"{kind}_{did}={name}")

        a = re.match(r"drop\s+(branch|tag)\s+(?:if\s+exists\s+)?"
                     rf"({ident})\s*$", body, re.IGNORECASE)
        if a:
            kind, name = a.group(1).lower(), a.group(2)
            if_exists = bool(re.search(r"if\s+exists", body,
                                       re.IGNORECASE))
            if name not in t.metadata.refs and if_exists:
                return status("alter_table", f"{kind}_absent={name}")
            if kind == "tag":
                t.drop_tag(name)
            else:
                t.drop_branch(name)
            return status("alter_table", f"{kind}_dropped={name}")

        a = re.match(r"(add|drop)\s+partition\s+field\s+(.+)$", body,
                     re.IGNORECASE)
        if a:
            adding = a.group(1).lower() == "add"
            target = a.group(2).strip().rstrip(";")
            cur_fields = t.metadata.spec.fields
            if not adding:
                key = re.sub(r"\s+", "", target).lower()
                keep = [f for f in cur_fields
                        if key not in _spec_field_spellings(f)]
                if len(keep) == len(cur_fields):
                    raise ValueError(
                        f"no partition field matches {target!r}")

            def build(b):
                if adding:
                    for f in cur_fields:
                        _replay_spec_field(b, f)
                    _apply_sql_transform(b, target)
                else:
                    for f in keep:
                        _replay_spec_field(b, f)
            t.update_spec(build)
            verb = "added" if adding else "dropped"
            return status("alter_table",
                          f"partition_field_{verb}={target}")

        a = re.match(r"write\s+ordered\s+by\s+"
                     r"(zorder\s*\(\s*[A-Za-z0-9_,\s]+?\s*\)|"
                     r"\(?\s*[A-Za-z0-9_,\s]+?\s*\)?)\s*$",
                     body, re.IGNORECASE)
        if a:
            # the write-order DDL of the Spark SQL extensions (ALTER
            # TABLE ... WRITE ORDERED BY): every subsequent write
            # clusters rows on these columns so file min/max bounds
            # stay tight; the zorder(...) form clusters on the Morton
            # interleave — multi-dimensional range pruning (both
            # consumed by _write_data_files)
            raw = a.group(1).strip()
            zm = re.match(r"zorder\s*\(\s*(.+?)\s*\)\s*$", raw,
                          re.IGNORECASE)
            cols = [c.strip() for c in
                    (zm.group(1) if zm else raw.strip("() ")).split(",")
                    if c.strip()]
            names = set(t.schema.column_names())
            bad = [c for c in cols if c not in names]
            if bad:
                raise ValueError(f"WRITE ORDERED BY: no such "
                                 f"column(s) {bad}")
            if zm:
                nonnum = [c for c in cols
                          if not isinstance(t.schema.find_type(c), str)
                          or t.schema.find_type(c).startswith(
                              ("string", "binary", "fixed", "uuid"))]
                if nonnum:
                    raise ValueError(
                        f"zorder needs numeric/date/timestamp "
                        f"columns; cannot interleave {nonnum}")
                prop = f"zorder({','.join(cols)})"
            else:
                prop = ",".join(cols)
            t.update_properties(set_props={"write.sort-by": prop})
            return status("alter_table", f"write_ordered_by={prop}")

        a = re.match(r"write\s+distributed\s+by\s+"
                     r"(partition|hash|range|none)\s*$", body,
                     re.IGNORECASE)
        if a:
            mode = a.group(1).lower()
            mode = "hash" if mode == "partition" else mode
            t.update_properties(set_props={"write.distribution-mode":
                                           mode})
            return status("alter_table", f"write_distributed_by={mode}")

        a = re.match(r"set\s+tblproperties\s*\((.+)\)\s*$", body,
                     re.IGNORECASE | re.DOTALL)
        if a:
            props = {}
            for km, vm in re.findall(r"'((?:[^']|'')*)'\s*=\s*"
                                     r"'((?:[^']|'')*)'", a.group(1)):
                props[km.replace("''", "'")] = vm.replace("''", "'")
            if not props:
                raise ValueError(
                    f"malformed TBLPROPERTIES: {a.group(1)!r}")
            t.update_properties(set_props=props)
            return status("alter_table",
                          f"properties={','.join(sorted(props))}")

        raise ValueError(f"unsupported ALTER TABLE clause: {body!r}")

    def _sql_create_mview(self, name: str, sel: str, base_name: str,
                          gby: str, status) -> DataFrame:
        """CREATE MATERIALIZED VIEW ... AS SELECT <keys+aggs> FROM t
        GROUP BY <keys> — the SQL spelling of the incrementally-
        maintained aggregate view plane (catalog/incremental_view.py):
        the view materializes as an engine table, and REFRESH folds the
        base's CHANGELOG since the last sync in O(changed rows) — never
        a recompute.  Accepted aggregates: count(*), count(col),
        sum(col), min(col), max(col), each with a mandatory alias
        (min/max views refresh via the recompute-touched-groups path).
        Conservative: single base table, no WHERE, group keys must be
        plain base columns listed in the select."""
        import json as _json
        import re

        from linkedin_iceberg_spark.catalog.incremental_view import (
            create_agg_view)

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        base = self.load_table(base_name)
        own = set(base.schema.column_names())
        keys = []
        for g in _split_top_level_commas(gby):
            if not re.match(rf"{ident}$", g) or g not in own:
                raise ValueError(
                    f"MATERIALIZED VIEW group key must be a plain "
                    f"base column: {g!r}")
            keys.append(g)
        spec_aggs: dict = {}
        for item in _split_top_level_commas(sel):
            if item in keys:
                continue
            am = re.match(
                rf"(count|sum|min|max)\(\s*(\*|{ident})\s*\)\s+"
                rf"as\s+({ident})\s*$", item, re.IGNORECASE)
            if not am:
                raise ValueError(
                    f"MATERIALIZED VIEW select item must be a group "
                    f"key or fn(col) AS alias: {item!r}")
            fn, col, alias = (am.group(1).lower(), am.group(2),
                              am.group(3))
            if col == "*":
                if fn != "count":
                    raise ValueError(f"{fn}(*) is not an aggregate")
                spec_aggs[alias] = ["count_star", None]
            else:
                if col not in own:
                    raise ValueError(f"no such base column: {col!r}")
                spec_aggs[alias] = [fn, col]
        view = create_agg_view(self, name, base, keys,
                               _mv_agg_objects(spec_aggs))
        view.update_properties(set_props={
            "mview.spec": _json.dumps(
                {"base": base_name, "keys": keys, "aggs": spec_aggs},
                sort_keys=True)})
        return status("create_materialized_view",
                      f"keys={','.join(keys)},aggs={len(spec_aggs)}")

    _PROC_ARG_ORDER_DEF = {
        "rewrite_data_files": ("table", "where"),
        "rewrite_manifests": ("table",),
        "rewrite_position_deletes": ("table",),
        "vacuum_stats": ("table",),
        "remove_dangling_deletes": ("table",),
        "expire_snapshots": ("table", "older_than", "retain_last"),
        "remove_orphan_files": ("table", "older_than"),
        "rollback_to_snapshot": ("table", "snapshot_id"),
        "rollback_to_timestamp": ("table", "timestamp"),
        "set_current_snapshot": ("table", "snapshot_id"),
        "cherrypick_snapshot": ("table", "snapshot_id"),
        "publish_changes": ("table", "wap_id"),
        "fast_forward": ("table", "branch"),
        "analyze_table": ("table", "columns"),
        "analyze_kmv": ("table", "columns", "k"),
        "analyze_dictionary": ("table", "column", "max_ndv"),
        "analyze_dictionary_pair": ("table", "column", "column2",
                                    "max_ndv"),
        "analyze_bloom": ("table", "column", "fpp"),
        "analyze_histogram": ("table", "column", "max_ndv"),
        "analyze_topk": ("table", "column", "m"),
        "analyze_sample": ("table", "column", "k", "group_col"),
        "approx_top_k": ("table", "column", "k", "m"),
        "kmv_overlap": ("table", "column", "other_table",
                        "other_column", "k"),
        "build_key_index": ("table", "column"),
        "refresh_key_index": ("table", "column"),
        "rebucket": ("table", "column", "buckets"),
        "optimize": ("table",),
        "ancestors_of": ("table", "snapshot_id"),
        "add_files": ("table", "source_table", "format"),
        "migrate": ("table", "location"),
        "snapshot": ("source_table", "table"),
    }

    def _sql_colocated_multijoin(self, masked: str, lits: list):
        """Automatic N-way (3+ table) storage-partitioned join on the
        SQL path — the star/feature-assembly shape: ``FROM base JOIN f1
        ON base.k = f1.k1 JOIN f2 ON base.k = f2.k2 ...`` where every
        side buckets its key with ONE modulus executes bucket-by-bucket
        through colocated_feature_assembly (no exchange, no Spark join
        operator; one task assembles each bucket of every side), and
        the rest of the statement runs over the assembled view.  The
        r8 gap this closes: 3+ table SQL over co-bucketed tables fell
        back to N-1 full shuffle joins.

        r10: CHAIN-shaped statements route too when the key is
        transitively the same — ``base.k = f1.k AND f1.k = f2.k`` is
        the star in disguise (inner-join equality transitivity), so an
        ON may anchor on an EARLIER side's key column instead of the
        base.  Chains are INNER-only: under LEFT joins an unmatched
        f1 leaves f1.k NULL, so ``f1.k = f2.k`` never matches where
        the star's ``base.k = f2.k`` would — not the same query.
        A chain hop on a DIFFERENT column (``f1.j = f2.j``) bails to
        the generic route: per-bucket assembly needs an entity key
        equality class, and j-bucketing does not align with
        k-bucketing.

        r11: TWO-KEY stars route too — ``base.k1 = f1.a AND
        base.k2 = f2.b`` with the base's spec bucketing BOTH keys and
        each dim bucketing its key with its key group's modulus
        executes as grid-cell assembly (colocated_multikey_assembly):
        a base partition is a (bucket(k1), bucket(k2)) cell joining
        f1's bucket(k1) and f2's bucket(k2) — still no exchange, no
        join operator.  Trade-off documented there: a dim bucket is
        read once per occupied cell on its axis.

        Conservative gates (generic route otherwise): every ON equates
        an anchored base key (directly on the base, or transitively
        through earlier sides — its equality class), all joins are the
        same kind (all INNER or all LEFT; chains are INNER-only),
        non-key column names are disjoint, no subqueries, SELECT names
        its columns.  Shares the spark.liceberg.sql.colocatedJoin
        session gate with the 2-way route."""
        import re

        from linkedin_iceberg_spark.catalog.colocated import (
            _bucket_layout, colocated_feature_assembly)

        if self.spark.conf.get("spark.liceberg.sql.colocatedJoin",
                               "true").lower() == "false":
            return None
        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        dotted = rf"{ident}(?:\.{ident})+"
        join_re = re.compile(
            rf"\s+((?:left\s+(?:outer\s+)?|inner\s+)?)join\s+({dotted})"
            rf"(?:\s+(?:as\s+)?({ident}))?"
            rf"\s+on\s+({ident})\.({ident})\s*=\s*({ident})\.({ident})",
            re.IGNORECASE)
        head = re.match(
            rf"\s*select\s+(.+?)\s+from\s+({dotted})"
            rf"(?:\s+(?:as\s+)?({ident}))?(?=\s+(?:left\s+|inner\s+)?join\b)",
            masked, re.IGNORECASE | re.DOTALL)
        if not head:
            return None
        sel, base_name, base_alias = head.groups()
        pos = head.end()
        joins = []
        while True:
            jm = join_re.match(masked, pos)
            if not jm:
                break
            joins.append(jm.groups())
            pos = jm.end()
        if len(joins) < 2:
            return None  # two-table statements keep the richer route
        rest = masked[pos:].rstrip().rstrip(";")
        if re.search(r"\b(join|select|from|union)\b", sel + rest,
                     re.IGNORECASE) or "*" in sel:
            return None
        if not self.table_exists(base_name):
            return None
        names = [base_name] + [j[1] for j in joins]
        if len(set(n.lower() for n in names)) != len(names):
            return None  # self-joins: generic route
        if not all(self.table_exists(n) for n in names):
            return None
        kinds = {(j[0].strip().lower() or "inner").split()[0]
                 for j in joins}
        if len(kinds) != 1:
            return None
        how = "left" if kinds == {"left"} else "inner"
        base = self.load_table(base_name)
        bq = (base_alias or base_name.rsplit(".", 1)[-1]).lower()
        quals = {bq}
        feats = []  # (table, qualifier, feature_key, anchor base key)
        base_keys = []      # distinct anchored base keys, in order
        key_class = {}      # (qual, col) -> the base key it equals
        chain_anchored = False
        for (_k, fname, falias, q1, c1, q2, c2) in joins:
            ft = self.load_table(fname)
            fq = (falias or fname.rsplit(".", 1)[-1]).lower()
            if fq in quals:
                return None
            quals.add(fq)
            pair = {q1.lower(): c1, q2.lower(): c2}
            if fq not in pair or len(pair) != 2:
                return None
            fkey = pair[fq]
            (aq, ac), = [(q, c) for q, c in pair.items() if q != fq]
            if aq == bq:
                # r11: dims may anchor DIFFERENT base keys — a
                # two-key star routes to the grid-cell assembly when
                # the base's spec buckets every anchored key
                anchor = ac
                if ac not in base_keys:
                    base_keys.append(ac)
            elif (aq, ac) in key_class:
                # chain hop anchored on an earlier side's key column —
                # transitively ITS base key (sound for INNER only,
                # enforced below)
                anchor = key_class[(aq, ac)]
                chain_anchored = True
            else:
                return None  # different-key chain: generic route
            if fkey not in set(ft.schema.column_names()):
                return None
            key_class[(fq, fkey)] = anchor
            feats.append((ft, fq, fkey, anchor))
        bnames = set(base.schema.column_names())
        if not base_keys or any(bk not in bnames for bk in base_keys):
            return None
        if chain_anchored and how != "inner":
            return None  # LEFT chain: NULL keys break transitivity
        # disjoint non-key names (the assembly output carries bare
        # column names, each key once)
        seen = bnames - set(base_keys)
        for ft, _fq, fkey, _a in feats:
            non_key = set(ft.schema.column_names()) - {fkey}
            if seen & non_key:
                return None
            seen |= non_key
        # each key group co-bucketed with one modulus, else generic
        # route (moduli may differ ACROSS keys, r11)
        base_lo = {bk: _bucket_layout(base, bk) for bk in base_keys}
        if any(lo is None for lo in base_lo.values()):
            return None
        for ft, _fq, fk, anchor in feats:
            lo = _bucket_layout(ft, fk)
            if lo is None or lo[0] != base_lo[anchor][0]:
                return None
        toks = {t.lower() for t in re.findall(ident, masked)}
        bcols = [c for c in base.schema.column_names()
                 if c.lower() in toks or c in base_keys]
        if len(base_keys) == 1:
            fspecs = []
            for ft, _fq, fk, _a in feats:
                fcols = [c for c in ft.schema.column_names()
                         if c.lower() in toks or c == fk]
                fspecs.append((ft, fk, fcols))
            j = colocated_feature_assembly(base, base_keys[0], fspecs,
                                           base_cols=bcols, how=how)
        else:
            from linkedin_iceberg_spark.catalog.colocated import (
                colocated_multikey_assembly)
            kf = []
            for ft, _fq, fk, anchor in feats:
                fcols = [c for c in ft.schema.column_names()
                         if c.lower() in toks or c == fk]
                kf.append((anchor, ft, fk, fcols))
            j = colocated_multikey_assembly(base, kf, base_cols=bcols,
                                            how=how)
        import hashlib as _h
        view = "liceberg_mj_" + _h.md5(
            "|".join(names + base_keys).encode()).hexdigest()[:8]
        j.createOrReplaceTempView(view)
        text = f"SELECT {sel} FROM {view}{rest}"
        # the assembled view carries bare names (each key once): strip
        # qualifiers, and rewrite feature-key references to their key
        for (_k, fname, falias, _q1, _c1, _q2, _c2), \
                (_ft, fq, fk, anchor) in zip(joins, feats):
            if fk != anchor:
                text = re.sub(
                    rf"(?<![A-Za-z0-9_.]){re.escape(fq)}\.{re.escape(fk)}"
                    rf"(?![A-Za-z0-9_])",
                    anchor, text, flags=re.IGNORECASE)
        for q in quals | {n.lower() for n in names}:
            text = re.sub(rf"(?<![A-Za-z0-9_.]){re.escape(q)}\.",
                          "", text, flags=re.IGNORECASE)
        return self.spark.sql(_unmask_sql_literals(text, lits))

    def _sql_colocated_join(self, masked: str, lits: list):
        """Automatic storage-partitioned join on the SQL path: a single
        two-table equi-join whose sides BOTH bucket their join key with
        one modulus executes bucket-by-bucket through
        colocated_bucket_join — no exchange, no Spark join operator —
        and the rest of the statement (WHERE/GROUP BY/ORDER BY/LIMIT,
        all post-join semantics in SQL) runs over the joined view.
        Column pruning: only identifiers the statement references are
        read.  None (generic route) on anything outside the shape:
        a second join, subqueries, non-equi ON, shared non-key column
        names, or either side un-bucketed — conservatism is free
        because the generic route answers everything identically.

        Trade-off, named: this route reads every bucket pair (minus
        point-lookup pruning below) and never shuffles; the generic
        route shuffles but can runtime-filter the fact scan by a
        SELECTIVE dim WHERE.  For full joins and point lookups the
        co-located plan strictly wins; for a needle-selective dim
        filter over a huge fact, set
        ``spark.liceberg.sql.colocatedJoin=false`` for the session to
        prefer the runtime-filtered shuffle plan."""
        import re

        from linkedin_iceberg_spark.catalog.colocated import (
            _bucket_layout, colocated_bucket_join)

        if self.spark.conf.get("spark.liceberg.sql.colocatedJoin",
                               "true").lower() == "false":
            return None

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        dotted = rf"{ident}(?:\.{ident})+"
        m = re.match(
            rf"\s*select\s+(.+?)\s+from\s+({dotted})"
            rf"(?:\s+(?:as\s+)?({ident}))?"
            rf"\s+((?:left\s+(?:outer\s+)?|inner\s+)?)join\s+({dotted})"
            rf"(?:\s+(?:as\s+)?({ident}))?"
            rf"\s+on\s+({ident})\.({ident})\s*=\s*({ident})\.({ident})"
            rf"(\s.*?)?\s*;?\s*$",
            masked, re.IGNORECASE | re.DOTALL)
        if not m:
            return None
        (sel, lt_name, la, jkind, rt_name, ra,
         q1, c1, q2, c2, rest) = m.groups()
        rest = rest or ""
        # conservative shape gate: exactly one join, no subqueries
        if re.search(r"\b(join|select|from|union)\b", sel + rest,
                     re.IGNORECASE):
            return None
        if not (self.table_exists(lt_name) and self.table_exists(rt_name)):
            return None
        lq = (la or lt_name.rsplit(".", 1)[-1]).lower()
        rq = (ra or rt_name.rsplit(".", 1)[-1]).lower()
        pair = {q1.lower(): c1, q2.lower(): c2}
        if set(pair) != {lq, rq} or lq == rq:
            return None  # qualifiers must name the two sides, once each
        lkey, rkey = pair[lq], pair[rq]
        how = "left" if jkind.strip().lower().startswith("left") \
            else "inner"
        lt, rt = self.load_table(lt_name), self.load_table(rt_name)
        lown, rown = set(lt.schema.column_names()), \
            set(rt.schema.column_names())
        if lkey not in lown or rkey not in rown:
            return None
        if (lown & rown) - ({lkey} if lkey == rkey else set()):
            return None  # ambiguous bare columns after the view rewrite
        lb = _bucket_layout(lt, lkey)
        rb = _bucket_layout(rt, rkey)
        if lb is None or rb is None or lb[0] != rb[0]:
            return None  # not co-bucketed: the generic route is right
        if "*" in sel:
            # SELECT * through an ON-join has its own column arity and
            # ordering rules (duplicate key columns, table order) that
            # the joined view does not reproduce — generic route
            return None
        toks = {t.lower() for t in re.findall(ident, masked)}
        lcols = [c for c in lt.schema.column_names()
                 if c.lower() in toks or c == lkey]
        rcols = [c for c in rt.schema.column_names()
                 if c.lower() in toks or c == rkey]
        # point-lookup bucket pruning: a top-level `key = lit` / `key IN
        # (...)` WHERE conjunct on either side's join key restricts the
        # read to the values' buckets (the WHERE itself still runs over
        # the view, so rows sharing those buckets stay filtered)
        key_values = None
        wm = re.match(r"\s*where\s+(.+?)(?:\s+group\s+by\s+.*|"
                      r"\s+order\s+by\s+.*|\s+limit\s+.*)?$",
                      rest, re.IGNORECASE | re.DOTALL)
        ktype = next((f.type for f in lt.schema.fields
                      if f.name == lkey), None)
        if wm and ktype in ("int", "long", "string"):
            keypat = (rf"(?:({ident})\.)?"
                      rf"(?:{re.escape(lkey)}|{re.escape(rkey)})")
            val = rf"(\x00\d+\x00|-?\d+)"
            for conj in _split_top_level_and(wm.group(1)):
                cm = re.match(rf"\s*{keypat}\s*(?:=\s*{val}|in\s*\("
                              rf"\s*{val}(?:\s*,\s*{val})*\s*\))\s*$",
                              conj, re.IGNORECASE)
                if not cm:
                    continue
                if cm.group(1) and cm.group(1).lower() not in (lq, rq):
                    continue
                raws = re.findall(rf"{val}", conj)
                vals = []
                for raw in raws:
                    if raw.startswith("\x00"):
                        s = lits[int(raw.strip("\x00"))]
                        if not (s.startswith("'") and s.endswith("'")):
                            vals = None
                            break
                        vals.append(s[1:-1].replace("''", "'"))
                    else:
                        vals.append(int(raw))
                if vals is None or not vals or not all(
                        isinstance(v, int if ktype in ("int", "long")
                                   else str) for v in vals):
                    continue
                key_values = vals
                break
        # per-side FILE pruning from the WHERE (partition projection,
        # metrics, dictionaries): each side's provable conjuncts plan a
        # filtered scan; surviving files are read whole and the full
        # WHERE still runs over the view.  For LEFT joins only the left
        # side pre-prunes (pre-restricting the NULL-extended side would
        # interact with IS-NULL-sensitive WHEREs).
        plain2 = {lt_name: (lt, la), rt_name: (rt, ra)}
        counts2 = {lt_name: 1, rt_name: 1}
        lflt = _extract_scan_filter(masked, lits, lt_name, la,
                                    lt, plain2, counts2)
        rflt = None if how == "left" else \
            _extract_scan_filter(masked, lits, rt_name, ra,
                                 rt, plain2, counts2)
        j = colocated_bucket_join(lt, rt, lkey, how=how,
                                  left_cols=lcols, right_cols=rcols,
                                  right_key=rkey, key_values=key_values,
                                  left_filter=lflt, right_filter=rflt)
        import hashlib as _h
        view = "liceberg_cj_" + _h.md5(
            f"{lt_name}|{rt_name}|{lkey}|{rkey}".encode()).hexdigest()[:8]
        j.createOrReplaceTempView(view)
        text = f"SELECT {sel} FROM {view}{rest}"
        for q in {lq, rq, la or "", ra or "",
                  lt_name.lower(), rt_name.lower()} - {""}:
            text = re.sub(rf"(?<![A-Za-z0-9_.]){re.escape(q)}\.",
                          "", text, flags=re.IGNORECASE)
        return self.spark.sql(_unmask_sql_literals(text, lits))

    def _sql_optimize_vacuum(self, query: str):
        """The lakehouse-SQL maintenance spellings users type first.
        None when `query` is neither statement.

            OPTIMIZE db.t [WHERE <predicate>] [ZORDER BY (c1, c2)]
                -> rewrite_data_files (predicate-scoped candidates,
                   optional z-order clustering of the rewrite)
            VACUUM db.t [RETAIN <n> HOURS]
                -> expire_snapshots(older_than=now - n hours) +
                   remove_orphan_files (default retention: the
                   engine's snapshot-expiry defaults)
        """
        import json as _json
        import re
        import time as _time

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        dotted = rf"{ident}(?:\.{ident})+"
        m = re.match(
            rf"\s*optimize\s+({dotted})(?:\s+where\s+(.+?))?"
            rf"(?:\s+zorder\s+by\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$",
            query, re.IGNORECASE | re.DOTALL)
        if m:
            from linkedin_iceberg_spark.catalog import maintenance as MA
            t = self.load_table(m.group(1))
            kw = {}
            if m.group(2):
                from linkedin_iceberg_spark.expressions.parser import (
                    parse_expr)
                kw["where"] = parse_expr(m.group(2))
            if m.group(3):
                kw["zorder_by"] = [c.strip()
                                   for c in m.group(3).split(",")]
                kw["min_input_files"] = 1  # a re-cluster is the point
            out = MA.rewrite_data_files(t, **kw)
            return self.spark.createDataFrame(
                [("optimize", _json.dumps(out, sort_keys=True))],
                "operation string, detail string")
        m = re.match(
            rf"\s*vacuum\s+({dotted})"
            rf"(?:\s+retain\s+(\d+)\s+hours?)?\s*;?\s*$",
            query, re.IGNORECASE)
        if m:
            from linkedin_iceberg_spark.catalog import maintenance as MA
            t = self.load_table(m.group(1))
            out = {}
            if m.group(2):
                cutoff = int(_time.time() * 1000) - \
                    int(m.group(2)) * 3600 * 1000
                out["expire_snapshots"] = MA.expire_snapshots(t, cutoff)
                out["remove_orphan_files"] = \
                    MA.remove_orphan_files(t.refresh(), cutoff)
            else:
                out["expire_snapshots"] = MA.expire_snapshots(t)
                out["remove_orphan_files"] = \
                    MA.remove_orphan_files(t.refresh())
            return self.spark.createDataFrame(
                [("vacuum", _json.dumps(out, default=str,
                                        sort_keys=True))],
                "operation string, detail string")
        return None

    def _sql_analyze(self, query: str):
        """Spark's ANALYZE TABLE grammar over the engine's stats planes.
        None when `query` is not an ANALYZE statement.

            ANALYZE TABLE db.t COMPUTE STATISTICS
                -> table-level stats from manifest metadata alone
                   (live files / bytes / rows), returned as rows
            ANALYZE TABLE db.t COMPUTE STATISTICS FOR COLUMNS c1, c2
            ANALYZE TABLE db.t COMPUTE STATISTICS FOR ALL COLUMNS
                -> brings BOTH per-file NDV stores up to date for the
                   named (or all primitive) columns: the HLL plane
                   (column_stats) and the KMV plane (the replayable
                   approx_count_distinct backing); incremental — only
                   un-sketched live files are scanned
        """
        import re
        m = re.match(
            r"\s*analyze\s+table\s+([A-Za-z_][A-Za-z0-9_.]*)\s+"
            r"compute\s+statistics"
            r"(?:\s+for\s+(all\s+columns|columns\s+(.+?)))?\s*;?\s*$",
            query, re.IGNORECASE | re.DOTALL)
        if not m:
            return None
        t = self.load_table(m.group(1))
        if not m.group(2):
            entries, deletes = t._live_data_and_deletes()
            rows = [("data_files", len(entries)),
                    ("delete_files", len(deletes)),
                    ("total_bytes", sum(
                        e.data_file.file_size_in_bytes or 0
                        for e in entries)),
                    ("row_count", sum(e.data_file.record_count or 0
                                      for e in entries))]
            return self.spark.createDataFrame(
                rows, "statistic string, value long")
        from linkedin_iceberg_spark.catalog.analyze import (
            analyze_table, analyze_table_kmv)
        if m.group(3):
            cols = [c.strip() for c in m.group(3).split(",")]
        else:
            # ALL COLUMNS: the types the HLL sketch aggregate accepts
            # (datasketches HLL is int/long/string/binary); explicitly
            # named columns of other types raise from the plane itself
            cols = [f.name for f in t.schema.fields
                    if isinstance(f.type, str)
                    and f.type in ("int", "long", "string", "binary")]
        hll = analyze_table(t, cols)
        kmv = analyze_table_kmv(t, cols)
        return self.spark.createDataFrame(
            [(c, hll.get(c, 0), kmv.get(c, 0)) for c in cols],
            "column string, files_sketched_hll long, "
            "files_sketched_kmv long")

    def _sql_call(self, query: str):
        """CALL <procedure>('db.t' [, args...]) -> the maintenance /
        snapshot-management actions, spelled like the Spark procedures
        the modern format ships (the reference's Actions plane —
        RewriteDataFilesAction & co — behind a SQL entrypoint).  None
        when `query` is not a CALL.

            CALL rewrite_data_files('db.t')
            CALL rewrite_manifests('db.t')
            CALL rewrite_position_deletes('db.t')
            CALL vacuum_stats('db.t')
            CALL remove_dangling_deletes('db.t')
            CALL expire_snapshots('db.t' [, <older_than_ms>
                                  [, <retain_last>]])
            CALL remove_orphan_files('db.t' [, <older_than_ms>])
            CALL rollback_to_snapshot('db.t', <snapshot_id>)
            CALL rollback_to_timestamp('db.t', <timestamp_ms>)
            CALL set_current_snapshot('db.t', <snapshot_id>)
            CALL cherrypick_snapshot('db.t', <snapshot_id>)
            CALL publish_changes('db.t', '<wap_id>')
            CALL fast_forward('db.t', '<branch>')
            CALL analyze_table('db.t', '<col>[,<col>...]')
            CALL analyze_kmv('db.t', '<col>[,<col>...]' [, <k>])
            CALL analyze_dictionary('db.t', '<col>' [, <max_ndv>])
            CALL analyze_dictionary_pair('db.t', '<a>', '<b>' [, <max_ndv>])
            CALL analyze_bloom('db.t', '<col>' [, '<fpp>'])
            CALL analyze_histogram('db.t', '<col>' [, <max_ndv>])
            CALL analyze_topk('db.t', '<col>' [, <m>])
            CALL analyze_sample('db.t', '<col>' [, <k> [, '<group>']])
            CALL approx_top_k('db.t', '<col>', <k> [, <m>])  (rows)
            CALL kmv_overlap('db.a', '<col>', 'db.b', '<col>' [, <k>])
            CALL build_key_index('db.t', '<col>')
            CALL refresh_key_index('db.t', '<col>')
            CALL rebucket('db.t', '<col>', <n>)  (spec evolution +
                full rewrite -> co-locatable on the column)
            CALL optimize('db.t')   (compaction + pos-delete rewrite +
                                     dangling-delete drop + manifests)
            CALL ancestors_of('db.t' [, <snapshot_id>])  (returns rows)
            CALL add_files('db.t', '<dir>' [, '<fmt>'])
            CALL migrate('db.t', '<path-or-dir>')
            CALL snapshot('db.src', 'db.dest')
        """
        import json
        import re

        m = re.match(r"\s*call\s+([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)"
                     r"\s*;?\s*$", query, re.IGNORECASE | re.DOTALL)
        if not m:
            return None
        proc = m.group(1).lower()
        args, pos = [], 0
        body = m.group(2).strip()
        # token-wise parse ('' = escaped quote), so a quoted argument
        # may itself contain commas ('col1,col2').  Both spellings of
        # the Spark procedure syntax are accepted: positional
        # (CALL p('db.t', 123)) and named (CALL p(table => 'db.t',
        # snapshot_id => 123)) — named arguments follow each
        # procedure's documented parameter order below, with `table`
        # always first (ref: spark/.../procedures/*Procedure PARAMETERS
        # arrays; our orders match the positional forms above).
        tok = re.compile(
            r"\s*(?:([A-Za-z_][A-Za-z0-9_]*)\s*=>\s*)?"
            r"(?:'((?:[^']|'')*)'|(-?\d+))\s*(?:,|$)")
        named = {}
        while pos < len(body):
            mm = tok.match(body, pos)
            if not mm:
                raise ValueError(f"CALL argument must be a quoted string "
                                 f"or integer at: {body[pos:]!r}")
            val = mm.group(2).replace("''", "'") \
                if mm.group(2) is not None else int(mm.group(3))
            if mm.group(1):
                named[mm.group(1).lower()] = val
            elif named:
                raise ValueError("positional CALL argument after a "
                                 "named one")
            else:
                args.append(val)
            pos = mm.end()
        if named:
            order = self._PROC_ARG_ORDER_DEF.get(proc)
            if order is None:
                raise ValueError(f"procedure {proc!r} does not accept "
                                 f"named arguments")
            unknown = set(named) - set(order)
            if unknown:
                raise ValueError(f"unknown argument(s) for {proc}: "
                                 f"{sorted(unknown)} (takes {order})")
            # named args must fill the parameter slots RIGHT AFTER any
            # positional ones, gap-free (the dispatch below is
            # order-based)
            want = list(order[len(args):len(args) + len(named)])
            if sorted(named) != sorted(want):
                raise ValueError(
                    f"named arguments for {proc} must cover "
                    f"{want or 'no remaining slots'}, got "
                    f"{sorted(named)}")
            args.extend(named[k] for k in want)
        if not args or not isinstance(args[0], str):
            raise ValueError("CALL needs the table name as its first "
                             "(quoted) argument")
        rest = args[1:]
        # catalog-level procedures create their target table — dispatch
        # before the load (ref: spark/.../procedures/MigrateTableProcedure,
        # SnapshotTableProcedure — same two-level split)
        if proc == "migrate":
            t = self.migrate(args[0], rest[0])
            out = {"migrated_files_count":
                   len(t.new_scan().plan_files())}
            return self.spark.createDataFrame(
                [(proc, json.dumps(out, default=str, sort_keys=True))],
                "operation string, detail string")
        if proc == "snapshot":
            t = self.snapshot_table(self.load_table(args[0]), rest[0])
            out = {"imported_files_count":
                   len(t.new_scan().plan_files())}
            return self.spark.createDataFrame(
                [(proc, json.dumps(out, default=str, sort_keys=True))],
                "operation string, detail string")
        t = self.load_table(args[0])

        from linkedin_iceberg_spark.catalog import maintenance as MA
        if proc == "rewrite_data_files":
            # optional second arg: a WHERE predicate scoping the
            # compaction (the reference action's .filter(Expression))
            if rest[:1]:
                from linkedin_iceberg_spark.expressions.parser import (
                    parse_expr)
                out = MA.rewrite_data_files(t, where=parse_expr(rest[0]))
            else:
                out = MA.rewrite_data_files(t)
        elif proc == "rewrite_manifests":
            out = MA.rewrite_manifests(t)
        elif proc == "rewrite_position_deletes":
            out = MA.rewrite_position_deletes(t)
        elif proc == "vacuum_stats":
            # GC the advisory stats planes: drop store rows for data
            # files no snapshot references any more (r10)
            out = MA.vacuum_stats(t)
        elif proc == "remove_dangling_deletes":
            out = MA.remove_dangling_deletes(t)
        elif proc == "expire_snapshots":
            out = MA.expire_snapshots(t, *rest[:2])
        elif proc == "remove_orphan_files":
            out = MA.remove_orphan_files(t, *rest[:1])
        elif proc == "rollback_to_snapshot":
            t.rollback_to(rest[0])
            out = {"current_snapshot_id": t.metadata.current_snapshot_id}
        elif proc == "rollback_to_timestamp":
            t.rollback_to_time(rest[0])
            out = {"current_snapshot_id": t.metadata.current_snapshot_id}
        elif proc == "set_current_snapshot":
            t.set_current_snapshot(rest[0])
            out = {"current_snapshot_id": t.metadata.current_snapshot_id}
        elif proc == "cherrypick_snapshot":
            t.cherry_pick(rest[0])
            out = {"current_snapshot_id": t.metadata.current_snapshot_id}
        elif proc == "publish_changes":
            # the WAP publish: cherry-pick the snapshot staged under
            # wap.id onto the current lineage (ref: the reference's
            # cherrypick + spark.wap.id write flow,
            # SnapshotManager.java:65-171)
            sid = t.metadata.staged_wap.get(rest[0])
            if sid is None:
                raise ValueError(
                    f"no staged snapshot for wap.id {rest[0]!r} "
                    f"(staged: {sorted(t.metadata.staged_wap)})")
            t.cherry_pick(sid)
            out = {"published_snapshot_id": sid,
                   "current_snapshot_id": t.metadata.current_snapshot_id}
        elif proc == "ancestors_of":
            # lineage walk over parent ids — rows, not a status blob
            md = t.metadata
            sid = rest[0] if rest else md.current_snapshot_id
            rows = []
            while sid is not None:
                snap = md.snapshot_by_id(sid)
                if snap is None:
                    break
                rows.append((snap.snapshot_id, snap.timestamp_ms))
                sid = snap.parent_snapshot_id
            return self.spark.createDataFrame(
                rows, "snapshot_id long, timestamp_ms long")
        elif proc == "add_files":
            before = t.metadata.current_snapshot
            n_before = int((before.summary or {}).get(
                "total-data-files", 0)) if before else 0
            t.add_files(rest[0], *rest[1:2])
            after = t.metadata.current_snapshot.summary or {}
            out = {"added_files_count":
                   int(after.get("total-data-files", 0)) - n_before}
        elif proc == "fast_forward":
            t.fast_forward(rest[0])
            out = {"current_snapshot_id": t.metadata.current_snapshot_id}
        elif proc == "analyze_table":
            from linkedin_iceberg_spark.catalog.analyze import (
                analyze_table)
            out = analyze_table(t, [c.strip()
                                    for c in rest[0].split(",")])
        elif proc == "analyze_kmv":
            # the KMV stats plane: files_sketched per column, so
            # approx_count_distinct answers become metadata-only
            from linkedin_iceberg_spark.catalog.analyze import (
                KMV_DEFAULT_K, analyze_table_kmv)
            k = int(rest[1]) if rest[1:] else KMV_DEFAULT_K
            out = analyze_table_kmv(
                t, [c.strip() for c in rest[0].split(",")], k=k)
        elif proc == "analyze_dictionary":
            # the dictionary file-skipping plane: per-file exact value
            # sets consulted by scan planning for eq/IN conjuncts
            from linkedin_iceberg_spark.catalog.analyze import (
                DICT_DEFAULT_MAX_NDV, analyze_dictionary)
            cap = int(rest[1]) if rest[1:] else DICT_DEFAULT_MAX_NDV
            out = {"files_analyzed":
                   analyze_dictionary(t, rest[0], max_ndv=cap)}
        elif proc == "analyze_dictionary_pair":
            # the JOINT-distribution file-skipping plane (r10): per-file
            # exact value-PAIR hash sets consulted by scan planning for
            # two-column eq/IN conjunctions that each single-column
            # store keeps (values present, never on the same row)
            from linkedin_iceberg_spark.catalog.analyze import (
                PAIR_DICT_DEFAULT_MAX_NDV, analyze_dictionary_pair)
            cap = int(rest[2]) if rest[2:] else PAIR_DICT_DEFAULT_MAX_NDV
            out = {"files_analyzed":
                   analyze_dictionary_pair(t, [rest[0], rest[1]],
                                           max_ndv=cap)}
        elif proc == "analyze_bloom":
            # the bloom file-skipping plane: per-file filters consulted
            # by scan planning for eq/IN point lookups on columns too
            # distinct for a dictionary (fpp accepts a quoted decimal,
            # e.g. CALL analyze_bloom('db.t', 'id', '0.001'))
            from linkedin_iceberg_spark.catalog.bloom import (
                BLOOM_DEFAULT_FPP, analyze_bloom)
            fpp = float(rest[1]) if rest[1:] else BLOOM_DEFAULT_FPP
            out = {"files_analyzed": analyze_bloom(t, rest[0], fpp=fpp)}
        elif proc == "analyze_histogram":
            # the histogram plane: per-file exact value counts, folded
            # by the grouped-count metadata route (GROUP BY col with
            # zero data I/O on covered files)
            from linkedin_iceberg_spark.catalog.analyze import (
                DICT_DEFAULT_MAX_NDV, analyze_histogram)
            cap = int(rest[1]) if rest[1:] else DICT_DEFAULT_MAX_NDV
            out = {"files_analyzed":
                   analyze_histogram(t, rest[0], max_ndv=cap)}
        elif proc == "analyze_topk":
            # the heavy-hitter plane: per-file truncated histograms
            # with SpaceSaving merge bounds
            from linkedin_iceberg_spark.catalog.analyze import (
                TOPK_DEFAULT_M, analyze_topk)
            m_ = int(rest[1]) if rest[1:] else TOPK_DEFAULT_M
            out = {"files_analyzed": analyze_topk(t, rest[0], m=m_)}
        elif proc == "analyze_sample":
            # the sample plane (r10): per-file bottom-k row samples,
            # merged into zero-data-I/O quantiles
            from linkedin_iceberg_spark.catalog.analyze import (
                SAMPLE_DEFAULT_K, analyze_sample)
            k = int(rest[1]) if rest[1:] else SAMPLE_DEFAULT_K
            grp = rest[2] if rest[2:] else None
            out = {"files_analyzed":
                   analyze_sample(t, rest[0], k=k, group_col=grp)}
        elif proc == "approx_top_k":
            from linkedin_iceberg_spark.catalog.analyze import (
                TOPK_DEFAULT_M, approx_top_k)
            m_ = int(rest[2]) if rest[2:] else TOPK_DEFAULT_M
            rows = approx_top_k(t, rest[0], int(rest[1]), m=m_)
            return self.spark.createDataFrame(
                [(str(v), lo, hi, g) for v, lo, hi, g in rows],
                "value string, lower long, upper long, "
                "guaranteed boolean")
        elif proc == "kmv_overlap":
            # table-vs-table corpus overlap from the KMV stores (the
            # decontamination audit as one CALL)
            from linkedin_iceberg_spark.catalog.analyze import (
                KMV_DEFAULT_K, kmv_table_overlap)
            other = self.load_table(rest[1])
            k = int(rest[3]) if rest[3:] else KMV_DEFAULT_K
            out = kmv_table_overlap(t, rest[0], other, rest[2], k=k)
        elif proc == "rebucket":
            # make a table co-locatable: evolve the spec to bucket the
            # column (replacing any prior bucket on it, keeping other
            # partition fields) and rewrite EVERY live file under the
            # new spec, so colocated joins never hit the mixed-spec
            # fallback.  One spec commit + one rewrite commit; readers
            # of old snapshots keep their old specs.
            from linkedin_iceberg_spark.catalog import maintenance as MA
            col, n = rest[0], int(rest[1])
            if col not in t.schema.column_names():
                raise ValueError(f"no such column {col!r}")

            def build(b):
                import re as _re2
                for f in t.spec.fields:
                    if f.source_name == col and _re2.match(
                            r"bucket\[\d+\]$", f.transform_str):
                        continue  # replaced by the new modulus
                    _replay_spec_field(b, f)
                b.bucket(col, n)
            t.update_spec(build)
            out = MA.rewrite_data_files(t.refresh(), min_input_files=1)
            out["buckets"] = n
        elif proc == "build_key_index":
            from linkedin_iceberg_spark.catalog.key_index import (
                build_key_index)
            out = build_key_index(t, rest[0])
        elif proc == "refresh_key_index":
            from linkedin_iceberg_spark.catalog.key_index import (
                refresh_key_index)
            out = refresh_key_index(t, rest[0])
        elif proc == "optimize":
            # the OPTIMIZE composite users expect from lakehouse SQL:
            # compact small data files, fold the position-delete
            # backlog, drop deletes nothing references, then compact
            # manifests — each step the already-audited action, run in
            # the order that lets later steps see earlier results
            out = {"rewrite_data_files": MA.rewrite_data_files(t),
                   "rewrite_position_deletes":
                       MA.rewrite_position_deletes(t.refresh()),
                   "remove_dangling_deletes":
                       MA.remove_dangling_deletes(t.refresh()),
                   "rewrite_manifests":
                       MA.rewrite_manifests(t.refresh())}
        else:
            raise ValueError(f"unknown procedure: {proc!r}")
        return self.spark.createDataFrame(
            [(proc, json.dumps(out, default=str, sort_keys=True))],
            "operation string, detail string")

    def _sql_merge(self, query: str) -> DataFrame:
        """MERGE INTO routed to the row_delta.merge operator — the SQL
        extension the reference delegates to engines for row-level ops
        (spark3-era MERGE builders); ours commits ONE sequence-scoped
        RowDelta snapshot, no copy-on-write of untouched files.

        Supported (conservative; anything else raises with the reason):

            MERGE INTO db.t [AS] t USING (db.src | <temp view>) [AS] s
            ON t.k = s.k [AND t.k2 = s.k2 ...]
            [WHEN MATCHED [AND <cond>] THEN DELETE]
            [WHEN MATCHED [AND <cond>] THEN UPDATE SET
                (col = expr, ... | *)]
            [WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN
                (INSERT [*] | INSERT (cols) VALUES (exprs))]
            [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN
                (DELETE | UPDATE SET col = expr, ...)]
                -- the Spark 3.4+ extension: target rows with no
                -- source match; conditions/exprs see t.* only

        ON must be an equi-conjunction on SAME-NAMED key columns (the
        operator's key_cols contract).  Conditions and SET expressions
        are Spark SQL over the declared aliases, normalized to the
        operator's `t`/`s` aliases.  rows_affected reports the rows the
        merge WROTE (updated + inserted, the commit's added-records)."""
        import re

        from pyspark.sql import functions as F

        from linkedin_iceberg_spark.catalog.row_delta import merge

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        dotted = rf"{ident}(?:\.{ident})+"
        masked, lits = _mask_sql_literals(query)

        um = re.search(r"\busing\s*\(", masked, re.IGNORECASE)
        if um:
            # USING (SELECT ...) [AS] alias: evaluate the subquery
            # through the full SQL path (engine tables resolve, WHERE
            # pushdown applies) and substitute a temp view so the main
            # grammar proceeds unchanged
            import uuid as _uuid
            inner, rest = _cut_balanced(masked[um.end():])
            sub_sql = _unmask_sql_literals(inner, lits).strip()
            if not re.match(r"(select|with)\b", sub_sql, re.IGNORECASE):
                raise ValueError("MERGE USING (...) must wrap a "
                                 "SELECT/WITH subquery")
            vname = f"_merge_src_{_uuid.uuid4().hex[:8]}"
            self.sql(sub_sql).createOrReplaceTempView(vname)
            masked = masked[:um.start()] + f"using {vname}" + rest

        m = re.match(
            rf"\s*merge\s+into\s+({dotted})(?:\s+(?:as\s+)?({ident}))?"
            rf"\s+using\s+({dotted}|{ident})(?:\s+(?:as\s+)?({ident}))?"
            rf"\s+on\s+(.+?)\s+(when\s+.+?)\s*;?\s*$",
            masked, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError(
                "unsupported MERGE shape; see Catalog._sql_merge for the "
                "accepted grammar")
        tgt_name, tgt_alias, src_name, src_alias, on_text, whens = \
            m.groups()
        t = self.load_table(tgt_name)
        if self.table_exists(src_name):
            source = self.load_table(src_name).to_df()
        else:
            source = self.spark.table(src_name)  # temp view

        def norm(text: str):
            """Rewrite declared aliases/names to the operator's t/s."""
            for name, std in ((tgt_alias, "t"), (tgt_name, "t"),
                              (src_alias, "s"), (src_name, "s")):
                if name:
                    text = re.sub(
                        rf"(?<![A-Za-z0-9_.]){re.escape(name)}\.",
                        std + ".", text)
            return _unmask_sql_literals(text, lits)

        key_cols = []
        for conj in _split_top_level_and(on_text):
            eq = re.match(
                rf"\s*({ident})\.({ident})\s*=\s*({ident})\.({ident})\s*$",
                norm(conj))
            if not eq or {eq.group(1), eq.group(3)} != {"t", "s"} \
                    or eq.group(2) != eq.group(4):
                raise ValueError(
                    f"MERGE ON must be an equi-conjunction on same-named "
                    f"key columns; cannot use: {conj.strip()!r}")
            key_cols.append(eq.group(2))

        upd = upd_cond = del_cond = ins_cond = ins_values = None
        src_upd = src_upd_cond = src_del_cond = None
        insert_unmatched = False
        # SQL MERGE evaluates WHEN clauses in declared order (first
        # matching clause wins) — record each clause's position so the
        # operator knows whether DELETE or UPDATE was declared first
        clause_pos: dict = {}
        clause_re = re.compile(
            r"when\s+(not\s+)?matched(?:\s+by\s+(source|target))?"
            r"(?:\s+and\s+(.+?))?\s+then\s+"
            r"(update\s+set\s+.+?|delete|"
            r"insert\s*\([^)]*\)\s*values\s*\(.+?\)|insert\s*\*?)"
            r"(?=\s+when\s+|\s*$)",
            re.IGNORECASE | re.DOTALL)
        matched_any = False
        for idx, c in enumerate(clause_re.finditer(whens)):
            matched_any = True
            is_not, by, cond_text, action = c.groups()
            cond = F.expr(norm(cond_text)) if cond_text else None
            act = action.strip()
            low = act.lower()
            if by and by.lower() == "source":
                if not is_not:
                    raise ValueError("MATCHED BY SOURCE is not a MERGE "
                                     "clause; use WHEN NOT MATCHED BY "
                                     "SOURCE")
                if low == "delete":
                    src_del_cond = cond if cond is not None \
                        else F.lit(True)
                    clause_pos["src_del"] = idx
                elif low.startswith("update set"):
                    clause_pos["src_upd"] = idx
                    body_set = act[len("update set"):].strip()
                    if body_set == "*":
                        raise ValueError(
                            "NOT MATCHED BY SOURCE UPDATE SET * is "
                            "meaningless (there is no source row)")
                    src_upd, src_upd_cond = {}, cond
                    for part in _split_top_level_commas(body_set):
                        col, _, val = part.partition("=")
                        if not col.strip() or not val.strip():
                            raise ValueError(f"malformed SET: {part!r}")
                        src_upd[norm(col.strip()).removeprefix("t.")] = \
                            F.expr(norm(val.strip()))
                else:
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE supports only "
                        "DELETE or UPDATE SET")
            elif is_not:
                if not low.startswith("insert"):
                    raise ValueError(
                        "WHEN NOT MATCHED supports only INSERT [*] or "
                        "INSERT (cols) VALUES (exprs)")
                insert_unmatched, ins_cond = True, cond
                im = re.match(r"insert\s*\((.*?)\)\s*values\s*\((.+)\)"
                              r"\s*$", act, re.IGNORECASE | re.DOTALL)
                if im:
                    cols = [norm(x.strip()).removeprefix("t.")
                            for x in im.group(1).split(",")]
                    vals = _split_top_level_commas(im.group(2))
                    if len(cols) != len(vals):
                        raise ValueError(
                            f"MERGE INSERT names {len(cols)} columns "
                            f"but supplies {len(vals)} values")
                    ins_values = {col: F.expr(norm(v))
                                  for col, v in zip(cols, vals)}
            elif low == "delete":
                del_cond = cond if cond is not None else F.lit(True)
                clause_pos["del"] = idx
            elif low.startswith("update set"):
                upd, upd_cond = {}, cond
                clause_pos["upd"] = idx
                body_set = act[len("update set"):].strip()
                if body_set == "*":
                    # UPDATE SET *: every target column takes the
                    # same-named source column
                    upd = {col: F.col(f"s.{col}")
                           for col in t.schema.column_names()}
                    continue
                for part in _split_top_level_commas(
                        act[len("update set"):]):
                    col, _, val = part.partition("=")
                    if not col.strip() or not val.strip():
                        raise ValueError(f"malformed SET: {part!r}")
                    upd[norm(col.strip()).removeprefix("t.")] = \
                        F.expr(norm(val.strip()))
            else:
                raise ValueError(f"unsupported MERGE action: {act!r}")
        if not matched_any:
            raise ValueError("MERGE needs at least one WHEN clause")

        merge(t, source, key_cols=key_cols,
              matched_update=upd, matched_update_cond=upd_cond,
              matched_delete_cond=del_cond,
              insert_unmatched=insert_unmatched, insert_cond=ins_cond,
              insert_values=ins_values,
              unmatched_source_update=src_upd,
              unmatched_source_update_cond=src_upd_cond,
              unmatched_source_delete_cond=src_del_cond,
              matched_delete_first=(
                  clause_pos.get("del", 1 << 30)
                  < clause_pos.get("upd", 1 << 30)),
              source_delete_first=(
                  clause_pos.get("src_del", 1 << 30)
                  < clause_pos.get("src_upd", 1 << 30)))
        t.refresh()
        summ = t.metadata.current_snapshot.summary
        return self.spark.createDataFrame(
            [("merge", int(summ.get("added-records", 0)))],
            "operation string, rows_affected long")

    def list_tables(self, namespace: str = "") -> list:
        base = os.path.join(self.warehouse, *namespace.split(".")) \
            if namespace else self.warehouse
        mapping = self._catalog_map()
        by_loc = {os.path.abspath(v): k
                  for k, v in mapping.items() if v is not None}
        hidden = {k for k, v in mapping.items() if v is None}
        prefix = f"{namespace}." if namespace else ""
        out = set()
        for root, dirs, _files in os.walk(base):
            if os.path.basename(root) == "metadata":
                tdir = os.path.dirname(root)
                logical = by_loc.get(os.path.abspath(tdir))
                if logical is None:
                    rel = os.path.relpath(tdir, self.warehouse)
                    logical = rel.replace(os.sep, ".")
                if logical in hidden:
                    dirs.clear()
                    continue
                if logical.startswith(prefix):
                    out.add(logical[len(prefix):])
                dirs.clear()
        # mapped tables whose location sits OUTSIDE this namespace's
        # default subtree still belong to the namespace by name
        for k, v in mapping.items():
            if v is not None and k.startswith(prefix) and \
                    os.path.isdir(os.path.join(v, "metadata")):
                out.add(k[len(prefix):])
        return sorted(out)

    def create_table_as_select(self, name: str, df: DataFrame,
                               spec: Optional[PartitionSpec] = None,
                               properties: Optional[dict] = None) -> Table:
        """CTAS (ref: core/.../Transactions.createTableTransaction): create +
        first append; on failure the half-written table is dropped."""
        t = self.create_table(name, df, spec=spec, properties=properties)
        try:
            t.append(df)
        except Exception:
            self.drop_table(name)
            raise
        return t

    def replace_table_as_select(self, name: str, df: DataFrame,
                                spec: Optional[PartitionSpec] = None,
                                properties: Optional[dict] = None) -> Table:
        """RTAS / CREATE OR REPLACE TABLE AS SELECT (ref:
        api/.../Transactions.replaceTableTransaction + BaseTransaction's
        replace path): atomically swap an existing table's schema and
        contents to match ``df`` in ONE metadata commit, preserving table
        identity and snapshot history (time travel to the pre-replace state
        still works).  Creates the table when absent.

        Columns present in both keep their field ids (so old snapshots
        still align); columns only in ``df`` are added; columns missing
        from ``df`` are dropped.  Incompatible type changes surface as
        evolution/append errors rather than silent coercion."""
        from linkedin_iceberg_spark.expressions import always_true

        if not self.table_exists(name):
            return self.create_table_as_select(name, df, spec=spec,
                                               properties=properties)
        t = self.load_table(name)
        txn = t.new_transaction()
        incoming = Schema.from_spark(df.schema)
        have = {f.name for f in t.schema.fields}
        want = {f.name for f in incoming.fields}
        if have != want:
            up = txn.update_schema().allow_incompatible_changes()
            for f in incoming.fields:
                if f.name not in have:
                    up.add_column(f.name, f.type)
            for missing in sorted(have - want):
                up.delete_column(missing)
            up.commit()
        txn.delete_where(always_true())
        txn.append(df)
        if properties:
            txn.update_properties(properties)
        return txn.commit()

    def legacy_table(self, location: str, fmt: str = "parquet"):
        """Open a plain (non-engine) Hive-layout directory read-only through
        the Table/TableScan API — no conversion, no metadata written.

        The three on-ramps for existing data, in increasing commitment:
        ``legacy_table`` (read in place, zero setup, read-only; ref:
        hive-metastore/.../legacy/LegacyHiveCatalog.java loadTable) ->
        ``import_table`` (metadata-only snapshot, files adopted in place) ->
        ``migrate`` (full CTAS copy)."""
        from linkedin_iceberg_spark.catalog.legacy_hive import LegacyHiveTable
        return LegacyHiveTable(self.spark, location, fmt=fmt)

    def migrate(self, name: str, path_or_df, spec: Optional[PartitionSpec] = None,
                fmt: str = "parquet") -> Table:
        """Import by COPY (CTAS): read any Spark-readable path/DataFrame and
        rewrite it as a new engine table.  Use import_table() for the
        metadata-only in-place variant (ref: spark/.../SparkTableUtil.java
        importSparkTable / the legacy Hive adapter
        hive-metastore/.../legacy/LegacyHiveTable.java)."""
        df = path_or_df if isinstance(path_or_df, DataFrame) else \
            self.spark.read.format(fmt).load(path_or_df)
        return self.create_table_as_select(name, df, spec=spec)

    def import_table(self, name: str, source_dir: str,
                     fmt: str = "parquet") -> Table:
        """In-place snapshot of an existing (possibly Hive-partitioned)
        directory: infer the schema with Spark's partition discovery, derive
        an identity spec from the partition directories, create the table,
        and add_files() the existing data files WITHOUT rewriting them
        (ref: spark/.../SparkTableUtil.java:122-280 importSparkTable — at
        100 TB this is minutes of metadata work instead of a full copy)."""
        import pyarrow.parquet as pq

        source_dir = os.path.abspath(source_dir)
        df = self.spark.read.format(fmt).load(source_dir)

        # partition columns = discovered columns absent from the files
        first = source_dir if os.path.isfile(source_dir) else None
        ext = ".orc" if fmt == "orc" else f".{fmt}"
        for root, _dirs, files in os.walk(source_dir):
            for fn in sorted(files):
                if not fn.startswith((".", "_")) and fn.endswith(ext):
                    first = os.path.join(root, fn)
                    break
            if first:
                break
        if first is None:
            raise ValueError(f"no *{ext} files under {source_dir!r}")
        # physical columns must come from the file footer, not df.columns —
        # the discovered DataFrame already includes Hive partition columns,
        # which would make part_cols empty and break a partitioned import
        if fmt == "parquet":
            physical = set(pq.read_schema(first).names)
        elif fmt == "orc":
            try:
                from pyarrow import orc as _orc
                physical = set(_orc.ORCFile(first).schema.names)
            except ImportError:
                raise ValueError(
                    "partitioned ORC import needs pyarrow.orc to read the "
                    "file footer; it is unavailable in this environment"
                ) from None
        else:
            physical = set(df.columns)
        part_cols = [c for c in df.columns if c not in physical]

        schema = Schema.from_spark(df.schema)
        spec = None
        if part_cols:
            b = PartitionSpec.builder_for(schema)
            for c in part_cols:
                b.identity(c)
            spec = b.build()
        t = self.create_table(name, schema, spec=spec)
        try:
            return t.add_files(source_dir, fmt=fmt)
        except Exception:
            self.drop_table(name)
            raise

    def snapshot_table(self, source: Table, name: str) -> Table:
        """Zero-copy snapshot clone (the snapshot-table action:
        an independent new table over the SAME data files, no rows
        copied; ref: spark/.../SparkTableUtil.java importSparkTable is
        the metadata-import half, core/.../TableMetadata carrying
        per-entry sequence numbers is what makes the delete semantics
        portable).

        The clone inherits every schema and partition spec (entries from
        pre-evolution specs keep resolving by spec_id), and its first
        snapshot adds every live data AND delete entry at its ORIGINAL
        sequence number, so equality-delete scoping ("strictly older
        rows") and position-delete matching replay exactly.  The clone's
        sequence space continues above the source's, so new commits (on
        either side, independently) never interleave with history.

        Writes to the clone never touch the source: new files land under
        the clone's location, removals only drop manifest entries.  The
        flip side of sharing files is fenced in BOTH directions: the
        clone is born with ``gc.enabled=false`` (its own expire/orphan
        actions refuse to delete files the source still needs), and the
        SOURCE records the clone under ``snapshot.clone-locations`` so
        ITS file-deleting maintenance refuses too — otherwise a source
        delete+expire would physically remove files the clone still
        reads.  ``drop_table`` on the clone auto-releases the source;
        alternatively rewrite the clone's files and clear the
        properties.

        Passing a BRANCH handle (``cat.snapshot_table(t.branch("dev"),
        ...)``) clones the branch's state — the staged-release
        materializer: an independent table of exactly what the branch
        head sees, without fast-forwarding main."""
        import time as _time
        import uuid as _uuid
        from dataclasses import replace as _replace

        from linkedin_iceberg_spark.catalog import manifests as M
        from linkedin_iceberg_spark.catalog.metadata import OP_APPEND

        source.refresh()  # clone the LATEST state, not a stale handle's
        location = self._table_location(name)
        ops = TableOperations(location)
        if ops.refresh() is not None:
            raise AlreadyExistsError(f"table {name} already exists")
        src_md = source.metadata
        # the clone is a FRESH table: it must not inherit the source's
        # clone registry (a clone of an already-cloned source would be
        # born "having clones" and drop_table would refuse forever), nor
        # the source's ref bookkeeping — refs are reset to {}, so a
        # carried-over ref_types/ref_ages would leave phantom branches
        # that pass the type check but fail at read time
        md = _replace(
            src_md,
            table_uuid=str(_uuid.uuid4()),
            location=location,
            last_updated_ms=int(_time.time() * 1000),
            properties={**with_clone_registry(src_md.properties, []),
                        "gc.enabled": "false",
                        "snapshot.source-location": source.location},
            current_snapshot_id=None,
            snapshots=[],
            snapshot_log=[],
            metadata_log=[],
            refs={},
            ref_types={},
            ref_ages={},
            staged_wap={},
        )
        version = ops.commit(0, md)
        md._version = version  # type: ignore[attr-defined]
        clone = Table(self.spark, ops, md, version, name)

        # register the clone on the source BEFORE reading its entries:
        # from this commit on, the source's gc fence protects every file
        # the clone is about to reference — reading first would leave a
        # window where a concurrent source delete+expire physically
        # removes files the clone just adopted
        def add_clone(base):
            import dataclasses
            clones = clone_registry(base.properties)
            if location in clones:
                return base
            md2 = dataclasses.replace(base)
            md2.properties = with_clone_registry(base.properties,
                                                 [*clones, location])
            return md2
        try:
            source._commit_metadata_edit(add_clone)
        except Exception:
            shutil.rmtree(location, ignore_errors=True)
            raise

        try:
            data, deletes = source._live_data_and_deletes()
            if not data and not deletes:
                return clone
            types_by_id = clone._types_by_id()

            def build(base, snap_id, seq):
                ptypes = base.all_partition_types()
                infos = []
                # data and delete entries go in SEPARATE manifests (the
                # format's invariant — a manifest is either data or
                # deletes)
                for group in (data, deletes):
                    if not group:
                        continue
                    entries = [M.ManifestEntry(M.STATUS_ADDED, snap_id,
                                               e.sequence_number,
                                               e.data_file)
                               for e in group]
                    mname = M.new_manifest_name()
                    info = M.write_manifest(
                        clone.ops.new_metadata_path(mname), entries,
                        types_by_id, ptypes)
                    info.manifest_path = mname
                    infos.append(info)
                summary = {
                    "added-data-files": str(len(data)),
                    "added-delete-files": str(len(deletes)),
                    "added-records": str(sum(e.data_file.record_count
                                             for e in data)),
                    "snapshot-source": source.location,
                    **clone._rolling_totals(
                        base, d_files=len(data),
                        d_records=sum(e.data_file.record_count
                                      for e in data),
                        d_delete_files=len(deletes)),
                }
                return infos, summary, None

            return clone._commit(build, OP_APPEND)
        except Exception:
            # a half-built clone must not keep the source fenced forever
            self._release_clone(source.location, location)
            shutil.rmtree(location, ignore_errors=True)
            raise
