"""The closed-loop, one-client workloads.

Each workload builds its state in ``setup_round`` (called several times, each
time from nothing; the last round's state is the one the cycles run on) and
returns one cycle's fixed operation sequence from ``cycle_ops``.  An
operation is ``(kind, role, fn)``; ``fn()`` runs it and returns True only
when its output matches an expectation computed without the engine (DuckDB
or pyarrow over the generated parquet, or a pure-Python model of the table).

- ``query_mix``   execution path: the 16 ``bench.HEADLINE`` registry queries
  on TPC-H scale 0.1 inputs.
- ``ingest_cycle`` commit path at steady state: a sliding window of batches
  (append, metadata-only delete, upsert, delete-applying read; every 4th
  cycle also snapshot expiry and dangling-delete removal), so every plan
  meets fresh manifests (metadata caches miss).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Workload:
    name = ""
    rounds = 3          # set-up rounds; setup_s is their median, so the
                        # cold first round never decides it
    warm_cycles = 2     # untimed cycles after the last round
    group = 1           # cycles that repeat as a unit; the warm-up and the
                        # timed phase hold whole groups
    cycle_user_bytes = 0  # input bytes the last cycle wrote into the table

    def __init__(self, tracer, seed: int, work_dir: str):
        self.spark = None   # set once the session is up
        self.tracer = tracer
        self.seed = seed
        self.work = work_dir

    def prepare(self) -> None:
        """One-off input generation and engine-free expectations; uses no
        Spark, so it runs while the JVM starts."""

    def setup_round(self, r: int) -> list:
        """Build the state from nothing; return [(kind, ok)] for any
        operation whose result the round checked."""
        raise NotImplementedError

    def cycle_ops(self, c: int) -> list:
        raise NotImplementedError

    def state(self) -> dict:
        """Snapshots, live files and metadata bytes of the workload's table.
        Planning fills the engine's manifest cache, so this is read only
        where no timed cycle follows directly."""
        return {}

    def file_sizes(self) -> dict:
        """{path: bytes} of every file under the workload's table, read
        between cycles without touching the engine."""
        return {}

    def _exec(self, df, *aggs):
        """Run ``df`` to completion under a ``spark.exec`` span; with aggs,
        return the single aggregate row, else the row count."""
        with self.tracer.span("spark.exec"):
            if aggs:
                return tuple(df.agg(*aggs).collect()[0])
            return df.count()


# ---------------------------------------------------------------- query_mix
class QueryMix(Workload):
    """The 16 headline registry queries, each run to completion per cycle."""

    name = "query_mix"
    scale = 0.1         # TPC-H scale factor of the generated inputs
    warm_cycles = 3     # pass time still falls over the first ~5 passes

    def prepare(self):
        import bench
        from linkedin_iceberg_spark import queries as Q
        self.names = list(bench.HEADLINE)
        self.registry = Q._REGISTRY
        self.tables = datagen.gen_tables(self.seed, self.scale)
        base = os.path.join(self.work, "qm_expect")
        paths = datagen.write_tables(self.tables, base)
        con = duckdb.connect()
        for name, p in paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        self.expected = {}
        for name in self.names:
            sql = self.registry[name][1]
            if sql is not None:
                self.expected[name] = con.execute(
                    f"SELECT count(*) FROM ({sql}) q").fetchone()[0]
        con.close()
        docs = self.tables["documents"].to_pandas()
        first = docs.groupby("text")["doc_id"].transform("min")
        self.exact_dups = {(int(a), int(b)) for a, b in
                           zip(first, docs["doc_id"]) if a != b}
        _log(f"query_mix expectations {self.expected}")

    def setup_round(self, r):
        # fresh input files under a new path: the registry's build-once
        # table cache misses, so each round builds table_scan_pruned's
        # month-partitioned engine table from nothing
        self.data_dir = os.path.join(self.work, f"qm_data{r}")
        datagen.write_tables(self.tables, self.data_dir)
        return [("table_scan_pruned", self._query("table_scan_pruned")())]

    def _check_minhash(self) -> bool:
        """dedup_minhash_lsh_full has no SQL oracle: every candidate pair
        must be ordered and every exact-duplicate document pair must be a
        candidate sharing all bands.  The count seen here is the count every
        later execution must reproduce."""
        fn = self.registry["dedup_minhash_lsh_full"][0]
        rows = fn(self.spark, self.data_dir).collect()
        top = max((r["n_shared_bands"] for r in rows), default=0)
        full = {(r["d1"], r["d2"]) for r in rows
                if r["n_shared_bands"] == top}
        self.expected["dedup_minhash_lsh_full"] = len(rows)
        return all(r["d1"] < r["d2"] for r in rows) and \
            self.exact_dups <= full

    def _query(self, name):
        fn = self.registry[name][0]

        def op():
            with self.tracer.span("queries.build"):
                df = fn(self.spark, self.data_dir)
            return self._exec(df) == self.expected[name]
        return op

    def cycle_ops(self, c):
        # the first warm-up pass checks the minhash query, which has no SQL
        # oracle, and fixes the count every later pass must reproduce
        return [(n, "read", self._check_minhash
                 if c == 0 and n == "dedup_minhash_lsh_full"
                 else self._query(n)) for n in self.names]


# ------------------------------------------------------------- ingest_cycle
class IngestCycle(Workload):
    """A sliding window of ``window`` batches of ``batch_rows`` events."""

    name = "ingest_cycle"
    group = 4           # maintenance closes every 4th cycle
    warm_cycles = 8
    window = 3
    batch_rows = 2000
    upsert_rows = 200
    retain_last = 4

    def prepare(self):
        self.in_dir = os.path.join(self.work, "ic_input")
        os.makedirs(self.in_dir)
        rng = np.random.default_rng([self.seed, 2])
        self.value_floor = float(np.round(rng.uniform(20, 60), 2))
        self.read_sql = (
            "SELECT count(*) AS n, sum(event_id) AS s, "
            "sum(CAST(round(value * 100) AS BIGINT)) AS c "
            f"FROM bench.events WHERE value >= {self.value_floor}")
        self._batches: dict = {}

    # input batches are a pure function of (seed, batch id)
    def _batch(self, b: int) -> pa.Table:
        t = self._batches.get(b)
        if t is None:
            rng = np.random.default_rng([self.seed, 3, b])
            t = datagen.gen_events(rng, b * self.batch_rows, self.batch_rows,
                                   batch=b)
            self._batches[b] = t
        return t

    def _batch_path(self, b: int) -> str:
        p = os.path.join(self.in_dir, f"batch_{b}.parquet")
        if not os.path.exists(p):
            pq.write_table(self._batch(b), p)
        return p

    def _upsert(self, b: int) -> tuple:
        """(path, rows): rows ``start..start+upsert_rows`` of batch b with
        value + 100, written once."""
        p = os.path.join(self.in_dir, f"upsert_{b}.parquet")
        rng = np.random.default_rng([self.seed, 4, b])
        start = int(rng.integers(0, self.batch_rows - self.upsert_rows))
        rows = self._batch(b).slice(start, self.upsert_rows)
        rows = rows.set_column(rows.schema.get_field_index("value"), "value",
                               pc.add(rows["value"], 100.0))
        if not os.path.exists(p):
            pq.write_table(rows, p)
        return p, rows

    def setup_round(self, r):
        from linkedin_iceberg_spark import Catalog, PartitionSpec, Schema
        self.cat = Catalog(self.spark, os.path.join(self.work, f"ic_wh{r}"))
        first = self.spark.read.parquet(self._batch_path(0))
        spec = PartitionSpec.builder_for(Schema.from_spark(first.schema)) \
            .identity("batch").build()
        # keep only the last few metadata versions, as a streaming table
        # must: metadata bytes then stay flat across cycles
        t = self.cat.create_table("bench.events", first, spec=spec, properties={
            "write.metadata.delete-after-commit.enabled": "true",
            "write.metadata.previous-versions-max": "5"})
        self.live: dict = {}
        self.upserted: set = set()
        self.table = t
        # the steady state the cycles keep: every batch but the newest
        # already carries one upsert (data file + equality-delete file)
        for b in range(self.window):
            t.append(self.spark.read.parquet(self._batch_path(b)))
            self.live[b] = self._batch(b)
            if b:
                path, rows = self._upsert(b - 1)
                t.upsert(self.spark.read.parquet(path), ["event_id"])
                self._apply_upsert(b - 1, rows)
        self.next_batch = self.window

    def _apply_upsert(self, b: int, rows: pa.Table) -> None:
        cur = self.live[b]
        hit = pc.is_in(cur["event_id"], value_set=rows["event_id"])
        self.live[b] = pa.concat_tables([cur.filter(pc.invert(hit)), rows])
        self.upserted.add(b)

    def _expected_read(self) -> tuple:
        live = pa.concat_tables(self.live.values())
        keep = live.filter(pc.greater_equal(live["value"], self.value_floor))
        cents = np.round(keep["value"].to_numpy() * 100).astype(np.int64)
        return (keep.num_rows, int(pc.sum(keep["event_id"]).as_py() or 0),
                int(cents.sum()))

    def cycle_ops(self, c):
        """Inputs and the model's expected state after this cycle are
        prepared here, before the cycle's clock starts."""
        from linkedin_iceberg_spark.expressions import eq
        t = self.table
        nb = self.next_batch
        old, up = nb - self.window, nb - 1
        self.next_batch += 1
        batch_p = self._batch_path(nb)
        upsert_p, rows = self._upsert(up)
        new_df = self.spark.read.parquet(batch_p)
        upsert_df = self.spark.read.parquet(upsert_p)
        self.cycle_user_bytes = os.path.getsize(batch_p) + \
            os.path.getsize(upsert_p)

        # the model: live rows per batch, this cycle's writes applied
        dropped = self.batch_rows + (
            self.upsert_rows if old in self.upserted else 0)
        self.live[nb] = self._batch(nb)
        del self.live[old]
        self._apply_upsert(up, rows)
        expected_read = self._expected_read()

        def append():
            t.append(new_df)
            s = t.current_snapshot().summary
            return s.get("added-records") == str(self.batch_rows)

        def delete():
            t.delete_where(eq("batch", old))
            s = t.current_snapshot()
            # metadata-only: whole files dropped, nothing rewritten
            return (s.operation == "delete"
                    and s.summary.get("added-data-files") == "0"
                    and s.summary.get("deleted-records") == str(dropped))

        def upsert():
            t.upsert(upsert_df, ["event_id"])
            s = t.current_snapshot()
            return (s.operation == "overwrite" and s.summary.get(
                "added-records") == str(self.upsert_rows))

        def read():
            df = self.cat.sql(self.read_sql)
            with self.tracer.span("spark.exec"):
                row = df.collect()[0]
            return (row["n"], row["s"] or 0, row["c"] or 0) == expected_read

        def maintain():
            t.expire_snapshots(retain_last=self.retain_last)
            kept = len(t.snapshots())
            t.remove_dangling_deletes()
            return kept == self.retain_last

        ops = [("append", "commit", append), ("delete", "commit", delete),
               ("upsert", "commit", upsert), ("read", "read", read)]
        if (c + 1) % self.group == 0:
            ops.append(("maintain", "maintenance", maintain))
        return ops

    def state(self):
        t = self.table
        t.refresh()
        tasks = t.new_scan().plan_files()
        deletes = {d.data_file.file_path for tk in tasks for d in tk.deletes}
        meta_dir = os.path.join(t.location, "metadata")
        return {"snapshots": len(t.snapshots()),
                "live_files": len(tasks) + len(deletes),
                "metadata_bytes": sum(sz for p, sz in self.file_sizes().items()
                                      if p.startswith(meta_dir))}

    def file_sizes(self):
        sizes = {}
        for root, _dirs, files in os.walk(self.table.location):
            for fn in files:
                p = os.path.join(root, fn)
                try:
                    sizes[p] = os.path.getsize(p)
                except OSError:
                    continue
        return sizes


WORKLOADS = {w.name: w for w in (QueryMix, IngestCycle)}
