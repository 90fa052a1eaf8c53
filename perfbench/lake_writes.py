"""``lake_writes``: a seeded write mix on an orders table partitioned by
``year(o_orderdate)``, merge-on-read, with identifier ``o_orderkey``.

Each block runs a seeded shuffle of seven ops, SQL ``INSERT``, a DSv2
``df.write.format("icepack")`` append, a ``stream_batch`` (new parquet
files landed, then one AvailableNow ``write_stream_to_table`` run over a
persistent checkpoint), ``DELETE``, ``UPDATE``, ``MERGE`` and one
read-back SELECT, and then the same seven kinds in reverse order.  Every
write leaves files the later ops of the block scan, so an op costs more
the later it runs; the mirrored second half gives each kind the same
mean position in every block, whatever the seed.  After every block a
maintenance cycle runs ``write_deletion_vectors``, ``rewrite_manifests``,
``compact`` and ``expire_snapshots``, which keeps the table on the
driver-planner side.

The ops are logged as they run; after the timed loop a DuckDB model
replays the log, and the read-backs and the final table contents are
checked against it.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import Op, dir_bytes, history_ratios, rows_equal, table_state

ROWS = 150_000
CUSTOMERS = 15_000
#: shuffled per block, then repeated in reverse
BLOCK = ["insert", "dsv2", "stream", "delete", "update", "merge", "read"]
COLUMNS = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)
INSERT_ROWS = 20
DSV2_ROWS = 2_000
STREAM_FILES, STREAM_ROWS = 2, 500
DML_KEYS = 40
MERGE_ROWS = 60


def _sql_values(tbl: pa.Table) -> str:
    out = []
    for r in tbl.to_pylist():
        out.append(
            f"({r['o_orderkey']}, {r['o_custkey']}, '{r['o_orderstatus']}', "
            f"{r['o_totalprice']!r}, TIMESTAMP '{r['o_orderdate']:%Y-%m-%d %H:%M:%S}', "
            f"'{r['o_orderpriority']}')"
        )
    return ", ".join(out)


class LakeWrites:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.nrng = np.random.default_rng(ctx.seed)
        #: (kind, sql, rows) of every op in run order, replayed by check()
        self.log: list[tuple] = []
        #: (op label, summaries of the snapshots the op committed)
        self.commits: list[tuple[str, list[dict]]] = []
        self.cycles: list[dict] = []

    # -- inputs ------------------------------------------------------------

    def prepare(self) -> None:
        self.base = datagen.orders(self.nrng, ROWS, CUSTOMERS)
        self.next_key = ROWS
        # the starting rows as a parquet file outside the table locations,
        # which every set-up loads through Spark
        self.base_file = os.path.join(self.ctx.run_dir, "orders-base.parquet")
        pq.write_table(self.base, self.base_file)

    def _new_rows(self, n: int) -> pa.Table:
        t = datagen.orders(self.nrng, n, CUSTOMERS, key0=self.next_key)
        self.next_key += n
        return t

    # -- set-up ------------------------------------------------------------

    def setup(self, i: int, last: bool) -> None:
        from icepack.sql import IceSQL

        spark = self.ctx.spark
        wh = os.path.join(self.ctx.run_dir, f"warehouse-writes-{i}")
        ice = IceSQL(spark, wh)
        ice.sql(f"CREATE ICEBERG TABLE orders ({COLUMNS}) PARTITION BY (YEAR(o_orderdate))")
        t = ice.catalog.load_table("orders")
        t.set_properties(**{
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
            "write.merge.mode": "merge-on-read",
            "identifier-field-names": "o_orderkey",
        })
        schema = t.meta.schema.to_struct()
        t.append(spark.read.schema(schema).parquet(self.base_file))
        if last:
            self.ice, self.table, self.schema = ice, t, schema
            self.landing = os.path.join(self.ctx.run_dir, "landing")
            self.checkpoint = os.path.join(self.ctx.run_dir, "checkpoint")
            os.makedirs(self.landing)
            self.last_seq = t.meta.last_sequence_number

    def warm(self) -> None:
        from icepack.datasource import IcepackDataSource

        # icepack.datasource.register() also ships the package to a fixed
        # system path; the session already shipped it (ensure_confs), so
        # register the source class directly
        self.ctx.spark.dataSource.register(IcepackDataSource)
        # one untimed half block: first-use costs of every op kind
        self.warm_s = {}
        for op in self._block(mirrored=False):
            t0 = time.perf_counter()
            out = op.fn()
            self.warm_s[op.label] = time.perf_counter() - t0
            self.after(op, out)
        self.commits.clear()
        self.cycles.clear()
        self.history_mark = len(self.ice._history)

    def table_states(self) -> dict:
        return {"orders": table_state(self.table.refresh())}

    # -- ops -----------------------------------------------------------------

    def ops(self):
        while True:
            yield from self._block()

    def _block(self, mirrored: bool = True):
        kinds = list(BLOCK)
        self.rng.shuffle(kinds)
        if mirrored:
            kinds += kinds[::-1]
        for i, kind in enumerate(kinds):
            yield getattr(self, f"_op_{kind}")(i == 0)
        yield Op("maint", "maintenance", self._maintenance)

    def _key_range(self) -> tuple[int, int]:
        a = self.rng.randrange(0, self.next_key - DML_KEYS)
        return a, a + DML_KEYS

    def _op_insert(self, start):
        rows = self._new_rows(INSERT_ROWS)
        sql = f"INSERT INTO orders VALUES {_sql_values(rows)}"
        return Op("write", "insert", lambda: self.ice.sql(sql), start, ("sql", sql, rows))

    def _op_dsv2(self, start):
        rows = self._new_rows(DSV2_ROWS)
        pdf = rows.to_pandas()

        def run():
            with self.ctx.tracer.span("datasource.write"):
                df = self.ctx.spark.createDataFrame(pdf, self.schema)
                df.write.format("icepack").option("location", self.table.location).mode(
                    "append"
                ).save()

        return Op("write", "dsv2", run, start, ("arrow", None, rows))

    def _op_stream(self, start):
        rows = self._new_rows(STREAM_FILES * STREAM_ROWS)
        for k in range(STREAM_FILES):
            name = f"part-{rows['o_orderkey'][0].as_py()}-{k}.parquet"
            tmp = os.path.join(self.ctx.run_dir, name)
            pq.write_table(rows.slice(k * STREAM_ROWS, STREAM_ROWS), tmp)
            os.rename(tmp, os.path.join(self.landing, name))

        def run():
            from icepack.streaming import write_stream_to_table

            with self.ctx.tracer.span("streaming.run"):
                stream = self.ctx.spark.readStream.schema(self.schema).parquet(self.landing)
                t = self.ice.catalog.load_table("orders")
                q = write_stream_to_table(stream, t, self.checkpoint)
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))

        return Op("write", "stream", run, start, ("arrow", None, rows))

    def _op_delete(self, start):
        a, b = self._key_range()
        sql = f"DELETE FROM orders WHERE o_orderkey BETWEEN {a} AND {b}"
        return Op("write", "delete", lambda: self.ice.sql(sql), start, ("sql", sql, None))

    def _op_update(self, start):
        a, b = self._key_range()
        sql = (
            "UPDATE orders SET o_orderstatus = 'F', o_totalprice = o_totalprice + 1.5 "
            f"WHERE o_orderkey BETWEEN {a} AND {b}"
        )
        return Op("write", "update", lambda: self.ice.sql(sql), start, ("sql", sql, None))

    def _op_merge(self, start):
        old = self.rng.sample(range(self.next_key), MERGE_ROWS // 2)
        fresh = self._new_rows(MERGE_ROWS - MERGE_ROWS // 2)
        src = datagen.orders(self.nrng, len(old), CUSTOMERS)
        src = src.set_column(0, "o_orderkey", pa.array(np.array(old, dtype=np.int64)))
        src = pa.concat_tables([src, fresh])
        view = f"merge_src_{self.next_key}"
        self.ctx.spark.createDataFrame(src.to_pandas(), self.schema).createOrReplaceTempView(view)
        sql = (
            f"MERGE INTO orders t USING {view} s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, "
            "o_orderstatus = s.o_orderstatus "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.o_orderkey, s.o_custkey, "
            "s.o_orderstatus, s.o_totalprice, s.o_orderdate, s.o_orderpriority)"
        )
        return Op("write", "merge", lambda: self.ice.sql(sql), start, ("merge", sql, src))

    def _op_read(self, start):
        y = self.rng.randrange(1995, 2002)
        sql = (
            "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders "
            f"WHERE o_orderdate >= DATE '{y}-01-01' AND o_orderdate < DATE '{y + 1}-01-01' "
            "GROUP BY o_orderstatus"
        )
        return Op("read", "read", lambda: self.ice.sql(sql).collect(), start, ("read", sql, None))

    def _maintenance(self):
        from icepack import maintenance

        t = self.ice.catalog.load_table("orders")
        dv = maintenance.write_deletion_vectors(t)
        maintenance.rewrite_manifests(t.refresh())
        maintenance.compact(t.refresh())
        expired = maintenance.expire_snapshots(
            t.refresh(), older_than_ms=int(time.time() * 1000), retain_last=3
        )
        return {
            "expired": expired,
            "dv_files": int(dv.summary.get("added-data-files", 0)) if dv else 0,
        }

    # -- bookkeeping (untimed) ------------------------------------------------

    def after(self, op, out) -> int:
        """Log ``op`` for the model; return the rows it committed."""
        kind, sql, rows = op.meta or (None, None, None)
        if op.kind == "maint":
            self._new_snapshots()
            live = self.table.live_files()
            self.cycles.append({**out, "bytes": sum(f.file_size_bytes for f in live)})
            return 0
        if kind == "read":
            self.log.append((kind, sql, [tuple(r) for r in out]))
            return 0
        self.log.append((kind, sql, rows))
        self.commits.append((op.label, self._new_snapshots()))
        if op.label in ("delete", "update"):
            return 0
        return rows.num_rows

    def _new_snapshots(self) -> list[dict]:
        t = self.table.refresh()
        new = [s for s in t.meta.snapshots if s.sequence_number > self.last_seq]
        self.last_seq = t.meta.last_sequence_number
        return [dict(s.summary) for s in new] or [{}]

    # -- correctness ---------------------------------------------------------

    def _replay(self, con, kind: str, sql: str, rows) -> None:
        if kind == "sql":
            con.execute(sql)
        elif kind == "arrow":
            con.register("new_rows", rows)
            con.execute("INSERT INTO orders SELECT * FROM new_rows")
            con.unregister("new_rows")
        elif kind == "merge":
            con.register("src", rows)
            con.execute(
                "UPDATE orders SET o_totalprice = src.o_totalprice, "
                "o_orderstatus = src.o_orderstatus FROM src "
                "WHERE orders.o_orderkey = src.o_orderkey"
            )
            con.execute(
                "INSERT INTO orders SELECT * FROM src WHERE o_orderkey NOT IN "
                "(SELECT o_orderkey FROM orders)"
            )
            con.unregister("src")

    def check(self) -> tuple[int, list[str]]:
        import duckdb

        con = duckdb.connect()
        bad = []
        reads = 0
        try:
            con.register("base_rows", self.base)
            con.execute("CREATE TABLE orders AS SELECT * FROM base_rows")
            con.unregister("base_rows")
            for kind, sql, rows in self.log:
                if kind != "read":
                    self._replay(con, kind, sql, rows)
                    continue
                reads += 1
                want = con.execute(sql).fetchall()
                if not rows_equal(rows, want):
                    bad.append(f"lake_writes: {sql[:100]} -> {rows[:3]} want {want[:3]}")
            got = self.ice.catalog.load_table("orders").toDF().toArrow()
            con.register("final_rows", got)
            diff = con.execute(
                "SELECT (SELECT count(*) FROM (SELECT * FROM orders EXCEPT ALL "
                "SELECT * FROM final_rows)), (SELECT count(*) FROM (SELECT * FROM "
                "final_rows EXCEPT ALL SELECT * FROM orders))"
            ).fetchone()
        finally:
            con.close()
        if diff != (0, 0):
            bad.append(f"lake_writes: final table differs from the model: "
                       f"{diff[0]} model rows missing, {diff[1]} extra rows")
        self.live_rows = got.num_rows
        return reads + 1, bad

    def extra_metrics(self, samples, busy) -> dict:
        from stats import percentile

        writes = [s.seconds for s in samples if s.kind == "write" and s.ok]
        maint = [s.seconds for s in samples if s.kind == "maint" and s.ok]
        rows = sum(s.rows for s in samples)
        return {
            "write_p50_s": percentile(writes, 0.5),
            "write_p90_s": percentile(writes, 0.9),
            "maint_cycle_s": percentile(maint, 0.5),
            "rows_per_s": rows / busy if busy else 0.0,
            "samples": {"write": len(writes), "maint": len(maint)},
            "warm_ops_s": self.warm_s,
        }

    def bytes_per_row(self) -> float:
        return dir_bytes(self.table.location) / max(1, self.live_rows)

    def layer_counts(self) -> dict:
        def summaries(*labels):
            return [s for label, ss in self.commits if label in labels for s in ss]

        dml = summaries("delete", "update", "merge")
        ds = summaries("dsv2")
        streams = [len(ss) for label, ss in self.commits if label == "stream"]
        n_cycles = max(1, len(self.cycles))
        live = self.table.live_files()
        totals = (len(live), sum(f.file_size_bytes for f in live))
        return history_ratios(self.ice, self.history_mark, totals) | {
            "dml.files_rewritten_per_op": sum(
                int(s.get("removed-data-files", 0)) for s in dml) / max(1, len(dml)),
            "dml.delete_files_per_op": sum(
                int(s.get("added-data-files", 0)) for s in dml) / max(1, len(dml)),
            # DV files the consolidation left live (compaction then folds them)
            "dv.live_dv_files": sum(c["dv_files"] for c in self.cycles) / n_cycles,
            "maintenance.bytes_rewritten": sum(c["bytes"] for c in self.cycles) / n_cycles,
            "maintenance.files_removed": sum(
                c["expired"].get("deleted_files", 0) for c in self.cycles) / n_cycles,
            "datasource.files_written": sum(
                int(s.get("added-data-files", 0)) for s in ds) / max(1, len(ds)),
            "streaming.batches_per_run": sum(streams) / max(1, len(streams)),
        }
