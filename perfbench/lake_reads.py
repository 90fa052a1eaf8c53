"""``lake_reads``: a read-only mix of ``IceSQL.sql()`` SELECTs on a
lineitem table partitioned by ``year(l_shipdate)``.

The table is built from 66 append commits, each committing one batch
of per-year parquet files with ``IceTable.add_files``, which keeps one
set-up at a few seconds.  The first batch is a backfill spanning every
year; the rest arrive in ship-date order, one or two partitions each.  The files are written once, untimed, outside
the table locations (``add_files`` adopts files where they are), and
every set-up adopts the same files into a table of its own.  After the
first commit, two merge-on-read position deletes are consolidated into
deletion vectors, so every year partition holds DV-masked files; the
table ends with more
manifests than the engine's auto plan-mode threshold (64), so scans take
the distributed planner.  Nothing is written during the timed loop.

Mix per block of 7 statements, shuffled: 4 pruned range aggregates, one
``AT(SNAPSHOT => ...)`` time-travel read of a seeded older snapshot, one
full-table aggregate of TPC-H Q1 shape, one metadata-table query.
Constants are drawn with Zipf skew from pools of more than 256 distinct
statement texts, more than the engine's result cache holds.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from common import Op, history_ratios, rows_equal, table_state

ROWS = 600_000
BATCHES = 66
#: appends before the deletes; the rest land after the consolidation
BATCHES_BEFORE_DELETES = 1
BLOCK = ["range"] * 4 + ["time_travel", "q1", "metadata"]
COLUMNS = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
)
RANGE_AGGS = [
    "count(*) AS n, sum(l_extendedprice) AS revenue",
    "sum(l_extendedprice * (1 - l_discount)) AS revenue, avg(l_quantity) AS qty",
    "l_returnflag, count(*) AS n, sum(l_quantity) AS qty",
]
TT_FILTERS = ["", "WHERE l_returnflag = 'R'", "WHERE l_discount > 0.05",
              "WHERE l_shipdate < DATE '1998-01-01'"]
Q1 = (
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
    "sum(l_extendedprice) AS sum_base_price, "
    "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
    "avg(l_discount) AS avg_disc, count(*) AS count_order FROM li "
    "WHERE l_shipdate <= DATE '{d}' GROUP BY l_returnflag, l_linestatus"
)


def _month(i: int) -> str:
    y, m = divmod(i, 12)
    return f"{1995 + y}-{m + 1:02d}-01"


class _Pool:
    """A seeded permutation of statement texts drawn with Zipf skew."""

    def __init__(self, rng: random.Random, items: list, s: float = 0.5):
        self.items = list(items)
        rng.shuffle(self.items)
        w = [1.0 / (r + 1) ** s for r in range(len(self.items))]
        self.cum = np.cumsum(w) / sum(w)
        self.rng = rng

    def draw(self):
        return self.items[int(np.searchsorted(self.cum, self.rng.random()))]


class LakeReads:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.results: list[tuple] = []

    # -- inputs ------------------------------------------------------------

    def prepare(self) -> None:
        nrng = np.random.default_rng(self.ctx.seed)
        rows = datagen.lineitem(nrng, ROWS, ROWS // 4, 20_000, 1_000)
        # batch 0 is a backfill of every year; the other batches arrive
        # in ship-date order, so each touches one or two partitions
        n0 = -(-ROWS // BATCHES)
        rest = rows.slice(n0)
        rest = rest.take(pc.sort_indices(rest, [("l_shipdate", "ascending")]))
        rows = pa.concat_tables([rows.slice(0, n0), rest])
        batch = np.concatenate([
            np.zeros(n0, np.int32),
            1 + np.arange(ROWS - n0) * (BATCHES - 1) // (ROWS - n0),
        ])
        self.rows = rows.append_column("batch", pa.array(batch.astype(np.int32)))
        self.years = np.asarray(pc.year(rows["l_shipdate"]))
        a = self.rng.randrange(0, ROWS // 4 - 1500)
        self.deletes = [
            f"l_suppkey = {self.rng.randrange(1000)}",
            f"l_orderkey BETWEEN {a} AND {a + 1500}",
        ]
        # per batch, one hive-style file per year: add_files reads the
        # partition value from the directory name
        data = self.rows.drop_columns(["batch"])
        bounds = np.searchsorted(np.asarray(self.rows["batch"]), np.arange(BATCHES + 1))
        root = os.path.join(self.ctx.run_dir, "lineitem-files")
        self.batch_paths = []
        self.files = []  # (batch, year, rows) per data file
        for b in range(BATCHES):
            lo, hi = bounds[b], bounds[b + 1]
            part, years = data.slice(lo, hi - lo), self.years[lo:hi]
            paths = []
            for y in np.unique(years):
                d = os.path.join(root, f"l_shipdate_year={y}")
                os.makedirs(d, exist_ok=True)
                p = os.path.join(d, f"batch-{b:03d}.parquet")
                sel = part.filter(pa.array(years == y))
                pq.write_table(sel, p)
                paths.append(p)
                self.files.append((b, int(y), sel.num_rows))
            self.batch_paths.append(paths)

    # -- set-up ------------------------------------------------------------

    def setup(self, i: int, last: bool) -> None:
        from icepack import maintenance
        from icepack.sql import IceSQL

        wh = os.path.join(self.ctx.run_dir, f"warehouse-reads-{i}")
        ice = IceSQL(self.ctx.spark, wh)
        ice.sql(f"CREATE ICEBERG TABLE li ({COLUMNS}) PARTITION BY (YEAR(l_shipdate))")
        t = ice.catalog.load_table("li")
        t.set_properties(**{
            "write.delete.mode": "merge-on-read",
            "write.delete.mor.strategy": "position",
        })
        snaps = []  # (snapshot id, appended batches, deletes applied)
        for b in range(BATCHES):
            if b == BATCHES_BEFORE_DELETES:
                for j, pred in enumerate(self.deletes):
                    ice.sql(f"DELETE FROM li WHERE {pred}")
                    snaps.append((t.refresh().meta.current_snapshot_id, b, j + 1))
                maintenance.write_deletion_vectors(t.refresh())
                snaps.append((t.refresh().meta.current_snapshot_id, b, len(self.deletes)))
            t.add_files(self.batch_paths[b])
            snaps.append((t.meta.current_snapshot_id, b + 1,
                          len(self.deletes) if b >= BATCHES_BEFORE_DELETES else 0))
        if last:
            self.ice, self.table, self.snaps = ice, t, snaps
            self._statements()

    def warm(self) -> None:
        # one untimed block, checked like the timed ones: first use of
        # both planner lanes, the DV-masked scan and the metadata tables.
        # The statements keep getting faster for several blocks after
        # that, so a shorter warm-up leaves the timed block on the
        # steepest part of that curve
        for op in self._block():
            self.after(op, op.fn())
        self.history_mark = len(self.ice._history)

    def table_states(self) -> dict:
        return {"li": table_state(self.table.refresh())}

    # -- statements ----------------------------------------------------------

    def _statements(self) -> None:
        """Statement pools: (text, snapshot index or None, check kind)."""
        rng, last = self.rng, len(self.snaps) - 1
        # each range stays inside one year partition, so every range
        # aggregate prunes to the same number of partitions
        ranges = [
            (f"SELECT {agg} FROM li WHERE l_shipdate >= DATE '{_month(m)}' AND "
             f"l_shipdate < DATE '{_month(m + w)}'"
             + (" GROUP BY l_returnflag" if "l_returnflag," in agg else ""), last, "rows")
            for m in range(84) for w in (1, 2, 3) for agg in RANGE_AGGS
            if m % 12 + w <= 12
        ]
        # older snapshots below the auto plan-mode threshold: all on the
        # driver planner, so the time-travel cost does not hinge on the lane
        t = self.table
        older = [k for k, s in enumerate(self.snaps[:-1]) if s[1] >= 2
                 and not t._use_distributed_planner(t.meta.snapshot_by_id(s[0]))]
        tts = [
            (f"SELECT count(*) AS n, sum(l_quantity) AS qty FROM li "
             f"AT(SNAPSHOT => {self.snaps[k][0]}) {f}", k, "rows")
            for k in older for f in TT_FILTERS
        ]
        # TPC-H Q1 cuts off near the end of the shipdate range
        q1s = [(Q1.format(d=str(datagen.SHIP_EPOCH + d)), last, "rows")
               for d in range(datagen.SHIP_DAYS - 400, datagen.SHIP_DAYS)]
        metas = (
            [(f"SELECT count(*) AS n FROM li$snapshots WHERE sequence_number <= {k}",
              last, "snapshots") for k in range(1, len(self.snaps) + 1)]
            + [(f"SELECT count(*) AS n FROM li$files WHERE record_count > {k}",
                last, "files") for k in range(0, 10_000, 50)]
            + [("SELECT partition, file_count FROM li$partitions", last, "partitions"),
               ("SELECT count(*) AS n FROM li$manifests", last, "manifests")]
        )
        self.pools = {
            "range": _Pool(rng, ranges),
            "time_travel": _Pool(rng, tts),
            "q1": _Pool(rng, q1s),
            "metadata": _Pool(rng, metas),
        }
        self.distinct_texts = sum(len(p.items) for p in self.pools.values())

    def ops(self):
        while True:
            yield from self._block()

    def _block(self):
        block = list(BLOCK)
        self.rng.shuffle(block)
        for i, kind in enumerate(block):
            text, snap, check = self.pools[kind].draw()
            yield Op(
                "read", kind,
                lambda text=text: self.ice.sql(text).collect(),
                block_start=i == 0, meta=(text, snap, check),
            )

    def after(self, op, out) -> int:
        self.results.append((op.meta, [tuple(r) for r in out]))
        return 0

    # -- correctness ---------------------------------------------------------

    def _view(self, snap: int) -> str:
        """DuckDB SQL for the table's rows as of snapshot index ``snap``."""
        _sid, batches, n_del = self.snaps[snap]
        where = [f"batch < {batches}"]
        for pred in self.deletes[:n_del]:
            where.append(f"NOT (batch < {BATCHES_BEFORE_DELETES} AND ({pred}))")
        return f"(SELECT * EXCLUDE (batch) FROM li_rows WHERE {' AND '.join(where)})"

    def _expected_meta(self, check: str, text: str):
        k = int(text.rsplit(" ", 1)[1]) if check in ("snapshots", "files") else None
        if check == "snapshots":
            return [(min(k, len(self.snaps)),)]
        if check == "files":
            return [(sum(1 for f in self.files if f[2] > k),)]
        if check == "partitions":
            per: dict[int, int] = {}
            for _b, y, _n in self.files:
                per[y] = per.get(y, 0) + 1
            return sorted(per.values())
        return None

    def check(self) -> tuple[int, list[str]]:
        import re

        import duckdb

        con = duckdb.connect()
        bad = []
        try:
            con.register("li_rows", self.rows)
            self.live_rows = con.execute(
                f"SELECT count(*) FROM {self._view(len(self.snaps) - 1)}"
            ).fetchone()[0]
            for (text, snap, check), rows in self.results:
                if check == "rows":
                    sql = re.sub(r"FROM li( AT\(SNAPSHOT => \d+\))?",
                                 f"FROM {self._view(snap)} AS li", text)
                    want = con.execute(sql).fetchall()
                    ok = rows_equal(rows, want)
                elif check == "partitions":
                    want = self._expected_meta(check, text)
                    ok = sorted(r[1] for r in rows) == want
                elif check == "manifests":
                    ok = rows[0][0] >= 64
                else:
                    ok = rows_equal(rows, self._expected_meta(check, text))
                if not ok:
                    bad.append(f"lake_reads: {text[:120]} -> {rows[:3]}")
            return len(self.results), bad
        finally:
            con.close()

    def extra_metrics(self, samples, busy) -> dict:
        return {"distinct_statement_texts": self.distinct_texts}

    def bytes_per_row(self) -> float:
        from common import dir_bytes

        return dir_bytes(self.table.location) / max(1, self.live_rows)

    def layer_counts(self) -> dict:
        live = self.table.live_files()
        totals = (len(live), sum(f.file_size_bytes for f in live))
        return history_ratios(self.ice, self.history_mark, totals) | {
            "dv.live_dv_files": float(table_state(self.table)["dv_files"]),
        }

