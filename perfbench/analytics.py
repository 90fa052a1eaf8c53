"""``analytics``: twelve of the engine's non-table headline operators over
seeded fixture-shaped parquet, run as seeded-shuffled passes to the noop
sink.

These queries are bound by Spark plans and stage latency and barely
touch the table layer, so a table-layer change should leave them
unchanged.  The untimed first pass collects every result for the DuckDB
oracle check and absorbs the session's one-time JIT and codegen cost.
"""

from __future__ import annotations

import itertools
import math
import os
import random
import re

import datagen
from common import Op, cell, close, rows_equal

#: twelve of the headline operator battery's 24 non-table operators
#: (the battery minus its table-lifecycle entries ice1/ice7/ice10/ice54,
#: which create scratch directories of their own), one or two per
#: family, with the stage-heavy x2 and x47; all 24 do not fit a run's
#: time budget, because each run pays every query's cold first use
QUERIES = [
    "a0_gold_daily",
    "a4_tpch_q1",
    "j1_inner_join",
    "j7_asof_join",
    "w1_topk_per_group",
    "a6_cube",
    "st3_session_window",
    "p1_pruned_scan",
    "x2_jaccard_pairs",
    "x3_minhash_lsh",
    "x13_embedding_neardup",
    "x47_substring_dedup",
]
SCALE = 0.01


def _unround(sql: str) -> tuple[str, dict[str, int]]:
    """``sql`` with every select-list ``ROUND(e, k) AS name`` turned into
    ``(e) AS name``, and {name: k}.  Other ROUNDs (in ORDER BY, say)
    stay."""
    digits: dict[str, int] = {}
    out, pos = [], 0
    for m in re.finditer(r"ROUND\(", sql, re.I):
        if m.start() < pos:
            continue
        depth, comma = 0, None
        for j in range(m.end() - 1, len(sql)):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            elif sql[j] == "," and depth == 1:
                comma = j
        alias = re.match(r"\s+AS\s+(\w+)", sql[j + 1:], re.I)
        k = sql[comma + 1:j].strip() if comma else ""
        if alias is None or not k.isdigit():
            continue
        digits[alias.group(1)] = int(k)
        out += [sql[pos:m.start()], "(", sql[m.end():comma], ")"]
        pos = j + 1
    return "".join(out + [sql[pos:]]), digits


def _tie(raw, got, k: int) -> bool:
    """``raw`` lies on a half-unit of the ``k``-th decimal, within the
    error of summing doubles in another order, and ``got`` is one of the
    two neighbours it may round to."""
    if not isinstance(raw, float) or not isinstance(got, (int, float)):
        return False
    unit = 10.0 ** -k
    tie = (math.floor(raw / unit) + 0.5) * unit
    return abs(raw - tie) <= 1e-11 * max(1.0, abs(raw)) and any(
        math.isclose(got, tie + d * unit / 2, rel_tol=1e-12, abs_tol=1e-6) for d in (-1, 1)
    )


class Analytics:
    def __init__(self, ctx):
        from icepack.queries import all_queries

        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.data = os.path.join(ctx.run_dir, "data")
        self.queries = {n: all_queries()[n] for n in QUERIES}
        self.results: dict[str, tuple] = {}
        #: rounded cells that matched the oracle only as a rounding tie
        self.ties = 0

    def prepare(self) -> None:
        datagen.write_tables(datagen.star_schema(self.ctx.seed, SCALE), self.data)

    def setup(self, i: int, last: bool) -> None:
        """Build (not run) every query plan: fixture schema inference,
        corpus statistics and plan construction on the driver."""
        for name in QUERIES:
            self.queries[name](self.ctx.spark, self.data)

    def warm(self) -> None:
        order = list(QUERIES)
        self.rng.shuffle(order)
        for name in order:
            df = self.queries[name](self.ctx.spark, self.data)
            self.results[name] = (df.columns, df.collect())

    def table_states(self) -> dict:
        return {}

    def ops(self):
        spark, tracer = self.ctx.spark, self.ctx.tracer
        # a block is two passes: one pass takes about 6 s, short enough
        # that a brief slowdown of a shared host covers a whole run
        for n in itertools.count():
            order = list(QUERIES)
            self.rng.shuffle(order)
            for i, name in enumerate(order):
                def run(name=name):
                    with tracer.span("queries.build"):
                        df = self.queries[name](spark, self.data)
                    with tracer.span("queries.exec"):
                        df.write.mode("overwrite").format("noop").save()

                yield Op("read", name, run, block_start=i == 0 and n % 2 == 0)

    def after(self, op, out) -> int:
        return 0

    def check(self) -> tuple[int, list[str]]:
        import duckdb

        from icepack.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.data):
                name = t.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.data, t)}')"
                )
            bad = []
            for name in QUERIES:
                cols, rows = self.results[name]
                cur = con.execute(oracles[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                if sorted(cols) != sorted(ocols):
                    bad.append(f"{name}: columns {cols} vs oracle {ocols}")
                    continue
                perm = [ocols.index(c) for c in cols]
                orows = [tuple(r[i] for i in perm) for r in orows]
                rows = [tuple(r) for r in rows]
                if not rows_equal(rows, orows) and not self._equal_but_ties(
                    con, oracles[name], cols, rows, orows
                ):
                    bad.append(f"{name}: {len(rows)} rows differ from the oracle's {len(orows)}")
            return len(QUERIES), bad
        finally:
            con.close()

    def _equal_but_ties(self, con, sql, cols, rows, orows) -> bool:
        """Equal except for rounded cells whose unrounded oracle value is
        a rounding tie.  At a decimal half-unit the two engines may round
        the same sum apart (Spark rounds a double's shortest decimal form
        half-up, DuckDB its binary value), and a sum of doubles lands on
        either side of the tie depending on the summation order, which
        Spark does not fix.  Rows are matched on their unrounded columns,
        which must be unique."""
        raw_sql, digits = _unround(sql)
        rounded = [i for i, c in enumerate(cols) if c in digits]
        if not rounded:
            return False
        cur = con.execute(raw_sql)
        rcols = [d[0] for d in cur.description]
        raws = [tuple(r[rcols.index(c)] for c in cols) for r in cur.fetchall()]
        keys = [i for i in range(len(cols)) if i not in rounded]

        def by_key(rs):
            out = {tuple(cell(r[i]) for i in keys): r for r in rs}
            return out if len(out) == len(rs) else None

        got, want, raw = by_key(rows), by_key(orows), by_key(raws)
        if None in (got, want, raw) or not set(got) == set(want) == set(raw):
            return False
        ties = 0
        for key, g in got.items():
            for i in rounded:
                x, y, r = cell(g[i]), cell(want[key][i]), cell(raw[key][i])
                if close(x, y):
                    continue
                if not _tie(r, x, digits[cols[i]]):
                    return False
                ties += 1
        self.ties += ties
        return True

    def extra_metrics(self, samples, busy) -> dict:
        return {"rounding_ties_accepted": self.ties}

    def bytes_per_row(self) -> float:
        import pyarrow.parquet as pq

        from common import dir_bytes

        rows = sum(pq.read_metadata(os.path.join(self.data, f)).num_rows
                   for f in os.listdir(self.data))
        return dir_bytes(self.data) / rows

    def layer_counts(self) -> dict:
        return {}
