"""contract_queries — the 50 ``__spark_entry__.queries()`` over the ten
``datagen`` tables at scale ``SF``.

The tables are the same for every seed (``datagen.DATA_SEED``). Set-up
builds the query table and reads every input table once through
``sources.read_table``. One cycle runs all 50 queries in a seed-permuted
order, each a ``query`` op whose result is canonicalized and compared with
the ``oracle_sql()`` DuckDB result computed before set-up (every query
has one; a query without one fails its check).

No warm-up sweep: a sweep is ~2x slower on a fresh JVM than on a warm one
and a warm-up sweep does not fit the run's time budget, so the timed sweep
is each query's first run in the process.
"""

from __future__ import annotations

import math
import os

import numpy as np

NAME = "contract_queries"
SF = 0.01
# Queries grouped by the operator family they exercise; one span each.
FAMILIES = {
    "similarity": [25, 26, 27, 28, 29, 36, 43, 48],
    "text": [4, 10, 22, 23, 24, 35, 45],
    "dedup": [13, 21, 44, 46],
    "cdc": [15, 16, 17, 33, 34],
    "joins": [5, 6, 14, 18, 37, 38],
    "aggregates": [1, 2, 3, 7, 8, 9, 11, 12, 19, 20, 39, 40, 41, 42, 47],
    "streaming": [30, 31, 32],
    "sql": [49, 50],
}
# Doubles agree to a relative 1e-7: SUM over doubles depends on the
# engines' summation order.
REL_TOL = 1e-7
# Columns both engines round to d decimals may also differ by one unit in
# that last place: a last-bit difference at a rounding boundary flips the
# rounded digit (seen: q49's 2-decimal money sum, and the 4-decimal cosine
# of q36/q43's exact neighbours, where DuckDB computes in float32).
ROUNDED = {36: {"cosine": 4}, 43: {"cosine": 4}, 49: {"revenue": 2}}


def _family(name: str) -> str:
    num = int(name[1:3])
    return next(f for f, nums in FAMILIES.items() if num in nums)


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canonicalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows sorted by every column."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(round(x, 6)) if isinstance(x, float) else str(x)) for x in t))
    return [cols[i] for i in order], out


def _same_cell(a, b, decimals: int | None = None) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b)):
            return True
        return decimals is not None and abs(a - b) <= 1.000001 * 10.0**-decimals
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return float(a) == float(b)
    return a == b


def compare(got, want, rounded: dict[str, int] | None = None):
    """True, or a short description of the first difference. ``rounded``
    maps a column to the decimals both sides round it to."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    decimals = [(rounded or {}).get(c) for c in gc]
    for a, b in zip(gr, wr):
        if len(a) != len(b) or not all(_same_cell(x, y, d) for x, y, d in zip(a, b, decimals)):
            return f"row {a} != {b}"
    return True


class Workload:
    name = NAME
    min_cycles = 1

    def inputs(self, bench) -> None:
        import datagen
        import duckdb

        import __spark_entry__ as entry

        self.dir = os.path.join(bench.work, "inputs")
        datagen.write_tables(self.dir, SF, datagen.DATA_SEED)
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            self.oracle = {}
            for name, sql in entry.oracle_sql().items():
                res = con.execute(sql)
                self.oracle[name] = canonicalize([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def setup(self, bench, root: str) -> dict:
        import __spark_entry__ as entry
        from presencia_etl_spark.sources.readers import read_table

        import datagen

        for t in datagen.TABLES:
            bench.call("sources.read_table", lambda t=t: read_table(bench.spark, self.dir, t).count())
        return {"queries": entry.queries()}


    def warmup(self, bench, st: dict) -> None:
        pass

    def cycle(self, bench, st: dict, i: int) -> None:
        queries = st["queries"]
        names = sorted(queries)
        order = np.random.default_rng([bench.seed, i]).permutation(len(names))
        for j in order:
            name = names[j]
            fn = queries[name]
            bench.op(
                "query",
                lambda fn=fn, name=name: bench.call(
                    f"contract.{_family(name)}", lambda: _run(fn, bench.spark, self.dir)
                ),
                lambda got, name=name: compare(
                    got, self.oracle[name], ROUNDED.get(int(name[1:3]))
                ),
            )

    def finish(self, bench, st: dict) -> None:
        pass

    def detail(self, bench, st: dict) -> dict:
        return {"queries": len(st["queries"])}


def _run(fn, spark, sf_dir):
    df = fn(spark, sf_dir)
    return canonicalize(df.columns, [tuple(r) for r in df.collect()])
