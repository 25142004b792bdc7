"""The benchmark's workloads and how each query is run and checked.

``relational`` runs ``__spark_entry__`` queries: the query function is the
build step, and the returned Spark DataFrame is forced through the ``noop``
sink.  Its outputs are checked against the DuckDB oracle
(``__spark_entry__.oracle_sql()``) with the comparison of
``scripts/check_oracle.py``.  ``pandas_roundtrip`` runs the pipelines of
``roundtrip.py`` and checks them against plain pandas.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
from dataclasses import dataclass, field

import roundtrip

# Four TPC-H joins and aggregates plus one filter/projection, one window,
# one outer-join/fillna and one rollup query: the shapes, the build share
# and the jobs per query of the twenty-query relational list, in a third of
# its time.  Eight queries in three passes give 24 samples, enough for a
# tail percentile above the median with ten samples beyond it.
RELATIONAL = [
    "q1_pricing_summary", "q3_topk_revenue", "q5_region_revenue",
    "q10_returned_items", "filter_project", "window_rank_orders",
    "outer_join_fillna", "rollup_pricing",
]


def _oracle_frames(sf_dir: str, names: list[str]) -> dict:
    import __spark_entry__
    import check_oracle
    import duckdb
    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in check_oracle.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {n: con.execute(sql[n]).df() for n in names}
    finally:
        con.close()


def oracle_frames(sf_dir: str, work_dir: str, names: list[str]) -> dict:
    """The DuckDB oracle's results for the named queries, computed in a
    child process so that DuckDB never loads into the measured driver.
    The child is a plain interpreter that has ended when this returns;
    ``multiprocessing`` would leave its resource tracker running."""
    os.makedirs(work_dir, exist_ok=True)
    out = os.path.join(work_dir, "oracle.pkl")
    subprocess.run([sys.executable, os.path.abspath(__file__), sf_dir, out,
                    *names], check=True)
    try:
        with open(out, "rb") as fh:
            return pickle.load(fh)
    finally:
        os.remove(out)


@dataclass
class Context:
    """What the queries of one session need."""

    spark: object
    sf_dir: str
    work_dir: str          # scratch files of this run
    entry: dict            # __spark_entry__ query functions by name
    inputs: roundtrip.Inputs | None = None
    expected: dict = field(default_factory=dict)   # oracle frames by name


class EntryQuery:
    """A ``__spark_entry__`` query, forced through the ``noop`` sink."""

    def __init__(self, name: str):
        self.name = name

    def run(self, t, ctx: Context) -> None:
        with t.span("build"):
            sdf = ctx.entry[self.name](ctx.spark, ctx.sf_dir)
        with t.span("exec"):
            sdf.write.format("noop").mode("overwrite").save()

    def check(self, ctx: Context) -> list[str]:
        import check_oracle
        got = ctx.entry[self.name](ctx.spark, ctx.sf_dir).toPandas()
        return check_oracle.compare(self.name, got, ctx.expected[self.name])


class RoundtripQuery:
    """A ``pes`` pipeline ending in ``compute()``."""

    def __init__(self, name: str):
        self.name = name
        self._run, self._ref = roundtrip.PIPELINES[name]

    def run(self, t, ctx: Context):
        import pandas_expr_spark as pes
        return self._run(t, ctx.inputs, pes)

    def check(self, ctx: Context) -> list[str]:
        from tracing import NullTracer
        return roundtrip.compare(self.run(NullTracer(), ctx),
                                 self._ref(ctx.inputs))


@dataclass
class Workload:
    name: str
    queries: list

    def prepare(self, spark, sf_dir: str, out_dir: str, seed: int) -> Context:
        import __spark_entry__
        ctx = Context(spark, sf_dir, out_dir, __spark_entry__.queries())
        if any(isinstance(q, RoundtripQuery) for q in self.queries):
            ctx.inputs = roundtrip.make_inputs(sf_dir, out_dir, seed)
        return ctx

    def check(self, ctx: Context) -> dict[str, list[str]]:
        """Every query once, its output compared with its reference; the
        problems found, by query.  The references are dropped afterwards,
        so that the timed passes do not carry them."""
        names = [q.name for q in self.queries if isinstance(q, EntryQuery)]
        ctx.expected = oracle_frames(ctx.sf_dir, ctx.work_dir, names) \
            if names else {}
        bad = {}
        for q in self.queries:
            try:
                problems = q.check(ctx)
            except Exception as exc:        # a failing query is reported
                problems = [f"{type(exc).__name__}: {str(exc)[:200]}"]
            if problems:
                bad[q.name] = problems
        ctx.expected = {}
        if ctx.inputs is not None:
            ctx.inputs.drop_tables()
        return bad


WORKLOADS = {
    "relational": Workload("relational", [EntryQuery(n) for n in RELATIONAL]),
    "pandas_roundtrip": Workload(
        "pandas_roundtrip", [RoundtripQuery(n) for n in roundtrip.PIPELINES]),
}


if __name__ == "__main__":
    # python3 workloads.py <sf_dir> <out.pkl> <query>...: the oracle child
    _sf_dir, _out, *_names = sys.argv[1:]
    with open(_out, "wb") as _fh:
        pickle.dump(_oracle_frames(_sf_dir, _names), _fh)
