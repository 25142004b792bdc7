"""The ``pandas_roundtrip`` pipelines: user code written with the ``pes``
API, each ending in ``.compute()`` to pandas.

Every pipeline has a plain-pandas twin on the same inputs; the check
compares values, index and row order exactly.  Money columns use an integer
cents basis so that no value depends on summation order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

SEEDED_ROWS = 2000

LI_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
F_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]


@dataclass
class Inputs:
    """Inputs of one run: the fixed tables plus the frame made from the
    seed, and a directory for the pipeline that writes."""

    sf_dir: str
    out_dir: str
    seeded: pd.DataFrame
    _pandas: dict = field(default_factory=dict)

    def table(self, name: str) -> pd.DataFrame:
        if name not in self._pandas:
            self._pandas[name] = pd.read_parquet(
                os.path.join(self.sf_dir, f"{name}.parquet"))
        return self._pandas[name]

    def drop_tables(self) -> None:
        """Free the plain-pandas tables once the check is done."""
        self._pandas.clear()

    def path(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")


def make_inputs(sf_dir: str, out_dir: str, seed: int) -> Inputs:
    """Draw the seeded frame: distinct order keys with integer weights."""
    keys = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"),
                           columns=["o_orderkey"])["o_orderkey"].to_numpy()
    rng = np.random.default_rng(seed)
    picked = rng.choice(keys, size=min(SEEDED_ROWS, len(keys)), replace=False)
    seeded = pd.DataFrame({"o_orderkey": picked,
                           "weight": rng.integers(1, 100, len(picked))})
    return Inputs(sf_dir, out_dir, seeded)


def _cents(s):
    return (s * 100).floor().astype("int64")


def _np_cents(s: pd.Series) -> pd.Series:
    return np.floor(s * 100).astype("int64")


def _deliver(t, frame) -> pd.DataFrame:
    with t.span("delivery"):
        out = frame.compute()
        t.set_rows(len(out))
    return out


# -- filter + projection, labels kept ----------------------------------------
def filter_project(t, inp: Inputs, pes) -> pd.DataFrame:
    with t.span("build"):
        li = pes.read_parquet(inp.path("lineitem"))
        frame = li[li.l_quantity > 40][LI_COLS]
    return _deliver(t, frame)


def filter_project_ref(inp: Inputs) -> pd.DataFrame:
    li = inp.table("lineitem")
    return li[li.l_quantity > 40][LI_COLS]


# -- sort_values().head(), labels kept --------------------------------------
# The sort key is unique, so no tie decides the order.
SORT_KEY = ["l_extendedprice", "l_orderkey", "l_linenumber"]
SORT_ASC = [False, True, True]
TOP_N = 50


def sort_head(t, inp: Inputs, pes) -> pd.DataFrame:
    with t.span("build"):
        li = pes.read_parquet(inp.path("lineitem"))
        frame = li.sort_values(SORT_KEY, ascending=SORT_ASC).head(TOP_N)[LI_COLS]
    return _deliver(t, frame)


def sort_head_ref(inp: Inputs) -> pd.DataFrame:
    li = inp.table("lineitem")
    return li.sort_values(SORT_KEY, ascending=SORT_ASC).head(TOP_N)[LI_COLS]


# -- global cumsum + shift ---------------------------------------------------
def cumsum_shift(t, inp: Inputs, pes) -> pd.DataFrame:
    with t.span("build"):
        o = pes.read_parquet(inp.path("orders"))
        price_c = _cents(o.o_totalprice)
        frame = o[["o_orderkey"]].assign(price_c=price_c,
                                         cum_c=price_c.cumsum(),
                                         prev_c=price_c.shift(1))
    return _deliver(t, frame)


def cumsum_shift_ref(inp: Inputs) -> pd.DataFrame:
    o = inp.table("orders")
    price_c = _np_cents(o.o_totalprice)
    return o[["o_orderkey"]].assign(price_c=price_c, cum_c=price_c.cumsum(),
                                    prev_c=price_c.shift(1))


# -- ffill over gaps ----------------------------------------------------------
# The events table has no missing values; the values of error events are
# masked to make the gaps.
def events_ffill(t, inp: Inputs, pes) -> pd.DataFrame:
    with t.span("build"):
        ev = pes.read_parquet(inp.path("events"))
        value_c = (ev.value * 100).floor().where(ev.event_type != "error")
        frame = ev[["event_id", "user_id"]].assign(value_c=value_c,
                                                   filled_c=value_c.ffill())
    return _deliver(t, frame)


def events_ffill_ref(inp: Inputs) -> pd.DataFrame:
    ev = inp.table("events")
    value_c = np.floor(ev.value * 100).where(ev.event_type != "error")
    return ev[["event_id", "user_id"]].assign(value_c=value_c,
                                              filled_c=value_c.ffill())


# -- groupby().agg() -----------------------------------------------------------
AGG = {"price_c": "sum", "l_quantity": "max", "l_orderkey": "count"}
GROUP_KEY = ["l_returnflag", "l_linestatus"]


def groupby_agg(t, inp: Inputs, pes) -> pd.DataFrame:
    with t.span("build"):
        li = pes.read_parquet(inp.path("lineitem"))
        frame = li.assign(price_c=_cents(li.l_extendedprice)) \
            .groupby(GROUP_KEY).agg(AGG)
    return _deliver(t, frame)


def groupby_agg_ref(inp: Inputs) -> pd.DataFrame:
    li = inp.table("lineitem")
    return li.assign(price_c=_np_cents(li.l_extendedprice)) \
        .groupby(GROUP_KEY).agg(AGG)


# -- seeded from_pandas frame merged with a parquet table ---------------------
# An unindexed merge result comes back in arrival order (README,
# "Differences from pandas"), so the pipeline pins the order the way the
# README tells users to: sort by the key and renumber.
MERGE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus"]


def seeded_merge(t, inp: Inputs, pes) -> pd.DataFrame:
    with t.span("build"):
        left = pes.from_pandas(inp.seeded)
        o = pes.read_parquet(inp.path("orders"))
        frame = (left.merge(o[MERGE_COLS], on="o_orderkey")
                 .sort_values("o_orderkey").reset_index(drop=True))
    return _deliver(t, frame)


def seeded_merge_ref(inp: Inputs) -> pd.DataFrame:
    return (inp.seeded.merge(inp.table("orders")[MERGE_COLS], on="o_orderkey")
            .sort_values("o_orderkey").reset_index(drop=True))


# -- a functions entry point inside a pes pipeline ----------------------------
def doc_clusters(t, inp: Inputs, pes) -> pd.DataFrame:
    """Chains of consecutive documents in one language, clustered by
    ``functions.components.dup_clusters``."""
    from pandas_expr_spark.functions import components
    with t.span("build"):
        docs = pes.read_parquet(inp.path("documents"))[["doc_id", "lang"]]
        nxt = docs.assign(dst=docs.doc_id, doc_id=docs.doc_id - 1) \
            .rename(columns={"lang": "lang_next"})
        pairs = docs.merge(nxt, on="doc_id")
        pairs = pairs[pairs.lang == pairs.lang_next][["doc_id", "dst"]]
        clusters = components.dup_clusters(pairs.to_spark(), "doc_id", "dst")
        frame = pes.from_spark(clusters).sort_values("doc_id") \
            .reset_index(drop=True)
    return _deliver(t, frame)


def doc_clusters_ref(inp: Inputs) -> pd.DataFrame:
    docs = inp.table("documents").set_index("doc_id")["lang"]
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a in docs.index:
        if a + 1 in docs.index and docs[a] == docs[a + 1]:
            ra, rb = find(a), find(a + 1)
            parent[max(ra, rb)] = min(ra, rb)
            parent.setdefault(min(ra, rb), min(ra, rb))
    ids = sorted(parent)
    roots = [find(i) for i in ids]
    return pd.DataFrame({"doc_id": ids, "cluster_id": roots,
                         "is_canonical": [i == r for i, r in zip(ids, roots)]})


# -- to_parquet, then read back -----------------------------------------------
def parquet_roundtrip(t, inp: Inputs, pes) -> pd.DataFrame:
    # One path, overwritten on every call, as a user who reruns the
    # pipeline would do.
    path = os.path.join(inp.out_dir, "orders_f.parquet")
    with t.span("build"):
        o = pes.read_parquet(inp.path("orders"))
        frame = o[o.o_orderstatus == "F"][F_COLS]
    with t.span("exec"):
        frame.to_parquet(path)
    with t.span("build"):
        back = pes.read_parquet(path)
    return _deliver(t, back)


def parquet_roundtrip_ref(inp: Inputs) -> pd.DataFrame:
    o = inp.table("orders")
    return o[o.o_orderstatus == "F"][F_COLS].reset_index(drop=True)


PIPELINES = {
    "filter_project": (filter_project, filter_project_ref),
    "sort_head": (sort_head, sort_head_ref),
    "cumsum_shift": (cumsum_shift, cumsum_shift_ref),
    "events_ffill": (events_ffill, events_ffill_ref),
    "groupby_agg": (groupby_agg, groupby_agg_ref),
    "seeded_merge": (seeded_merge, seeded_merge_ref),
    "doc_clusters": (doc_clusters, doc_clusters_ref),
    "parquet_roundtrip": (parquet_roundtrip, parquet_roundtrip_ref),
}


def compare(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Exact comparison: values, column order, index and row order.  Only
    the storage width of a dtype may differ (int32 against int64)."""
    try:
        pd.testing.assert_frame_equal(got, expected, check_dtype=False,
                                      check_index_type=False,
                                      check_exact=True)
    except AssertionError as exc:
        return [" ".join(str(exc).split())[:300]]
    return []
