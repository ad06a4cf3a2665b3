"""Seeded input generation.

Everything the benchmark feeds the pipeline comes from here and from
nothing but ``seed``: the source tables (the TPC-H-shaped star schema the
package reads), the order in which sale documents arrive, which of them
are re-delivered, how late each live file lands, and the BI query mix.
The package under test only ever sees the files these functions write.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START_DAY = np.datetime64("2023-01-01")
TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJECTIVES = np.array(["cold", "small", "dark", "plain", "bright", "soft", "heavy", "light"])
NOUNS = np.array(["widget", "gadget", "bracket", "valve", "cable", "panel"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


@dataclass(frozen=True)
class Scale:
    """Table sizes. ``days`` is the history span: one lake partition per day."""

    orders: int
    days: int
    parts: int
    customers: int
    max_items: int = 7
    orphan_order_share: float = 0.02  # orders whose items never arrived

    def scaled(self, factor: float) -> "Scale":
        return Scale(
            orders=max(20, int(self.orders * factor)),
            days=max(5, int(self.days * factor)),
            parts=max(10, int(self.parts * factor)),
            customers=max(10, int(self.customers * factor)),
            max_items=self.max_items,
            orphan_order_share=self.orphan_order_share,
        )


def write_tables(out_dir: str, seed: int, scale: Scale) -> dict[str, int]:
    """Write ``orders``, ``lineitem``, ``part`` and ``customer`` parquet
    files in the layout ``sources.tables.load_table`` reads. Returns row
    counts per table plus ``orders_with_items``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_p = scale.parts
    part = pa.table(
        {
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(rng.choice(ADJECTIVES, n_p), " "), rng.choice(NOUNS, n_p)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
            "p_type": rng.choice(TYPES, n_p),
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_p) / 10.0, 2),
        }
    )

    n_c = scale.customers
    customer = pa.table(
        {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": np.char.add("Customer#", np.char.zfill(np.arange(n_c).astype(str), 9)),
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_c), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_c),
        }
    )

    n_o = scale.orders
    day = rng.integers(0, scale.days, n_o)
    order_date = (START_DAY + day.astype("timedelta64[D]")).astype("datetime64[us]")
    n_items = rng.integers(1, scale.max_items + 1, n_o)
    n_items[rng.random(n_o) < scale.orphan_order_share] = 0
    n_l = int(n_items.sum())
    l_order = np.repeat(np.arange(n_o, dtype=np.int64), n_items)
    first = np.repeat(np.cumsum(n_items) - n_items, n_items)
    l_line = (np.arange(n_l) - first + 1).astype(np.int32)
    l_part = rng.integers(0, n_p, n_l).astype(np.int64)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    price = np.asarray(part.column("p_retailprice"))[l_part]
    ext = np.round(qty * price * rng.uniform(0.9, 1.1, n_l), 2)
    disc = rng.integers(0, 11, n_l) / 100.0
    tax = rng.integers(0, 9, n_l) / 100.0
    totals = np.bincount(l_order, weights=ext * (1 - disc) * (1 + tax), minlength=n_o)
    order_keys = np.arange(n_o, dtype=np.int64)

    orders = pa.table(
        {
            "o_orderkey": order_keys,
            "o_custkey": rng.integers(0, int(n_c * 0.9), n_o).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_o),
            "o_totalprice": np.round(np.where(totals > 0, totals, rng.uniform(900, 9e4, n_o)), 2),
            "o_orderdate": order_date,
            "o_orderpriority": rng.choice(PRIORITIES, n_o),
        }
    )
    # items arrive in shuffled order, as a lake of webhook payloads would
    perm = rng.permutation(n_l)
    lineitem = pa.table(
        {
            "l_orderkey": l_order[perm],
            "l_partkey": l_part[perm],
            "l_suppkey": rng.integers(0, 100, n_l).astype(np.int64),
            "l_linenumber": l_line[perm],
            "l_quantity": qty[perm],
            "l_extendedprice": ext[perm],
            "l_discount": disc[perm],
            "l_tax": tax[perm],
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_l),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_l),
            "l_shipdate": (order_date[l_order] + rng.integers(1, 30, n_l).astype("timedelta64[D]"))[
                perm
            ].astype("datetime64[us]"),
        }
    )
    for name, table in (("part", part), ("customer", customer), ("orders", orders), ("lineitem", lineitem)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "orders": n_o,
        "lineitem": n_l,
        "part": n_p,
        "customer": n_c,
        "orders_with_items": int((n_items > 0).sum()),
    }


def redelivered(docs: list[str], seed: int, share: float) -> list[str]:
    """The documents in seeded arrival order, with a seeded ``share`` of
    them delivered a second time (webhook retries) at a later position."""
    rng = np.random.default_rng(seed)
    order = [docs[i] for i in rng.permutation(len(docs))]
    n_dup = int(round(len(docs) * share))
    for i in sorted(rng.choice(len(order), n_dup, replace=False).tolist(), reverse=True):
        at = int(rng.integers(i + 1, len(order) + 1))
        order.insert(at, order[i])
    return order


def write_batches(docs: list[str], out_dir: str, per_file: int) -> int:
    """Land ``docs`` as JSON-lines files of ``per_file`` docs each;
    returns the number of files."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for n, start in enumerate(range(0, len(docs), per_file), start=1):
        with open(os.path.join(out_dir, f"batch-{n:06d}.json"), "w") as f:
            f.write("\n".join(docs[start : start + per_file]) + "\n")
    return n


def arrival_schedule(n: int, rate: float, seed: int, jitter: float = 0.25) -> np.ndarray:
    """Open-loop landing times (seconds from start) of ``n`` files at a
    fixed mean ``rate`` per second: a fixed grid plus seeded jitter of up
    to ``jitter`` of one interval, so files never land out of order."""
    rng = np.random.default_rng(seed)
    step = 1.0 / rate
    return np.arange(n) * step + rng.uniform(0.0, jitter * step, n)


def doc_order_id(doc: str) -> int:
    return int(json.loads(doc)["numero"])


# One round of the BI/audit client's mix: seven dashboard queries, three
# audits. Every round holds each kind this many times, so the mix (and
# with it the latency percentiles) is the same on every seed.
QUERY_ROUND = (
    ("day_revenue",) * 3
    + ("month_revenue",)
    + ("top_orders",) * 2
    + ("segment_rollup", "reconcile", "difference", "dedup")
)
RANGE_DAYS = {"day_revenue": 1, "month_revenue": 28, "top_orders": 7}


def query_rounds(seed: int, days: int):
    """Endless seeded BI/audit query mix, one round (a list of
    ``(kind, first_day, n_days)``) at a time: each round is
    ``QUERY_ROUND`` in seeded order, each ranged query over a seeded
    window of the ``days`` of history. Audits ignore the window."""
    rng = np.random.default_rng([seed, 1])
    while True:
        out = []
        for i in rng.permutation(len(QUERY_ROUND)):
            kind = QUERY_ROUND[i]
            n_days = min(RANGE_DAYS.get(kind, days), days)
            out.append((kind, int(rng.integers(0, days - n_days + 1)), n_days))
        yield out
