"""Deterministic inputs for the benchmark.

Two generators:

* :func:`write_lake` writes the engine's ten fixture tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) as one Parquet
  file each, with the column names and types the declared queries read.
  The tables depend only on the scale factor and a fixed data seed, so the
  expected query outputs in ``expected.json`` stay valid for every run.
* :func:`ingest_objects` builds the CSV event objects that the
  ``object_ingest`` workload uploads. They depend on the run's ``--seed``,
  and the generator returns the exact per-kind totals the outputs are
  checked against.
"""

from __future__ import annotations

import io
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

LAKE_DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "dark",
          "light", "pale", "plated", "rusty", "shiny"]
NOUNS = ["widget", "bolt", "ring", "anvil", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "data", "column", "join", "small", "big", "customer",
         "query", "order", "filter", "stream", "group", "vector"]

_DAY_MS = 86_400_000
_EPOCH_1995 = np.datetime64("1995-01-01", "ms").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_ms(values) -> pa.Array:
    return pa.array(values, type=pa.timestamp("ms"))


def lake_tables(sf: float, seed: int = LAKE_DATA_SEED) -> dict[str, pa.Table]:
    """The fixture tables at scale factor ``sf`` (lineitem has 6e6 * sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_users = max(15, int(15_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    order_day = rng.integers(0, 2_404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_ms(_EPOCH_1995 + order_day * _DAY_MS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_li).astype(np.int64)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_ms(_EPOCH_1995 + ship_day * _DAY_MS),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + ev_us, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = pa.table(_documents(rng, n_doc))
    emb, labels = _embeddings(rng, n_doc)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def _documents(rng, n: int) -> dict:
    """Word-soup documents; about one in ten is a near copy of an earlier
    document of at least 20 words with one word appended, so the dedup
    operators find real pairs. Appending changes one 3-gram shingle, which
    keeps planted pairs at Jaccard >= 0.9 like the engine's own fixtures:
    the portable and xxhash64 LSH tiers then catch the same pairs (their
    recall differs only for pairs near the 0.8 threshold)."""
    texts: list[str] = []
    for i in range(n):
        long_docs = [j for j, t in enumerate(texts) if t.count(" ") >= 19]
        if long_docs and rng.random() < 0.1:
            words = texts[long_docs[int(rng.integers(0, len(long_docs)))]].split(" ")
            words.append(WORDS[int(rng.integers(0, len(WORDS)))])
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(8, 80)))]
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64):
    """Unit vectors clustered around ten class centres."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, dim))
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels


def write_lake(root: str, sf: float, seed: int = LAKE_DATA_SEED) -> int:
    """Write every table to ``root/<name>.parquet``; returns bytes written."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, table in lake_tables(sf, seed).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# --------------------------------------------------------------------------
# object_ingest input
# --------------------------------------------------------------------------
INGEST_DDL = "event_id BIGINT, user_id BIGINT, kind STRING, amount_cents BIGINT, note STRING"
INGEST_KINDS = ("click", "error", "purchase", "signup", "view")


@dataclass(frozen=True)
class IngestInput:
    objects: list[tuple[str, bytes]]  # (key, CSV bytes)
    totals: dict[str, tuple[int, int]]  # kind -> (rows, sum of amount_cents)

    @property
    def rows(self) -> int:
        return sum(n for n, _ in self.totals.values())

    @property
    def nbytes(self) -> int:
        return sum(len(b) for _, b in self.objects)


def ingest_objects(seed: int, n_objects: int, object_bytes: int) -> IngestInput:
    """``n_objects`` CSV objects of about ``object_bytes`` each (whole
    lines only), with event ids unique across objects."""
    rng = np.random.default_rng(seed)
    kinds = pa.array(INGEST_KINDS)
    rows_per_obj = max(1, object_bytes // 40)  # lines average ~40 bytes
    counts = np.zeros(len(INGEST_KINDS), dtype=np.int64)
    sums = np.zeros(len(INGEST_KINDS), dtype=np.int64)
    options = pacsv.WriteOptions(include_header=False, quoting_style="none")
    objects = []
    for i in range(n_objects):
        kind = rng.integers(0, len(INGEST_KINDS), rows_per_obj)
        amount = rng.integers(0, 1_000_000, rows_per_obj)
        table = pa.table({
            "event_id": np.arange(i * rows_per_obj, (i + 1) * rows_per_obj, dtype=np.int64),
            "user_id": rng.integers(0, 1_000_000, rows_per_obj),
            "kind": kinds.take(pa.array(kind)),
            "amount_cents": amount,
            "note": pa.array(rng.integers(10**11, 10**12, rows_per_obj)).cast(pa.string()),
        })
        buf = io.BytesIO()
        pacsv.write_csv(table, buf, options)
        objects.append((f"events/part-{i:05d}.csv", buf.getvalue()))
        counts += np.bincount(kind, minlength=len(INGEST_KINDS))
        # float64 sums of integers below 2**53 are exact
        sums += np.bincount(kind, weights=amount, minlength=len(INGEST_KINDS)).astype(np.int64)
    totals = {k: (int(c), int(s)) for k, c, s in zip(INGEST_KINDS, counts, sums)}
    return IngestInput(objects=objects, totals=totals)
