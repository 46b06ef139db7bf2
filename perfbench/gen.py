"""Seeded input generators.  Every input the program sees is a parquet file
written here from ``numpy.random.default_rng(seed)``: the same seed gives
byte-identical inputs, and nothing is read from outside the run directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 10  # classes, as in the fixture embeddings' label range 0..9


@dataclass
class TrainSet:
    x: np.ndarray  # (m, d) float64
    y: np.ndarray  # (m, K) in {+1, -1}


def _labels_from_scores(rng, x: np.ndarray, n_labels: int) -> np.ndarray:
    """Labels that depend on the features (so boosting has signal to find):
    the top ``n_labels`` classes of a random linear score plus noise."""
    d = x.shape[1]
    xc = (x - x.mean(axis=0)) / (x.std(axis=0) + 1e-12)
    s = xc @ rng.standard_normal((d, K)) + rng.standard_normal((x.shape[0], K))
    return np.argsort(-s, axis=1, kind="stable")[:, :n_labels]


def write_train(path: str, seed: int, m: int, d: int, levels: int | None,
                n_labels: int) -> TrainSet:
    """Training table (vec_id, embedding ARRAY<DOUBLE>, label | labels).

    ``levels=None``: continuous features, every value of a feature distinct
    (a shuffled grid plus sub-cell jitter).  ``levels=L``: integer values
    0..L-1, so the stump search's pre-aggregation collapses to L rows per
    (feature, class).  ``n_labels=1`` writes an INT ``label`` column,
    ``n_labels>1`` an ARRAY<INT> ``labels`` label set."""
    rng = np.random.default_rng(seed)
    if levels is None:
        x = np.empty((m, d))
        for j in range(d):
            x[:, j] = (rng.permutation(m) + rng.uniform(0.05, 0.95, m)) / m
    else:
        x = rng.integers(0, levels, (m, d)).astype(np.float64)
    lab = _labels_from_scores(rng, x, n_labels)
    y = -np.ones((m, K), dtype=np.int64)
    np.put_along_axis(y, lab, 1, axis=1)
    cols = {
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float64())),
    }
    if n_labels == 1:
        cols["label"] = pa.array(lab[:, 0].astype(np.int32))
    else:
        cols["labels"] = pa.array(
            [sorted(r) for r in lab.tolist()], type=pa.list_(pa.int32())
        )
    pq.write_table(pa.table(cols), path)
    return TrainSet(x, y)


# ---------------------------------------------------------------------------
# Fixture tables for the query mix.  Same schemas, parquet types and value
# distributions as the ten fixture files (FIXTURES.md §1): every
# timestamp column is timestamp[us] as in the files, row counts scale with
# ``sf`` as the files' do (lineitem = 6M·sf rows, 15k·sf event users;
# documents and embeddings stay at 500 rows up to sf0.01).

_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row "
          "the agg key query a scan batch").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_DAY_US = 86_400_000_000


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def write_fixture_tables(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    ts_us = pa.timestamp("us")

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    write("part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), ts_us),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li), ts_us),
    })
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_ev))
    write("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, ts_us),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = [" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 100))))
             for _ in range(n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        # near duplicate: another document's text plus a trailing marker token
        texts[i] = texts[(i + int(rng.integers(1, n_doc))) % n_doc] + " dup"
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "de", "es", "fr", "zh"], dtype=object)[
            rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # unit vectors with no cluster structure and labels drawn independently:
    # in the fixture files a label's mean vector is no longer than chance
    label = rng.integers(0, K, n_emb)
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
