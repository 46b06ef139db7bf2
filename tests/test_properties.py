"""Property-based tests (hypothesis) for the invariants the engine's
correctness story leans on:

1. the exact-decimal aggregate path is accumulation-order independent —
   the same sum at ANY partitioning (this is what makes results
   reproducible on a cluster);
2. the salted two-stage prefix-sum equals the global prefix-sum on
   arbitrary weighted frames (not just the fixtures), and the search over
   the wide state equals the features-x-weights join formulation on
   arbitrary tables;
3. the blocked-matmul scorer's strict left-to-right accumulation is
   bit-identical to a scalar sequential loop (the DuckDB/Catalyst fold);
4. training equals the independent numpy AdaBoost.MH reference, and the
   distribution sums to 1 after every weight update.
"""

from __future__ import annotations

import importlib.util
import os
from decimal import Decimal
from unittest import mock

import numpy as np
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from spark_multiboost_spark.functions.parity import dsum
from spark_multiboost_spark.functions.similarity import _seq_dot_block, _seq_sq_norm

_vals = st.lists(
    st.floats(
        min_value=-1000,
        max_value=1000,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(vals=_vals, nparts=st.integers(min_value=1, max_value=7))
def test_dsum_order_independent(spark, vals, nparts):
    # quantize inputs to 6dp like the fixture measures
    vals = [round(v, 6) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(nparts)
    got = df.agg(dsum("x").alias("s")).collect()[0]["s"]
    want = float(sum(Decimal(f"{v:.6f}") for v in vals))
    assert got == want, (got, want, nparts)


@settings(max_examples=6, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 9),                      # id
            st.integers(0, 2),                      # class
            st.sampled_from([1, -1]),               # y
            st.floats(0.001, 1.0, allow_nan=False), # weight
            st.floats(-5, 5, allow_nan=False),      # feature value
        ),
        min_size=3,
        max_size=25,
    )
)
def test_salted_prefix_equals_global(spark, data):
    from spark_multiboost_spark.ml import boosting

    weighted = spark.createDataFrame(
        [(i, c, y, round(w, 6)) for i, c, y, w, _ in data],
        "id bigint, class int, y int, weight double",
    ).dropDuplicates(["id", "class"])
    feats = spark.createDataFrame(
        [(i, 1, round(v, 6)) for i, _, _, _, v in data],
        "id bigint, feature int, value double",
    ).dropDuplicates(["id", "feature"])
    cols = ["feature", "threshold", "class", "w_plus", "w_minus"]

    def norm(df):
        return sorted(
            (r["feature"], round(r["threshold"], 6), r["class"],
             round(r["w_plus"], 9), round(r["w_minus"], 9))
            for r in df.select(*cols).collect()
        )

    rows = feats.join(weighted, "id")
    plain = norm(boosting._class_weights(boosting._weight_sums(rows)))
    salted = norm(boosting.stump_class_weights_salted(rows, n_buckets=3))
    assert plain == salted


@settings(max_examples=6, deadline=None)
@given(
    data=st.data(),
    m=st.integers(1, 8),
    d=st.integers(1, 4),
    k=st.integers(2, 4),
)
def test_state_search_equals_join(spark, data, m, d, k):
    """The search over the wide state (rows exploded map-side, no join)
    must give the same W_+ / W_- as joining exploded features with the
    long-form uniform weights, on tables whose values repeat within and
    across features."""
    from spark_multiboost_spark.ml import boosting

    n_feats = data.draw(st.integers(1, d), label="num_features")
    value = st.sampled_from([-1.0, -0.25, 0.0, 0.5, 2.0])
    rows = [
        (i, data.draw(st.lists(value, min_size=d, max_size=d)),
         data.draw(st.integers(0, k - 1)))
        for i in range(m)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")

    def norm(df):
        return sorted(
            (r["feature"], r["threshold"], r["class"],
             round(r["w_plus"], 9), round(r["w_minus"], 9))
            for r in df.collect()
        )

    wide = norm(boosting.stump_class_weights(boosting.init_state(emb, m, k), n_feats))
    weighted = boosting.mlp_long(emb, k).withColumn("weight", F.lit(1.0 / (m * k)))
    feats = boosting.explode_features(emb).filter(F.col("feature") <= n_feats)
    long_rows = feats.join(weighted, "id")
    joined = norm(boosting._class_weights(boosting._weight_sums(long_rows)))
    assert wide == joined


def _numpy_reference():
    """perfbench's independent numpy AdaBoost.MH, imported read-only."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "perfbench", "reference.py")
    spec = importlib.util.spec_from_file_location("boosting_numpy_reference", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@settings(max_examples=8, deadline=None)
@given(
    data=st.data(),
    m=st.integers(1, 10),
    d=st.integers(1, 3),
    k=st.integers(2, 4),
    label_sets=st.booleans(),
)
def test_train_matches_numpy_reference(spark, data, m, d, k, label_sets):
    """boosting.train picks the reference's exact (feature, threshold) each
    round with votes within 1e-9, on single labels and label sets with
    repeated values; after every update the state's w sums to 1."""
    from spark_multiboost_spark.ml import boosting

    value = st.sampled_from([-1.0, -0.25, 0.0, 0.5, 2.0])
    x = [data.draw(st.lists(value, min_size=d, max_size=d)) for _ in range(m)]
    one_label = st.integers(0, k - 1).map(lambda c: [c])
    labels = st.lists(st.integers(0, k - 1), min_size=1, max_size=k, unique=True)
    ys = [sorted(data.draw(labels if label_sets else one_label)) for _ in range(m)]
    y = -np.ones((m, k), dtype=np.int64)
    for i, ls in enumerate(ys):
        y[i, ls] = 1
    if label_sets:
        rows = [(i, x[i], ys[i]) for i in range(m)]
        schema = "vec_id bigint, embedding array<double>, labels array<int>"
    else:
        rows = [(i, x[i], ys[i][0]) for i in range(m)]
        schema = "vec_id bigint, embedding array<double>, label int"
    emb = spark.createDataFrame(rows, schema)

    sums = []
    update = boosting.update_weights

    def checked_update(state, stump):
        out = update(state, stump)
        row_sum = F.aggregate("w", F.lit(0.0), lambda acc, w: acc + w)
        sums.append(out.agg(F.sum(row_sum)).collect()[0][0])
        return out

    rounds = 3
    with mock.patch.object(boosting, "update_weights", checked_update):
        got = boosting.train(
            spark, emb, num_rounds=rounds, num_classes=k,
            label_set_col="labels" if label_sets else None,
        )
    want = _numpy_reference().train(np.asarray(x, dtype=np.float64), y, rounds)
    for s, (f, thr, votes) in zip(got, want, strict=True):
        assert (s.feature, s.threshold) == (f, thr), (s, f, thr)
        assert np.max(np.abs(np.asarray(s.votes) - votes)) <= 1e-9, (s.votes, votes)
    assert len(sums) == rounds
    assert all(abs(total - 1.0) <= 1e-12 for total in sums), sums


@settings(max_examples=30, deadline=None)
@given(
    b=st.integers(1, 6),
    q=st.integers(1, 4),
    d=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_seq_matmul_bit_identical_to_scalar_loop(b, q, d, seed):
    rng = np.random.RandomState(seed)
    C = rng.randn(b, d)
    Q = rng.randn(q, d)
    S = _seq_dot_block(C, Q)
    for i in range(b):
        for j in range(q):
            acc = 0.0
            for k in range(d):
                acc = acc + C[i, k] * Q[j, k]
            assert S[i, j] == acc  # bitwise, not approx
    n = _seq_sq_norm(C)
    for i in range(b):
        acc = 0.0
        for k in range(d):
            acc = acc + C[i, k] * C[i, k]
        assert n[i] == acc


def test_priority_window_names_all_registered():
    # _PRIORITY names not in the registry are silently ignored — a typo
    # would silently drop a query from the driver's correctness window.
    from spark_multiboost_spark.registry import _PRIORITY, all_queries

    registered = set(all_queries())
    missing = [n for n in _PRIORITY if n not in registered]
    assert not missing, f"_PRIORITY names not registered: {missing}"


def test_join_strategy_independence(spark, sf_dir):
    # the same join must return identical rows under broadcast, sort-merge,
    # and shuffle-hash strategies — the planner may pick any of them at
    # scale, so results must not depend on the choice
    import pyspark.sql.functions as F

    from spark_multiboost_spark.session import load_tables

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_quantity")
    o = t["orders"].select("o_orderkey", "o_orderpriority")

    def run(hint):
        j = li.join(o.hint(hint), F.col("l_orderkey") == F.col("o_orderkey"))
        return sorted(
            map(
                str,
                j.groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("q"),
                )
                .collect(),
            )
        )

    res = {h: run(h) for h in ("broadcast", "merge", "shuffle_hash")}
    assert res["broadcast"] == res["merge"] == res["shuffle_hash"]


@given(
    st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=64,
    ),
    st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=64,
    ),
)
@settings(max_examples=20, deadline=None)
def test_packed_hamming_equals_fold(spark, a, b):
    """vector.sign_bits + bit_count(xor) must equal the per-element
    sign-mismatch fold for any pair of equal-length vectors (the packed
    path replaced the interpreted HOF fold in the 1-bit family — this is
    the equivalence that swap relies on)."""
    from spark_multiboost_spark.functions.vector import hamming_packed, sign_bits

    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    packed = df.select(
        hamming_packed(sign_bits(F.col("a")), sign_bits(F.col("b"))).alias("h")
    ).collect()[0]["h"]
    expected = sum(1 for x, y in zip(a, b) if (x >= 0) != (y >= 0))
    assert packed == expected


def test_sign_bits_rejects_wide_vectors(spark):
    """sign_bits must FAIL LOUDLY above 64 dims: JVM shiftleft wraps shift
    amounts mod 64, so without the guard a 65-dim vector would silently
    alias bit 64 onto bit 0 and produce wrong Hamming distances (ADVICE r6).
    At exactly 64 dims it must still work."""
    import pytest

    from spark_multiboost_spark.functions.vector import sign_bits

    ok = spark.createDataFrame([([1.0] * 64,)], "a array<double>")
    assert ok.select(sign_bits(F.col("a")).alias("s")).collect()[0]["s"] == -1
    wide = spark.createDataFrame([([1.0] * 65,)], "a array<double>")
    with pytest.raises(Exception, match="sign_bits"):
        wide.select(sign_bits(F.col("a")).alias("s")).collect()
