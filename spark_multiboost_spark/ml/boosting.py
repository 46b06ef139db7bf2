"""AdaBoost.MH with decision stumps — the reference's core capability
(SURVEY.md §2 group A), re-expressed as relational dataflow on DataFrames.

Reference parity (all [R] citations reconstructed — the /root/reference
mount was empty at survey time, SURVEY.md §0):
- MultiLabeledPoint / WeightedMultiLabeledPoint
  [R] .../multilabel/MultiLabeledPoint.scala -> the wide training state
  (id, x ARRAY<DOUBLE>, y ARRAY<INT>[K], w ARRAY<DOUBLE>[K]): one row per
  example carrying its features, its ±1 label vector and its row of the
  m x K distribution D_t(i, l) (:func:`init_state`).  The long form
  (id, class, y, weight) exists only at the edges (:func:`long_form`), for
  queries that print it.
- DecisionStumpAlgorithm.run [R] .../baselearners/DecisionStump.scala ->
  :func:`search_rows` (A3 candidates) + prefix-sum threshold search (A4) +
  Z-criterion scoring (A5) + argmin (A6), all in :func:`fit_stump`.
- AdaBoostMHAlgorithm.run [R] .../stronglearners/AdaBoostMH.scala ->
  :func:`train` (A10): driver loop, weight update + normalization (A8),
  localCheckpoint per round (plan truncation — our analogue of the
  reference's per-round re-cache).
- AdaBoostMHModel.predict [R] -> :func:`score_model` (A9): broadcast stump
  table join + hash agg.

Math (Schapire & Singer 1999, BoosTexter 2000):
  phi_{j,theta}(x) = +1 if x[j] > theta else -1
  W_+^l = sum_i w_il [y_il = phi(x_i)],  W_-^l = sum_i w_il [y_il != phi(x_i)]
  votes v_l = 0.5 ln((W_+^l + eps) / (W_-^l + eps)),  eps = 1/(2mK)
  Z(j,theta) = 2 sum_l sqrt(W_+^l W_-^l)   (minimized over candidates)
  weight update: w' = w exp(-y v_l phi(x)) / Z_norm

One search kernel: every stump search in the package — the training loop,
the round-one queries, the salted variant and the sparse / prefix /
abstaining A4-A5 queries — runs the same two steps over (feature, value,
class, y, weight) rows, :func:`_weight_sums` (pre-aggregate weights by
(feature, value, class)) then :func:`_class_weights` (per-(feature, class)
prefix and total windows, then the W_+ / W_- projection).  The rows are
exploded map-side from the state, features then classes of one example
row, so no search joins features with weights.  One label lift,
:func:`_label_vector`, serves single labels and label sets alike.

Scale posture (SURVEY §4.2): the candidate search pre-aggregates weights by
(feature, value, class) BEFORE the window prefix-sum, so the window input is
|distinct values| x K per feature, not m x K; the per-feature window is the
d-way shuffle documented for salting at extreme scale.  A training round
shuffles only the search's three exchanges and the weight update's 1-row
normalizer.  Feature indices are 1-based everywhere (matches SQL
element_at/list indexing in both engines).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


@dataclass
class Stump:
    """One base hypothesis h_t (reference: DecisionStumpModel [R])."""

    t: int
    feature: int  # 1-based
    threshold: float
    z: float
    votes: list[float]  # length K; h(x)[l] = votes[l] * phi(x)


def _label_vector(emb: DataFrame, num_classes: int) -> Column:
    """The AdaBoost.MH label lift — FIXTURES.md §2.1: y[l] = +1 iff
    l ∈ labels, else -1, as a length-K ARRAY<INT>.  Reads the ARRAY<INT>
    label set ``labels`` (BoosTexter label SETS, the reference's core use
    case) when ``emb`` has one, else the single ``label`` as the
    |labels| = 1 case."""
    labels = F.col("labels") if "labels" in emb.columns else F.array("label")
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_classes - 1)),
        lambda c: F.when(F.array_contains(labels, c), 1).otherwise(-1),
    )


def mlp_long(emb: DataFrame, num_classes: int = 10) -> DataFrame:
    """The label lift in long form (id, class, y in {+1,-1})."""
    return emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(_label_vector(emb, num_classes)).alias("class", "y"),
    )


def init_state(emb: DataFrame, m: int, num_classes: int) -> DataFrame:
    """A2: the wide training state (id, x, y, w) of ``emb`` (vec_id,
    embedding, label | labels) under the uniform D_1(i,l) = 1/(mK)."""
    return emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("x"),
        _label_vector(emb, num_classes).alias("y"),
        F.array_repeat(F.lit(1.0 / (m * num_classes)), num_classes).alias("w"),
    )


def _class_rows(df: DataFrame, *keys: str) -> DataFrame:
    """``keys`` + (class, y, weight): one row per class of each row's y / w
    vectors, exploded map-side."""
    return df.select(
        *keys, F.posexplode(F.arrays_zip("y", "w")).alias("class", "yw")
    ).select(*keys, "class", F.col("yw.y").alias("y"), F.col("yw.w").alias("weight"))


def long_form(state: DataFrame) -> DataFrame:
    """The state's distribution as (id, class, y, weight) rows."""
    return _class_rows(state, "id")


def explode_features(emb: DataFrame) -> DataFrame:
    """A3 input: (id, feature[1-based], value) from the array column."""
    return emb.select(
        F.col("vec_id").alias("id"), F.posexplode("embedding").alias("feature", "value")
    ).withColumn("feature", F.col("feature") + 1)


def search_rows(state: DataFrame, num_features: int | None = None) -> DataFrame:
    """The stump search's (feature, value, class, y, weight) rows: the
    features, then the classes, of each state row, exploded map-side — no
    features-x-weights join.  ``num_features`` slices x to its first
    features before the explode."""
    x = F.col("x") if num_features is None else F.slice("x", 1, num_features)
    feats = state.select(F.posexplode(x).alias("f0", "value"), "y", "w")
    return _class_rows(
        feats.withColumn("feature", F.col("f0") + 1), "feature", "value"
    )


def _weight_sums(
    rows: DataFrame, keys: tuple[str, ...] = ("feature", "value", "class")
) -> DataFrame:
    """The search's map-side combine: weighted (y, weight) rows summed per
    ``keys`` into the positive mass ``swp`` and the negative mass ``swm``.
    Grouped by (feature, value, class) it keeps the window input at
    |distinct values| x K per feature, not m x K."""
    return rows.groupBy(*keys).agg(
        F.sum(F.when(F.col("y") == 1, F.col("weight")).otherwise(0.0)).alias("swp"),
        F.sum(F.when(F.col("y") == -1, F.col("weight")).otherwise(0.0)).alias("swm"),
    )


def _class_weights(
    grouped: DataFrame, prefix: tuple[Column, Column] | None = None
) -> DataFrame:
    """The threshold search over (feature, value, class, swp, swm) sums:
    per-(feature, class) prefix masses in value order and totals, combined
    into W_+ / W_- for every (feature, threshold=value, class).  ``prefix``
    replaces the one-window running sums of swp / swm (the salted variant
    builds them in two stages); the totals and the projection are shared."""
    w_tot = Window.partitionBy("feature", "class")
    if prefix is None:
        w_cum = w_tot.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
        prefix = (F.sum("swp").over(w_cum), F.sum("swm").over(w_cum))
    cum = grouped.select(
        "feature",
        F.col("value").alias("threshold"),
        "class",
        prefix[0].alias("p_plus"),
        prefix[1].alias("p_minus"),
        F.sum("swp").over(w_tot).alias("t_plus"),
        F.sum("swm").over(w_tot).alias("t_minus"),
    )
    # phi = +1 above the threshold: correct side mass combines the positives
    # above the cut with the negatives at/below it
    return cum.select(
        "feature",
        "threshold",
        "class",
        (F.col("t_plus") - F.col("p_plus") + F.col("p_minus")).alias("w_plus"),
        (F.col("t_minus") - F.col("p_minus") + F.col("p_plus")).alias("w_minus"),
    )


def stump_class_weights(state: DataFrame, num_features: int | None = None) -> DataFrame:
    """A3+A4: for every candidate cut (feature, threshold=observed value) and
    class, the Schapire-Singer weight masses W_+ / W_- of the state."""
    return _class_weights(_weight_sums(search_rows(state, num_features)))


def stump_class_weights_salted(rows: DataFrame, n_buckets: int = 8) -> DataFrame:
    """A4 at extreme scale (SURVEY §4.2 item 2): the per-(feature, class)
    prefix-sum window above puts ALL of a feature's rows in one window
    partition — the skew wall when one feature has ~m distinct values and m
    is 10^9. This variant salts the window by a value-range bucket (any
    monotone value->bucket map keeps prefix order):

      stage 1: per-(feature, class, bucket) partial sums        (map-side)
      stage 2: running bucket offsets over the TINY d*K*B frame  (window)
      stage 3: within-bucket prefix sums + offset               (window,
               fan-in bounded by m/B instead of m)

    Weights are summable, so offset + within-bucket prefix == global
    prefix; equality with the unsalted operator is oracle-checked
    (q_a4_prefix_weights_salted shares q_a4's DuckDB SQL).
    """
    # monotone range bucketing: embedding values are O(1); floor(v*B/4)
    # spreads them over ~2B buckets while preserving value order
    bucket = F.floor(F.col("value") * (n_buckets / 4.0))
    grouped = _weight_sums(rows).withColumn("bucket", bucket)
    bucket_tot = grouped.groupBy("feature", "class", "bucket").agg(
        F.sum("swp").alias("bp"), F.sum("swm").alias("bm")
    )
    w_off = (
        Window.partitionBy("feature", "class")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_tot.select(
        "feature",
        "class",
        "bucket",
        F.coalesce(F.sum("bp").over(w_off), F.lit(0.0)).alias("off_p"),
        F.coalesce(F.sum("bm").over(w_off), F.lit(0.0)).alias("off_m"),
    )
    w_in = (
        Window.partitionBy("feature", "class", "bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return _class_weights(
        grouped.join(offsets, ["feature", "class", "bucket"]),
        prefix=(
            F.col("off_p") + F.sum("swp").over(w_in),
            F.col("off_m") + F.sum("swm").over(w_in),
        ),
    )


def stump_z(class_weights: DataFrame) -> DataFrame:
    """A5: Z(feature, threshold) = 2 sum_l sqrt(W_+ W_-)."""
    return class_weights.groupBy("feature", "threshold").agg(
        (2.0 * F.sum(F.sqrt(F.col("w_plus") * F.col("w_minus")))).alias("z")
    )


def best_stump_row(zs: DataFrame, n: int = 1) -> DataFrame:
    """A6: global argmin of Z, deterministic tiebreak (z, feature,
    threshold).  With ``n`` = K over a frame of per-class rows, the argmin
    candidate's K rows (every candidate has exactly K, all with the same
    z).  The ranking key quantizes z to 1e-9
    (floor(z·1e9 + 0.5), mirrored in every SQL oracle): EXACT z ties are possible — e.g. the
    degenerate max-threshold cut (a constant hypothesis) has identical z on
    every feature, and the multi-label fixture makes it the argmin — and a
    raw-double rank would then hang the cross-engine choice on ~1e-16
    summation-order bits.  Sub-1e-9 gaps collapse to the (feature,
    threshold) tiebreak, which compares stored values bit-identically;
    genuine gaps (measured 1e-5 on the single-label fixture) are
    unaffected.  The REPORTED z stays raw.

    Caveat (ADVICE r9): quantization is a PROBABILITY REDUCTION, not an
    elimination — two engines' z values ~1ulp apart can still straddle a
    1e-9 bucket boundary and flip the argmin.  The window shrinks from
    "any summation-order difference decides" to "only differences that
    cross a bucket edge decide" (~1e-16/1e-9 ≈ 1e-7 of key space per tie
    candidate); the fixtures' observed gap structure (exact ties or
    ≥1e-5) keeps the residual risk off both measured regimes.  A coarser
    bucket (1e-6) would provably clear cross-engine drift for the
    measured gaps but costs genuine sub-1e-6 distinctions on unseen data
    — 1e-9 is the chosen trade, not a guarantee."""
    zq = F.floor(F.col("z") * 1e9 + 0.5)
    return zs.orderBy(zq, "feature", "threshold").limit(n)


def _stump_rows(
    state: DataFrame, m: int, num_classes: int, feature_pred: Column | None = None
) -> DataFrame:
    """The search plan of :func:`fit_stump`: the argmin candidate's K rows
    (feature, threshold, class, z, v).  Z is a window sum over each
    candidate's K class rows, so the argmin's rows carry every vote."""
    rows = search_rows(state)
    if feature_pred is not None:
        rows = rows.filter(feature_pred)
    eps = 1.0 / (2.0 * m * num_classes)
    # class order fixes the summation order, so z is bit-reproducible
    per_cut = (
        Window.partitionBy("feature", "threshold")
        .orderBy("class")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    root = F.sqrt(F.col("w_plus") * F.col("w_minus"))
    per_class = _class_weights(_weight_sums(rows)).select(
        "feature",
        "threshold",
        "class",
        (2.0 * F.sum(root).over(per_cut)).alias("z"),
        (
            0.5
            * F.log((F.col("w_plus") + F.lit(eps)) / (F.col("w_minus") + F.lit(eps)))
        ).alias("v"),
    )
    return best_stump_row(per_class, num_classes)


def fit_stump(
    state: DataFrame,
    m: int,
    num_classes: int,
    t: int = 0,
    feature_pred: Column | None = None,
) -> Stump:
    """A3-A6 (reference: DecisionStumpAlgorithm.run [R]): find the best cut
    of the state and its confidence-rated votes.  ``feature_pred`` is a
    boolean Column over ``feature`` restricting the searched features.

    ONE driver action per stump search: (feature, threshold, z) and all K
    votes arrive in a single K-row collect. On a cluster every action is a
    job launch — per-round latency is action-count-bound, not data-bound,
    at the reference's data sizes."""
    rows = _stump_rows(state, m, num_classes, feature_pred).collect()  # bounded: K rows
    rows.sort(key=lambda r: r["class"])
    return Stump(
        t=t,
        feature=int(rows[0]["feature"]),
        threshold=float(rows[0]["threshold"]),
        z=float(rows[0]["z"]),
        votes=[r["v"] for r in rows],
    )


def stumps_to_df(spark: SparkSession, stumps: list[Stump]) -> DataFrame:
    """Model-as-table (SURVEY §1.2): (t, feature, threshold, z, votes).

    Built as a literal-expression plan (``session.local_df``, r14
    optimization round, guide §4.1/§6.3): the model is embedded in the
    PLAN, so every broadcast build, parquet write, and reload of the stump
    table is a 1-task JVM-only job with no Python-worker roundtrip — the
    old ``createDataFrame`` form's 32 parallelized slices each paid a
    pickle/worker exchange on EVERY materialization (A/B on the boosting
    family: q_a9_score_model CPU 15.1 → 1.2 s, q_a12 19.9 → 5.6 s,
    q_d7_estimator_scored 15.2 → 7.0 s; identical row signatures).  Model
    tables are ≤ num_rounds rows, so one partition is the correct layout
    at any scale."""
    from ..session import local_df

    return local_df(
        spark,
        [(s.t, s.feature, s.threshold, s.z, list(s.votes)) for s in stumps],
        "t INT, feature INT, threshold DOUBLE, z DOUBLE, votes ARRAY<DOUBLE>",
    )


def update_weights(state: DataFrame, stump: Stump) -> DataFrame:
    """A8: w' = w exp(-y v_l phi(x)) / Z_norm — a map over the m state
    rows, Z_norm a global scalar agg (the reference's per-round action
    boundary [R] AdaBoostMHAlgorithm.run)."""
    above = F.element_at("x", stump.feature) > stump.threshold
    phi = F.when(above, 1.0).otherwise(-1.0)
    votes = F.array(*[F.lit(v) for v in stump.votes])
    raw = state.select(
        "id",
        "x",
        "y",
        F.transform(
            "w",
            lambda w, l: w
            * F.exp(-F.element_at("y", l + 1) * F.element_at(votes, l + 1) * phi),
        ).alias("w"),
    )
    # Z_norm stays IN the plan as a broadcast scalar (no driver action):
    # the reference pulls it to the driver per round [R]; we let the
    # following eager localCheckpoint materialize everything in one job
    z_norm = raw.agg(
        F.sum(F.aggregate("w", F.lit(0.0), lambda acc, w: acc + w)).alias("z_norm")
    )
    return raw.crossJoin(F.broadcast(z_norm)).select(
        "id", "x", "y", F.transform("w", lambda w: w / F.col("z_norm")).alias("w")
    )


def train(
    spark: SparkSession,
    emb: DataFrame,
    num_rounds: int = 10,
    num_classes: int = 10,
    sample_fraction: float | None = None,
    feature_fraction: float | None = None,
    seed: int = 42,
    label_set_col: str | None = None,
    sample_pred: Callable[[int], Column] | None = None,
) -> list[Stump]:
    """A10 (reference: AdaBoostMHAlgorithm.run [R]): the boosting loop.

    Driver-orchestrated like the reference, but all state lives in one
    DataFrame, the wide state of :func:`init_state`; localCheckpoint per
    round truncates both RDD lineage and the Catalyst plan (SURVEY §4.2
    item 1 — the one genuinely non-free part of DataFrame-native boosting).
    Each round calls :func:`fit_stump` and :func:`update_weights` once,
    through the module (so wrappers installed on them see every round).
    A12: optional instance/feature subsampling before each stump search.
    ``label_set_col`` names an ARRAY<INT> multi-label column (BoosTexter
    label sets); None = single-label ``label``.

    ``sample_pred`` (VERDICT r10 item 2) is the DETERMINISTIC instance
    sampler: a callable ``t -> boolean Column over 'id'`` applied as a plain
    filter on the state before round t's stump search.  Unlike
    ``sample_fraction`` (a seeded per-partition Bernoulli sample of the
    state, engine-specific), a pure-arithmetic predicate is expressible
    identically in SQL, making sampled training exactly oracle-checkable.
    Mutually exclusive with ``sample_fraction`` (predicate wins if both
    are set).
    """
    label = "label" if label_set_col is None else F.col(label_set_col).alias("labels")
    emb = emb.select("vec_id", "embedding", label)
    m = emb.count()
    state = init_state(emb, m, num_classes).localCheckpoint(eager=True)

    stumps: list[Stump] = []
    # loop-invariant: feature count never changes between rounds, so the
    # one action that computes it runs once, not once per round
    n_feats = (
        state.agg(F.max(F.size("x"))).collect()[0][0]  # bounded: 1-row max agg
        if feature_fraction is not None
        else None
    )
    for t in range(num_rounds):
        search, feature_pred = state, None
        if sample_pred is not None:
            search = state.filter(sample_pred(t))
        elif sample_fraction is not None:
            search = state.sample(sample_fraction, seed + t)
        if feature_fraction is not None:
            keep = max(1, int(n_feats * feature_fraction))
            # deterministic per-round rotation of the feature subset
            feature_pred = ((F.col("feature") + t) % n_feats) < keep
        stump = fit_stump(search, m, num_classes, t, feature_pred)
        stumps.append(stump)
        state = update_weights(state, stump).localCheckpoint(eager=True)
    return stumps


def score_model(emb: DataFrame, stumps_df: DataFrame) -> DataFrame:
    """A9 (reference: AdaBoostMHModel.predict [R]): H(x)[l] = sum_t h_t(x)[l]
    via broadcast stump join + hash agg. Returns (id, class, score, pred)."""
    stump_long = stumps_df.select(
        "t", "feature", "threshold", F.posexplode("votes").alias("class", "v")
    )
    phi = emb.select(F.col("vec_id").alias("id"), "embedding").crossJoin(
        F.broadcast(stumps_df.select("t", "feature", "threshold"))
    ).select(
        "id",
        "t",
        F.when(
            F.element_at("embedding", F.col("feature")) > F.col("threshold"), 1.0
        )
        .otherwise(-1.0)
        .alias("phi"),
    )
    return (
        phi.join(F.broadcast(stump_long.select("t", "class", "v")), "t")
        .groupBy("id", "class")
        .agg(F.sum(F.col("v") * F.col("phi")).alias("score"))
        .select(
            "id",
            "class",
            "score",
            F.when(F.col("score") > 0, 1).otherwise(-1).alias("pred"),
        )
    )


def hamming_loss(scored: DataFrame, mlp: DataFrame) -> DataFrame:
    """A11: fraction of (i,l) pairs where sign(H) != y."""
    return (
        scored.join(mlp, ["id", "class"])
        .agg(
            F.round(
                F.avg(F.when(F.col("pred") != F.col("y"), 1.0).otherwise(0.0)), 6
            ).alias("hamming_loss"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
