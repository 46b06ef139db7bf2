"""The workloads.  Each builds its inputs from the seed in ``prepare``,
runs one operation per ``run`` call (closed loop, one client) and checks
outputs against an independent reference in ``check``.

Why each workload exists (shapes are recorded in BENCHMARK.json too):

- train_dense: continuous features, every value distinct, so the stump
  search's join -> grouped agg -> window over m*d*K rows dominates the fit
  (about 70% of it in one round).  Moves with search/shuffle optimisations;
  per-round overhead is a small share.  One round per fit keeps a fit near
  3 s, so a run times at least three of them.
- train_many_rounds: 8-level features and 2-label sets; after the search's
  pre-aggregation the window input is tiny, so per-round job launches and
  localCheckpoint set the pace.  Moves with fewer-actions/checkpoint/driver
  changes; a search-kernel change should not move it.
- query_mix: the frozen 17-query analytics headline in a seeded order per
  pass, over seeded tables with the types and distributions of the sf0.01
  fixture files; the only workload reaching operators/, streaming/ and
  functions/.
"""

from __future__ import annotations

import importlib.util
import os
import random

import numpy as np

import gen
import reference

TOL_VOTE = 1e-9  # largest allowed |vote - reference vote|

#: bench.py's frozen HEADLINE set, copied so that edits outside the benchmark
#: cannot change what the benchmark runs
HEADLINE = [
    "q_b11_pricing_summary",
    "q_b05_join_revenue_by_priority",
    "q_b06_broadcast_join_brand_volume",
    "q_b20_topk_per_group",
    "q_b16_ranking",
    "q_b31_cte_nation_revenue",
    "q_b30_correlated_exists",
    "q_c1_tumbling_window",
    "q_c3_session_window",
    "q_d3_topk_cosine",
    "q_a5_stump_z",
    "q_b35_pandas_udf_token_count",
    "q_comp_forecast_revenue",
    "q_comp_top_customers",
    "q_ext_hypertable_rollup",
    "q_comp_docpipe",
    "q_d3_ivf_ann",
]

#: every ``fn.__module__`` the headline reaches, without the package prefix
QUERY_MODULES = [
    "operators.relational",
    "operators.joins",
    "operators.windows",
    "operators.sql_surface",
    "operators.udfs",
    "operators.composites",
    "streaming.batch_equiv",
    "functions.similarity",
    "functions.text",
    "ml.queries",
]


def _noop(df) -> None:
    # full execution of every output column; count() would let Catalyst
    # prune work the query claims to do
    df.write.format("noop").mode("overwrite").save()


class Train:
    """``AdaBoostMHClassifier.fit`` on a seeded table; one op = one fit.  The
    warm-up is a one-round fit of the same table: it compiles every plan a
    round runs without paying for the later rounds."""

    min_ops = 3

    def __init__(self, m: int, d: int, levels: int | None, n_labels: int, rounds: int):
        self.m, self.d, self.levels = m, d, levels
        self.n_labels, self.rounds = n_labels, rounds
        self._ref = None

    def prepare(self, spark, data_dir: str, seed: int, rec) -> None:
        from spark_multiboost_spark.ml.estimator import AdaBoostMHClassifier

        path = os.path.join(data_dir, "train.parquet")
        self.data = gen.write_train(path, seed, self.m, self.d, self.levels, self.n_labels)
        self.df = spark.read.parquet(path)
        label = {"labelSetCol": "labels"} if self.n_labels > 1 else {"labelCol": "label"}
        self.clf = AdaBoostMHClassifier(numRounds=self.rounds, numClasses=gen.K, **label)
        self.warm_clf = AdaBoostMHClassifier(numRounds=1, numClasses=gen.K, **label)

    def run(self, rec):
        with rec.span("estimator.fit"):
            return self.clf.fit(self.df), self.rounds

    def warmup(self, rec):
        return self.warm_clf.fit(self.df), 1

    def check(self, out) -> list[str]:
        """Stumps must equal the reference's (feature, threshold) sequence
        exactly and its votes to within TOL_VOTE.  A fit of fewer rounds
        must match the reference's first rounds."""
        model, rounds = out
        if self._ref is None:
            self._ref = reference.train(self.data.x, self.data.y, self.rounds)
        ref = self._ref[:rounds]
        got = model.stumps_df.orderBy("t").collect()  # bounded: numRounds rows
        if len(got) != len(ref):
            return [f"{len(got)} stumps, reference has {len(ref)}"]
        errors = []
        for r, (f, thr, votes) in zip(got, ref):
            gap = np.max(np.abs(np.asarray(r["votes"]) - votes))
            if (r["feature"], r["threshold"]) != (f, thr):
                errors.append(f"round {r['t']}: stump ({r['feature']}, {r['threshold']!r})"
                              f" != reference ({f}, {thr!r})")
            elif gap > TOL_VOTE:
                errors.append(f"round {r['t']}: votes differ from reference by {gap:.3g}")
        if rounds < self.rounds:
            return errors
        self.hamming_loss = reference.hamming_loss(
            reference.scores(self.data.x, [r["feature"] for r in got],
                             [r["threshold"] for r in got], [r["votes"] for r in got]),
            self.data.y,
        )
        return errors


class QueryMix:
    """The 17 headline queries over seeded fixture tables after warm_cache;
    one op = one pass in a seeded order, each query -> noop sink."""

    min_ops = 2  # single-pass runs spread 17% across seeds on a 4-core host

    def __init__(self, sf: float):
        self.sf = sf

    def prepare(self, spark, data_dir: str, seed: int, rec) -> None:
        from spark_multiboost_spark import session
        from spark_multiboost_spark.registry import queries

        self.sf_dir = data_dir
        gen.write_fixture_tables(data_dir, seed, self.sf)
        with rec.span("session.warm_cache"):
            session.warm_cache(spark, data_dir)
        self.spark = spark
        self.qs = {n: f for n, f in queries().items() if n in HEADLINE}
        self.rng = random.Random(seed)

    def _order(self) -> list[str]:
        return self.rng.sample(HEADLINE, len(HEADLINE))

    def run(self, rec) -> None:
        from spark_multiboost_spark import plans

        with rec.span("query_mix.pass"):
            for name in self._order():
                with rec.span(f"query.{name}"):
                    _noop(self.qs[name](self.spark, self.sf_dir))
            plans.release_outstanding()

    def warmup(self, rec):
        """A pass collected to pandas, so that every query is checked once."""
        from spark_multiboost_spark import plans

        out = {n: self.qs[n](self.spark, self.sf_dir).toPandas() for n in self._order()}
        plans.release_outstanding()
        return out

    def check(self, out) -> list[str]:
        """Each query's warm-up result must equal its DuckDB oracle's; timed
        passes go to the noop sink and return nothing to check."""
        if out is None:
            return []
        from spark_multiboost_spark.registry import all_queries

        harness = _load_harness()
        oracles = all_queries()
        con = harness.duck_connect(self.sf_dir)
        errors = []
        try:
            for name, sdf in out.items():
                odf = con.execute(oracles[name].oracle).df()
                if len(sdf) != len(odf) or sorted(sdf.columns) != sorted(odf.columns):
                    errors.append(f"{name}: shape {sdf.shape} != oracle {odf.shape}")
                elif len(sdf) and not harness._normalize(sdf).equals(harness._normalize(odf)):
                    errors.append(f"{name}: values differ from the DuckDB oracle")
        finally:
            con.close()
        return errors


def _load_harness():
    """The test suite's DuckDB-oracle normalisation, imported read-only."""
    path = os.path.join(os.getcwd(), "tests", "harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make(name: str):
    return {
        "train_dense": lambda: Train(m=1500, d=16, levels=None, n_labels=1, rounds=1),
        "train_many_rounds": lambda: Train(m=1000, d=8, levels=8, n_labels=2, rounds=4),
        "query_mix": lambda: QueryMix(sf=0.01),
    }[name]()
