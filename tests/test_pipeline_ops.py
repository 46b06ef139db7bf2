"""Behavioral checks for the round-2/3 pretraining-pipeline operators
(exact-equality vs DuckDB is covered by test_oracle_all; these assert the
operators produce the *signal* they exist for)."""

from __future__ import annotations

from spark_multiboost_spark.registry import all_queries

_Q = all_queries()


def test_chunk_dedup_finds_shared_chunks(spark, sf_dir):
    df = _Q["q_d2_chunk_dedup"].fn(spark, sf_dir).toPandas()
    assert (df["n_shared"] > 0).any()  # fixtures contain near-dup docs
    assert ((df["shared_frac"] >= 0) & (df["shared_frac"] <= 1)).all()
    assert (df["n_shared"] <= df["n_chunks"]).all()


def test_semantic_dedup_decisions(spark, sf_dir):
    df = _Q["q_d2_semantic_dedup"].fn(spark, sf_dir).toPandas()
    # one decision per corpus vector, some removals, centroids keep themselves
    assert df["vec_id"].is_unique
    assert (~df["is_kept"]).any() and df["is_kept"].any()
    cent_rows = df[df["vec_id"] < 16]
    # a centroid is the lowest id in its own cell only if no smaller-id vec
    # shares the cell; vec_id 0 always survives (nothing below it)
    assert bool(df.loc[df["vec_id"] == 0, "is_kept"].iloc[0])


def test_perplexity_proxy_is_a_quality_signal(spark, sf_dir):
    df = _Q["q_d5_perplexity_proxy"].fn(spark, sf_dir).toPandas()
    assert (df["avg_neg_logp"] > 0).all()  # -ln p of observed tokens
    # corpus-level unigram entropy bound: avg over docs sits near ln(vocab)
    assert 1.0 < df["avg_neg_logp"].mean() < 20.0
    assert df["n_tokens"].ge(1).all()


def test_margin_distribution_accounts_for_every_example(spark, sf_dir):
    df = _Q["q_a11_margin_distribution"].fn(spark, sf_dir).toPandas()
    emb_rows = _Q["q_a1_scan_embeddings"].fn(spark, sf_dir).count()
    assert df["n_examples"].sum() == emb_rows
    assert abs(df["cum_frac"].iloc[-1] - 1.0) < 1e-9
    assert df["bucket"].between(-10, 9).all()  # normalized margins in [-1, 1]


def test_pretrain_pipeline_gates_all_fire(spark, sf_dir):
    df = _Q["q_comp_pretrain_pipeline"].fn(spark, sf_dir).toPandas()
    reasons = set(r for rr in df["reasons"] if rr for r in rr.split(","))
    # every gate must actually drop something at every fixture SF
    assert reasons == {"lang", "len", "rep", "chunk_dup", "near_dup", "contam", "holdout"}
    assert df["kept"].any() and (~df["kept"]).any()
    # kept <-> no reasons
    assert (df["kept"] == (df["reasons"] == "")).all()


def test_ivf_recall_bounds(spark, sf_dir):
    df = _Q["q_d3_ivf_recall"].fn(spark, sf_dir).toPandas()
    assert len(df) == 100  # one row per query vector
    assert df["recall_at_k"].between(0, 1).all()
    # the approximation must be usefully better than nothing and the
    # report must not be vacuously perfect (otherwise it tests nothing)
    assert 0.05 < df["recall_at_k"].mean() < 1.0


def test_abstain_stump_z_bounds(spark, sf_dir):
    df = _Q["q_a5_abstain_stump_z"].fn(spark, sf_dir).toPandas()
    # Z is a normalizer bound: (0, 1] for any weak hypothesis under a
    # distribution; < 1 for at least one candidate means boosting can
    # make progress with an abstaining stump
    assert (df["z"] > 0).all() and (df["z"] <= 1.0 + 1e-9).all()
    assert df["z"].min() < 1.0
    plain = _Q["q_a5_stump_z"].fn(spark, sf_dir).toPandas()
    assert len(df) == len(plain)  # same candidate grid (features 1-4)


def test_sequence_pack_is_contiguous(spark, sf_dir):
    """The packing is a true concat-and-chunk: offsets tile the token
    stream with no gaps or overlaps, and spans are consistent."""
    df = (
        _Q["q_d4_sequence_pack"].fn(spark, sf_dir).toPandas().sort_values("doc_id")
    )
    starts = df["start_off"].to_numpy()
    toks = df["n_tokens"].to_numpy()
    assert starts[0] == 0
    assert (starts[1:] == starts[:-1] + toks[:-1]).all()
    assert (df["n_seqs"] >= 1).all()
    assert (df["last_seq"] >= df["first_seq"]).all()
    # docs longer than one sequence must span; docs that fit may still
    # straddle a cut but never span more than ceil(nt/SEQ)+1 sequences
    from spark_multiboost_spark.functions.text import SEQ_LEN

    import numpy as np

    assert (df["n_seqs"] <= np.ceil(toks / SEQ_LEN) + 1).all()


def test_train_split_ratio_and_determinism(spark, sf_dir):
    df = _Q["q_d4_train_split"].fn(spark, sf_dir).toPandas()
    by_split = df.groupby("split")["n_docs"].sum()
    assert set(by_split.index) <= {"train", "valid"}
    total = by_split.sum()
    # content-hash split: ~95/5 with generous tolerance at small SF
    assert by_split.get("train", 0) / total > 0.85
    # deterministic: a second run is identical
    df2 = _Q["q_d4_train_split"].fn(spark, sf_dir).toPandas()
    assert df.equals(df2)


def test_chunk_windows_cover_every_token(spark, sf_dir):
    """Stride-window chunking: chunks start at 0, never exceed CHUNK_LEN,
    and the last chunk of each doc reaches exactly the doc's final token."""
    from pyspark.sql import functions as F

    from spark_multiboost_spark.functions.text import CHUNK_LEN, CHUNK_STRIDE

    df = _Q["q_d4_chunk_windows"].fn(spark, sf_dir).toPandas()
    assert (df.groupby("doc_id")["chunk_id"].min() == 0).all()
    assert df["n_tokens"].between(1, CHUNK_LEN).all()
    last = df.loc[df.groupby("doc_id")["chunk_id"].idxmax()]
    covered = last["chunk_id"] * CHUNK_STRIDE + last["n_tokens"]
    d = (
        _Q["q_d1_exact_dedup"]
        .fn(spark, sf_dir)
        .sparkSession.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("nt"))
        .toPandas()
        .set_index("doc_id")["nt"]
    )
    assert (covered.set_axis(last["doc_id"]).sort_index() == d.sort_index()).all()


def test_pack_manifest_accounts_every_slot(spark, sf_dir):
    """Each packed sequence holds exactly SEQ_LEN tokens (the final one may
    be partial); manifest token totals equal the corpus token total; seq
    ids are dense from 0."""
    from spark_multiboost_spark.functions.text import SEQ_LEN

    df = _Q["q_d4_pack_manifest"].fn(spark, sf_dir).toPandas().sort_values("seq_id")
    assert df["seq_id"].tolist() == list(range(len(df)))
    assert (df["n_tokens_in_seq"].iloc[:-1] == SEQ_LEN).all()
    assert 1 <= df["n_tokens_in_seq"].iloc[-1] <= SEQ_LEN
    pack = _Q["q_d4_sequence_pack"].fn(spark, sf_dir).toPandas()
    assert df["n_tokens_in_seq"].sum() == pack["n_tokens"].sum()
    assert (df["first_doc"] <= df["last_doc"]).all()


def test_kmeans_matches_numpy_lloyds(spark, sf_dir):
    """The distributed Lloyd's loop is the algorithm it claims: same init
    (vec_id < N_CELLS), same argmin tie rule (lowest cent_id), same means
    => same inertia curve as a driver-side numpy reference, and inertia
    never rises."""
    import numpy as np

    from spark_multiboost_spark.functions.similarity import (
        N_CELLS,
        N_KMEANS_ITERS,
    )

    got = (
        _Q["q_d3_kmeans_train"].fn(spark, sf_dir).toPandas().sort_values("iter")
    )
    assert (got["inertia"].diff().dropna() <= 1e-9).all()

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    X = np.array([np.asarray(e, dtype=np.float64) for e in emb["embedding"]])
    cent = X[: N_CELLS].copy()
    ref = []
    for _ in range(N_KMEANS_ITERS):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        cell = d2.argmin(axis=1)  # first occurrence = lowest cent_id
        inertia = d2[np.arange(len(X)), cell].sum()
        counts = np.bincount(cell, minlength=N_CELLS)
        ref.append((inertia, (counts > 0).sum(), counts.max()))
        for c in range(N_CELLS):
            if counts[c]:
                cent[c] = X[cell == c].mean(axis=0)
    for (g_i, g_a, g_l), (r_i, r_a, r_l) in zip(
        got[["inertia", "n_active_cells", "largest_cell"]].itertuples(
            index=False, name=None
        ),
        ref,
    ):
        assert abs(g_i - r_i) <= 1e-6 * max(1.0, abs(r_i))
        assert g_a == r_a and g_l == r_l


def test_ivf_trained_recall_not_worse(spark, sf_dir):
    """Training the quantizer must not hurt retrieval: trained-centroid
    recall@k stays within noise of (in practice above) seed recall."""
    seed = _Q["q_d3_ivf_recall"].fn(spark, sf_dir).toPandas()
    trained = _Q["q_d3_ivf_trained_recall"].fn(spark, sf_dir).toPandas()
    assert len(trained) == len(seed) == 100
    assert trained["recall_at_k"].between(0, 1).all()
    assert trained["recall_at_k"].mean() >= seed["recall_at_k"].mean() - 0.05


def test_zorder_buckets_are_tiles(spark, sf_dir):
    """The Z-order pruning property: each zbucket bounds BOTH dimensions
    to a 16-wide tile, so files range-partitioned on zkey skip on either
    dimension's predicate."""
    df = _Q["q_ext_zorder_layout"].fn(spark, sf_dir).toPandas()
    assert len(df) > 1
    assert (df["max_x"] - df["min_x"] <= 15).all()
    assert (df["max_y"] - df["min_y"] <= 15).all()
    # tiles align to the 16-grid
    assert (df["min_x"] // 16 == df["max_x"] // 16).all()
    assert (df["min_y"] // 16 == df["max_y"] // 16).all()


def test_pq_train_inertia_never_rises(spark, sf_dir):
    """Per-subspace Lloyd's: the summed quantization error must be
    monotonically non-increasing across iterations, with every (m, code)
    pair staying active on the fixture."""
    got = _Q["q_d3_pq_train"].fn(spark, sf_dir).toPandas().sort_values("iter")
    assert (got["inertia"].diff().dropna() <= 1e-9).all()
    assert (got["n_active_codes"] > 0).all()


def test_pq_trained_recall_not_worse(spark, sf_dir):
    """Trained PQ codebooks must not retrieve worse than the seed-slice
    codebooks (mirrors the IVF trained-recall guard)."""
    trained = _Q["q_d3_pq_trained_recall"].fn(spark, sf_dir).toPandas()
    seed = _Q["q_d3_pq_recall"].fn(spark, sf_dir).toPandas()
    assert trained["recall_at_k"].mean() >= seed["recall_at_k"].mean() - 1e-9


def test_compaction_reduces_files_preserves_rows(spark, sf_dir):
    """The compaction rewrite must strictly reduce per-partition file
    counts on the fragmented layout and lose no rows."""
    rep = _Q["q_b03_compaction"].fn(spark, sf_dir).toPandas()
    assert (rep["files_after"] < rep["files_before"]).all()
    assert (rep["files_after"] >= 1).all()


def test_opq_rotated_recall_runs_and_bounded(spark, sf_dir):
    """OPQ-P: distributed moments -> eigh -> rotated PQ. The fixture is
    near-isotropic so rotation isn't asserted to beat plain PQ (documented
    in the query); assert the gauge itself: full query coverage, recall in
    [0, 1], deterministic across runs."""
    a = _Q["q_d3_opq_rotated_recall"].fn(spark, sf_dir).toPandas()
    b = _Q["q_d3_opq_rotated_recall"].fn(spark, sf_dir).toPandas()
    assert len(a) == 100
    assert a["recall_at_k"].between(0, 1).all()
    assert a.equals(b)


def test_dq_checks_fire_on_corruption(spark, sf_dir):
    """The fixtures are clean (all-zero report), so prove each constraint
    actually detects: inject one violation of every class and assert every
    check goes non-zero."""
    from pyspark.sql import functions as F

    from spark_multiboost_spark.operators.composites import _dq_checks
    from spark_multiboost_spark.session import load_tables

    t = dict(load_tables(spark, sf_dir))
    bad_order = t["orders"].limit(1).withColumn("o_custkey", F.lit(-999999))
    t["orders"] = t["orders"].unionAll(bad_order)
    bad_li = (
        t["lineitem"].limit(1)
        .withColumn("l_quantity", F.lit(-1.0))
        .withColumn("l_discount", F.lit(2.0))
    )
    t["lineitem"] = t["lineitem"].unionAll(bad_li)
    bad_doc = t["documents"].limit(1).withColumn("text", F.lit(""))
    t["documents"] = t["documents"].unionAll(bad_doc)  # also duplicates doc_id
    bad_ev = t["events"].limit(1).withColumn(
        "user_id", F.lit(None).cast("bigint")
    )
    t["events"] = t["events"].unionAll(bad_ev)

    rep = {r["check_name"]: r["n_violations"] for r in _dq_checks(t).collect()}
    assert all(v > 0 for v in rep.values()), rep


def test_approx_quantile_within_bound(spark, sf_dir):
    # GK at accuracy=1000 guarantees rank error <= 1/1000; on this value
    # distribution that bounds relative VALUE error well under 1%
    from spark_multiboost_spark.registry import all_queries

    pdf = (
        all_queries()["q_ext_approx_quantile_gauge"].fn(spark, sf_dir).toPandas()
    )
    assert len(pdf) == 3
    assert (pdf["rel_err"] < 0.01).all(), pdf.to_string()


def test_dynamic_overwrite_preserves_other_partitions(spark, sf_dir):
    # the rewritten 'R' partition must zero out; A/N sums must equal the
    # source table exactly (their files were never rewritten)
    from pyspark.sql import functions as F

    from spark_multiboost_spark.functions.parity import dsum
    from spark_multiboost_spark.registry import all_queries
    from spark_multiboost_spark.session import load_tables

    got = {
        r["l_returnflag"]: r["sum_discount"]
        for r in all_queries()["q_b03_dynamic_partition_overwrite"]
        .fn(spark, sf_dir)
        .collect()
    }
    src = {
        r["l_returnflag"]: r["sum_discount"]
        for r in load_tables(spark, sf_dir)["lineitem"]
        .groupBy("l_returnflag")
        .agg(dsum("l_discount").alias("sum_discount"))
        .collect()
    }
    assert got["R"] == 0.0
    assert got["A"] == src["A"] and got["N"] == src["N"]


def test_global_ids_dense_and_unique(spark, sf_dir):
    from spark_multiboost_spark.registry import all_queries

    r = all_queries()["q_ext_assign_global_ids"].fn(spark, sf_dir).collect()[0]
    assert r["n_rows"] == r["n_distinct_ids"]
    assert r["min_id"] == 0
    assert r["max_id"] == r["n_rows"] - 1


def test_hll_ndv_within_bound(spark, sf_dir):
    from spark_multiboost_spark.registry import all_queries

    pdf = all_queries()["q_ext_hll_error_gauge"].fn(spark, sf_dir).toPandas()
    assert len(pdf) == 4
    # HLL++ at rsd=1%: allow 5 sigma
    assert (pdf["rel_err"] < 0.05).all(), pdf.to_string()


def test_pagerank_mass_and_hubs(spark, sf_dir):
    """Structural checks beyond the oracle: ranks positive, top-20 strictly
    ordered, and supplier hubs (high in-degree side of the bipartite graph)
    outrank the customer floor."""
    from spark_multiboost_spark.registry import all_queries

    pdf = all_queries()["q_ext_pagerank"].fn(spark, sf_dir).toPandas()
    assert len(pdf) == 20
    assert (pdf["rank_score"] > 0.15).all()  # every node holds the damping floor
    scores = list(pdf["rank_score"])
    assert scores == sorted(scores, reverse=True)  # non-increasing (ties allowed)
    # bipartite trade graph: the concentrated side (10 suppliers, many
    # customers) accumulates rank — the top-10 hubs are all suppliers
    assert pdf["node"].head(10).str.startswith("s").all()


def test_mg_heavy_hitters_guarantee(spark, sf_dir):
    """Merged Misra-Gries summaries must contain EVERY token whose true
    corpus frequency exceeds n/(MG_K+1) — the mergeable-summaries bound —
    and the check must be non-vacuous on the fixture."""
    import pyspark.sql.functions as F

    from spark_multiboost_spark.functions.text import MG_K
    from spark_multiboost_spark.registry import all_queries
    from spark_multiboost_spark.session import load_tables

    got = set(
        all_queries()["q_d4_heavy_hitters_mg"].fn(spark, sf_dir).toPandas()["token"]
    )
    exact = (
        load_tables(spark, sf_dir)["documents"]
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.length("t") > 0)
        .groupBy("t")
        .count()
        .toPandas()
    )
    n = exact["count"].sum()
    must = set(exact[exact["count"] > n / (MG_K + 1)]["t"])
    assert len(must) > 0, "guarantee threshold vacuous — retune MG_K"
    assert must <= got, f"missing heavy hitters: {must - got}"


def test_triangle_orientations_agree(spark, sf_dir):
    """Orientation changes which copy of a triangle is counted, never the
    total: degree-oriented == id-oriented."""
    from spark_multiboost_spark.registry import all_queries

    t1 = all_queries()["q_ext_triangle_count"].fn(spark, sf_dir).collect()[0]
    t2 = (
        all_queries()["q_ext_triangle_degree_oriented"].fn(spark, sf_dir).collect()[0]
    )
    assert t1["n_triangles"] == t2["n_triangles"]
    assert t1["n_edges"] == t2["n_edges"]  # same undirected edge set


def test_ss_heavy_hitters_interval(spark, sf_dir):
    """Space-Saving certified interval: for every reported token that
    appears in ALL shard summaries (i.e. was never evicted anywhere —
    true for genuine heavy hitters), cnt - err <= true <= cnt after the
    counter-wise merge; and the exact top-5 tokens must all be reported."""
    import pandas as pd
    import pyspark.sql.functions as F

    from spark_multiboost_spark.functions.text import SS_SHARDS, _ss_summary
    from spark_multiboost_spark.registry import all_queries
    from spark_multiboost_spark.session import load_tables

    rep = all_queries()["q_d4_heavy_hitters_ss"].fn(spark, sf_dir).toPandas()
    assert len(rep) > 0
    d = load_tables(spark, sf_dir)["documents"]
    toks = (
        d.select(
            "doc_id",
            (F.col("doc_id") % SS_SHARDS).cast("int").alias("shard"),
            F.posexplode(F.split("text", " ")).alias("pos", "token"),
        )
        .filter(F.length("token") > 0)
        .toPandas()
    )
    exact = toks.groupby("token").size()
    # which tokens survive in every shard summary?
    per_shard = [
        set(_ss_summary(g)["token"]) for _, g in toks.groupby("shard")
    ]
    everywhere = set.intersection(*per_shard)
    checked = 0
    for _, r in rep.iterrows():
        # the report's certified flag must agree with the recomputed
        # every-shard membership
        assert bool(r["in_all_shards"]) == (r["token"] in everywhere), r["token"]
        if r["token"] in everywhere:
            true = int(exact.get(r["token"], 0))
            assert true <= int(r["est_count"]), (r["token"], true, r["est_count"])
            assert int(r["est_count"]) - int(r["err"]) <= true, (
                r["token"], true, r["est_count"], r["err"],
            )
            checked += 1
    assert checked > 0, "no token survived in all shards — retune SS_K"
    top5 = set(exact.sort_values(ascending=False).head(5).index)
    assert top5 <= set(rep["token"]), f"missing exact top-5: {top5 - set(rep['token'])}"


def test_session_scratch_dirs_keyed_and_reused(sf_dir):
    """proc_tmpdir: one dir per (process, kind), reused across calls;
    sf_scratch: distinct leaves per sf_dir under it (the ADVICE-r9
    multi-SF overwrite hazard), stable within a process."""
    import os

    from spark_multiboost_spark.session import proc_tmpdir, sf_scratch

    a1, a2 = proc_tmpdir("t_unit"), proc_tmpdir("t_unit")
    assert a1 == a2 and os.path.isdir(a1)
    assert proc_tmpdir("t_unit2") != a1
    s1 = sf_scratch("t_unit", "/root/testdata/sf0.001")
    s2 = sf_scratch("t_unit", "/root/testdata/sf0.01")
    s1b = sf_scratch("t_unit", "/root/testdata/sf0.001")
    assert s1 == s1b and s1 != s2
    assert os.path.dirname(s1) == a1 and os.path.isdir(s1)


def test_budget_waterfill_level_is_maximal(spark, sf_dir):
    """The closed-form waterfill must produce the LARGEST integer level L
    with sum(min(n_l, L)) <= budget: quotas fit the budget, and raising
    the level by 1 must overflow it (else the closed form under-allocated).
    Locks the allocator the batch sampler and the streaming admission twin
    (q_c20) both ride."""
    import pyspark.sql.functions as F

    from spark_multiboost_spark.functions.text import (
        BUDGET_DEN,
        BUDGET_NUM,
        budget_quota,
    )
    from spark_multiboost_spark.session import load_tables

    d = load_tables(spark, sf_dir)["documents"]
    cnt = {r["lang"]: r["n"] for r in d.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    budget = (sum(cnt.values()) * BUDGET_NUM) // BUDGET_DEN
    quota_df, qcnt = budget_quota(d)
    quota = {r["lang"]: r["quota"] for r in quota_df.collect()}
    qcnt.unpersist()
    assert set(quota) == set(cnt)
    assert sum(quota.values()) <= budget
    # reconstruct L from any capped language (quota < supply) or, if all
    # saturated, any level >= max supply is trivially maximal
    capped = [lang for lang in quota if quota[lang] < cnt[lang]]
    if capped:
        levels = {quota[lang] for lang in capped}
        assert len(levels) == 1, f"capped langs disagree on level: {levels}"
        lvl = levels.pop()
        assert sum(min(n, lvl) for n in cnt.values()) <= budget
        assert sum(min(n, lvl + 1) for n in cnt.values()) > budget, (
            "level not maximal — closed-form waterfill under-allocated"
        )
    # per-lang quota never exceeds supply
    assert all(quota[lang] <= cnt[lang] for lang in cnt)


def test_docpipe_kept_avg_rounds_like_oracle_on_half_tie(spark, sf_dir, tmp_path):
    """kept_avg_token_len on an exact half tie: six kept 30-token docs with
    n_chars 227, 230, 255, 298, 339 and 369 have per-doc averages summing
    to 57.266667, a mean of exactly 9.5444445.  The oracle's double ROUND
    gives 9.544445; Spark's ROUND of the same double quotient gives
    9.544444, so the query has to round the way the oracle does."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_multiboost_spark.session import TABLES
    from tests.harness import compare

    for t in TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    docs = pq.read_table(tmp_path / "documents.parquet")
    n_chars = [227, 230, 255, 298, 339, 369]
    first = max(docs.column("doc_id").to_pylist()) + 1
    tie = pa.table(
        {
            "doc_id": [first + j for j in range(len(n_chars))],
            "text": [" ".join(f"t{j}w{i}" for i in range(30)) for j in range(len(n_chars))],
            "lang": ["xx"] * len(n_chars),
            "source": ["src0"] * len(n_chars),
            "n_chars": n_chars,
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, tie]), tmp_path / "documents.parquet")

    rows = _Q["q_comp_docpipe"].fn(spark, str(tmp_path)).filter("lang = 'xx'").collect()
    assert [(r["n_docs"], r["kept_avg_token_len"]) for r in rows] == [(6, 9.544445)]
    compare(spark, "q_comp_docpipe", str(tmp_path))


def test_pruned_lm_empty_holdout_yields_no_rows(spark, sf_dir, tmp_path):
    """With no odd doc_id the held-out half is empty.  The oracle's
    GROUP BY over the holdout then yields no row, so the sweep must return
    0 rows, not one row per cutoff with a NULL cross-entropy."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from spark_multiboost_spark.session import TABLES
    from tests.harness import compare

    for t in TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    docs = pq.read_table(tmp_path / "documents.parquet")
    even = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0))
    assert 0 < even.num_rows < docs.num_rows
    pq.write_table(even, tmp_path / "documents.parquet")

    assert _Q["q_d5_pruned_trigram_lm"].fn(spark, str(tmp_path)).count() == 0
    compare(spark, "q_d5_pruned_trigram_lm", str(tmp_path))
