"""Text analysis over ``documents`` (SURVEY.md §2 D4-D5 + north-star ops):
tokenization/TF, n-grams, stopword filtering, language-ID heuristic, quality
scoring, document fingerprinting, regex token counting.

All JVM-side expressions (no Python UDFs) — at 100 TB these run inside
whole-stage codegen directly over the parquet scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.parity import bcount
from ..plans import release_with
from ..registry import query
from ..session import load_tables, local_df


@query(
    "q_d4_token_tf",
    oracle="""
WITH toks AS (
  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
), counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
  WHERE LENGTH(token) > 0 GROUP BY token
)
SELECT token, tf,
       CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank
FROM counts
ORDER BY tf DESC, token LIMIT 20
""",
    group="D",
)
def token_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: corpus term frequency, top-20 (explode -> hash agg -> top-k).

    limit-FIRST: ``orderBy().limit(20)`` plans a ``TakeOrderedAndProject``
    (per-partition heap + driver merge), so the 10^8-distinct-token table a
    100 TB corpus produces never funnels through one task.  Only the 20
    surviving rows see the rank window; its ``partitionBy(lit(1))`` keeps the
    partition defined (20 rows, no WindowExec single-partition warning).
    """
    d = load_tables(spark, sf_dir)["documents"]
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(bcount().alias("tf"))
    )
    top = counts.orderBy(F.col("tf").desc(), "token").limit(20)
    w = Window.partitionBy(F.lit(1)).orderBy(F.col("tf").desc(), "token")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("token", "tf", "rank")
        .orderBy(F.col("tf").desc(), "token")
    )


@query(
    "q_d4_bigrams",
    oracle="""
WITH docs AS (
  SELECT lang, STRING_SPLIT(text, ' ') AS toks FROM documents
), bg AS (
  SELECT lang,
         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(toks) - 1, 0)),
             i -> CONCAT(toks[i], ' ', toks[i + 1]))) AS bigram
  FROM docs
), counts AS (
  SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY lang, bigram
), ranked AS (
  SELECT lang, bigram, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS BIGINT) AS rank
  FROM counts
)
SELECT lang, bigram, n, rank FROM ranked WHERE rank <= 5
ORDER BY lang, rank
""",
    group="D",
)
def bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: top-5 bigrams per language tag (n-gram generation + group top-k)."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("lang", F.split("text", " ").alias("toks"))
    bg = toks.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda i: F.concat(
                    F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
                ),
            )
        ).alias("bigram"),
    )
    counts = bg.groupBy("lang", "bigram").agg(bcount().alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("lang", "bigram", "n", "rank")
        .orderBy("lang", "rank")
    )


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"


@query(
    "q_d4_stopword_stats",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS toks FROM documents
)
SELECT source,
       CAST(SUM(LEN(toks)) AS BIGINT) AS n_tokens,
       CAST(SUM(LEN(LIST_FILTER(toks, t -> LIST_CONTAINS({_STOP_SQL}, t)))) AS BIGINT) AS n_stopwords,
       ROUND(CAST(SUM(LEN(LIST_FILTER(toks, t -> LIST_CONTAINS({_STOP_SQL}, t)))) AS DOUBLE)
             / SUM(LEN(toks)), 6) AS stopword_ratio
FROM docs GROUP BY source ORDER BY source
""",
    group="D",
)
def stopword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: stopword filtering + per-source stopword-ratio stats."""
    d = load_tables(spark, sf_dir)["documents"]
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    toks = d.select("source", F.split("text", " ").alias("toks"))
    stats = toks.select(
        "source",
        F.size("toks").alias("nt"),
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).alias("ns"),
    )
    return (
        stats.groupBy("source")
        .agg(
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum("ns").cast("bigint").alias("n_stopwords"),
            F.round(
                F.sum("ns").cast("double") / F.sum("nt"), 6
            ).alias("stopword_ratio"),
        )
        .orderBy("source")
    )


@query(
    "q_d5_source_stats",
    oracle="""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang, source ORDER BY lang, source
""",
    group="D",
)
def source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: per-(lang, source) document corpus statistics."""
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.groupBy("lang", "source")
        .agg(
            bcount().alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


# tiny per-language lexicons for the n-gram/stopword language-ID heuristic;
# the fixture text is synthetic word soup, so this exercises the mechanics
# (per-lexicon hit counting + argmax) rather than real language detection
_LEXICONS = {
    "en": ["the", "and", "of", "data", "query"],
    "de": ["der", "die", "und", "nicht", "das"],
    "es": ["el", "la", "de", "los", "que"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["zh1", "zh2", "zh3", "zh4", "zh5"],
}


def _hits_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in _LEXICONS[lang]) + "]"
    return f"LEN(LIST_FILTER(toks, t -> LIST_CONTAINS({arr}, t)))"


@query(
    "q_d5_langid",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks FROM documents
), hits AS (
  SELECT doc_id, lang,
         {_hits_sql('en')} AS h_en, {_hits_sql('de')} AS h_de,
         {_hits_sql('es')} AS h_es, {_hits_sql('fr')} AS h_fr,
         {_hits_sql('zh')} AS h_zh
  FROM docs
)
SELECT doc_id, lang AS labeled_lang,
       CASE
         WHEN h_en >= GREATEST(h_de, h_es, h_fr, h_zh, 1) THEN 'en'
         WHEN h_de >= GREATEST(h_es, h_fr, h_zh, 1) THEN 'de'
         WHEN h_es >= GREATEST(h_fr, h_zh, 1) THEN 'es'
         WHEN h_fr >= GREATEST(h_zh, 1) THEN 'fr'
         WHEN h_zh >= 1 THEN 'zh'
         ELSE 'und'
       END AS predicted_lang,
       CAST(h_en AS BIGINT) AS h_en
FROM hits ORDER BY doc_id
""",
    group="D",
)
def langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5/ext: lexicon-hit language-ID heuristic with deterministic argmax
    (priority order en>de>es>fr>zh on ties, 'und' when no lexicon hits)."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    def _hit_counter(words: list[str]):
        arr = F.array(*[F.lit(w) for w in words])
        # single-arg lambda: a default-arg capture would change the lambda's
        # arity and make PySpark pass the element index as the second arg
        return F.size(F.filter("toks", lambda t: F.array_contains(arr, t)))

    hit_cols = {lang: _hit_counter(words) for lang, words in _LEXICONS.items()}
    h = toks.select(
        "doc_id",
        "lang",
        *[hit_cols[lg].alias(f"h_{lg}") for lg in ["en", "de", "es", "fr", "zh"]],
    )
    pred = (
        F.when(
            F.col("h_en")
            >= F.greatest("h_de", "h_es", "h_fr", "h_zh", F.lit(1)),
            "en",
        )
        .when(F.col("h_de") >= F.greatest("h_es", "h_fr", "h_zh", F.lit(1)), "de")
        .when(F.col("h_es") >= F.greatest("h_fr", "h_zh", F.lit(1)), "es")
        .when(F.col("h_fr") >= F.greatest("h_zh", F.lit(1)), "fr")
        .when(F.col("h_zh") >= 1, "zh")
        .otherwise("und")
    )
    return h.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        F.col("h_en").cast("bigint").alias("h_en"),
    ).orderBy("doc_id")


@query(
    "q_d5_quality_score",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, n_chars, STRING_SPLIT(text, ' ') AS toks FROM documents
), feat AS (
  SELECT doc_id, n_chars,
         LEN(toks) AS n_tokens,
         CAST(n_chars AS DOUBLE) / LEN(toks) AS avg_token_len,
         CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS ttr,
         CAST(LEN(LIST_FILTER(toks, t -> LIST_CONTAINS({_STOP_SQL}, t))) AS DOUBLE)
           / LEN(toks) AS stop_ratio
  FROM docs WHERE LEN(toks) > 0
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(avg_token_len, 6) AS avg_token_len,
       ROUND(ttr, 6) AS type_token_ratio,
       ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.4 + ttr * 0.4
             + LEAST(stop_ratio * 5.0, 1.0) * 0.2, 6) AS quality_score
FROM feat ORDER BY doc_id
""",
    group="D",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext: document quality scoring — length, type-token ratio, stopword
    ratio blended into [0,1] (the classic pretraining-data quality gate)."""
    d = load_tables(spark, sf_dir)["documents"]
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    toks = d.select("doc_id", "n_chars", F.split("text", " ").alias("toks")).filter(
        F.size("toks") > 0
    )
    nt = F.size("toks")
    feat = toks.select(
        "doc_id",
        nt.cast("bigint").alias("n_tokens"),
        (F.col("n_chars").cast("double") / nt).alias("avg_token_len"),
        (F.size(F.array_distinct("toks")).cast("double") / nt).alias("ttr"),
        (
            F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).cast(
                "double"
            )
            / nt
        ).alias("stop_ratio"),
    )
    return feat.select(
        "doc_id",
        "n_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("ttr", 6).alias("type_token_ratio"),
        F.round(
            F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.4
            + F.col("ttr") * 0.4
            + F.least(F.col("stop_ratio") * 5.0, F.lit(1.0)) * 0.2,
            6,
        ).alias("quality_score"),
    ).orderBy("doc_id")


@query(
    "q_d4_fingerprint",
    oracle="""
WITH docs AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks, text FROM documents
)
SELECT doc_id,
       MD5(LOWER(TRIM(text))) AS content_fingerprint,
       LIST_MIN(LIST_TRANSFORM(toks, t -> MD5(t))) AS min_token_hash
FROM docs ORDER BY doc_id
""",
    group="D",
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext: document fingerprinting — normalized content digest + min token
    hash (the 1-hash MinHash special case used for cheap dedup keys)."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_fingerprint"),
        F.array_min(F.transform(F.split("text", " "), F.md5)).alias("min_token_hash"),
    ).orderBy("doc_id")


@query(
    "q_d4_regex_tokens",
    oracle="""
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9]+')) AS BIGINT) AS n_word_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[0-9]+')) AS BIGINT) AS n_number_tokens
FROM documents ORDER BY doc_id
""",
    group="D",
)
def regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext: BPE-ish regex token counting (character-class tokenizer — the
    pre-tokenization pass of GPT-style BPE pipelines)."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0))
        .cast("bigint")
        .alias("n_word_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0))
        .cast("bigint")
        .alias("n_number_tokens"),
    ).orderBy("doc_id")


@query(
    "q_comp_docpipe",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang, source, text, n_chars,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> LENGTH(t) > 0)) AS BIGINT) AS n_tokens
  FROM documents
), quality AS (
  SELECT *, ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_token_len
  FROM scored WHERE n_tokens >= 30
), deduped AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) AS BIGINT) AS rn
  FROM quality
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups_removed,
       CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       ROUND(CAST(SUM(CAST(CASE WHEN rn = 1 THEN avg_token_len ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0), 6) AS kept_avg_token_len
FROM deduped GROUP BY lang ORDER BY lang
""",
    group="D",
)
def docpipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM training-data pipeline end-to-end in ONE declarative plan:
    token counting -> quality gate (min length) -> exact dedup (md5,
    keep-lowest-id) -> per-language corpus stats. Every stage is the
    operator already proven individually (D4 tokens, D5 quality, D1 dedup,
    B11 agg); the composition still pushes the token filter into the scan
    and shuffles once on the hash and once on the final group key. This is
    the 100 TB shape: no driver loops, no UDFs, one pipeline."""
    d = load_tables(spark, sf_dir)["documents"]
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        "n_chars",
        F.size(F.filter(F.split("text", " "), lambda t: F.length(t) > 0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    quality = scored.filter(F.col("n_tokens") >= 30).withColumn(
        "avg_token_len",
        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 6),
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = quality.withColumn("rn", F.row_number().over(w).cast("bigint"))
    kept = F.when(F.col("rn") == 1, 1).otherwise(0)
    return (
        deduped.groupBy("lang")
        .agg(
            bcount().alias("n_docs"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("bigint").alias("n_dups_removed"),
            F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0)).cast("bigint").alias("kept_tokens"),
            # floor(x*1e6 + 0.5)/1e6 is the oracle's double ROUND step for
            # step; F.round renders the double in decimal first and so
            # rounds some exact half ties (318.797667/58) the other way
            (
                F.floor(
                    F.sum(
                        F.when(F.col("rn") == 1, F.col("avg_token_len"))
                        .otherwise(0.0)
                        .cast("decimal(18,6)")
                    ).cast("double")
                    / F.nullif(F.sum(kept), F.lit(0))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("kept_avg_token_len"),
        )
        .orderBy("lang")
    )


@query(
    "q_d4_tfidf",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE LENGTH(token) > 0 GROUP BY doc_id, token
), df AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY token
), nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         ROUND(tf.tf * LN(nn.n / df.df), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN nn
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, token) AS rnk
  FROM scored
)
SELECT doc_id, token, tf, tfidf
FROM ranked WHERE rnk <= 3 AND doc_id < 50
ORDER BY doc_id, tfidf DESC, token
""",
    group="D",
)
def tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): TF-IDF with top-3 terms per document — term frequency
    (hash agg), document frequency via a WINDOW over the tf table (its
    rows are distinct (doc, token) pairs, so ``count over (partition by
    token)`` IS the distinct-doc count — no second corpus scan, no
    join-back; the round-4 single-scan rewrite), one broadcast of the
    scalar corpus size (a doc_id-column-only scan, KBs), score projection
    (per-row IEEE math, no float aggregation), window top-k."""
    d = load_tables(spark, sf_dir)["documents"]
    n_docs = d.select(F.countDistinct("doc_id").cast("double").alias("n"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("doc_id", "token")
        .agg(bcount().alias("tf"))
    )
    df_w = F.count(F.lit(1)).over(Window.partitionBy("token")).cast("bigint")
    scored = (
        tf.withColumn("df", df_w)
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "token", "tf", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "token")
    )


# -- LLM-pretraining pipeline gates (beyond SURVEY D4/D5: the quality ops a
# -- 100 TB training-data pipeline runs between ingest and tokenization) ---


@query(
    "q_d5_repetition_score",
    oracle="""
WITH docs AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
), tg AS (
  SELECT doc_id,
         LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(toks) - 2, 0)),
             i -> CONCAT_WS(' ', toks[i], toks[i + 1], toks[i + 2])) AS gs
  FROM docs WHERE LEN(toks) >= 3
)
SELECT doc_id,
       CAST(LEN(gs) AS BIGINT) AS n_trigrams,
       ROUND(CAST(LEN(gs) - LEN(LIST_DISTINCT(gs)) AS DOUBLE) / LEN(gs), 6)
           AS dup_frac,
       (LEN(gs) - LEN(LIST_DISTINCT(gs)) > 0) AS is_repetitive
FROM tg
ORDER BY doc_id
""",
    group="D",
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): intra-document repetition — the fraction of duplicate
    word trigrams per doc (the Gopher-style repetition gate used to drop
    looping/boilerplate pages from pretraining corpora).  Pure HOF
    arithmetic on the token array: no shuffle at all until the final
    presentation sort — at 100 TB this is a map-only pass over the scan."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split("text", " ")
    gs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    out = (
        d.filter(F.size(toks) >= 3)
        .select("doc_id", gs.alias("gs"))
        .select(
            "doc_id",
            F.size("gs").cast("bigint").alias("n_trigrams"),
            F.round(
                (F.size("gs") - F.size(F.array_distinct("gs"))).cast("double")
                / F.size("gs"),
                6,
            ).alias("dup_frac"),
            ((F.size("gs") - F.size(F.array_distinct("gs"))) > 0).alias(
                "is_repetitive"
            ),
        )
    )
    return out.orderBy("doc_id")


@query(
    "q_d5_contamination",
    oracle="""
WITH docs AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(toks) - 2, 0)),
             i -> CONCAT_WS(' ', toks[i], toks[i + 1], toks[i + 2]))) AS shingles
  FROM docs WHERE LEN(toks) >= 3
), ex AS (
  SELECT doc_id, UNNEST(shingles) AS g FROM sh
), bench AS (
  SELECT doc_id, g FROM ex WHERE doc_id % 97 = 0
)
SELECT b.doc_id AS bench_doc, c.doc_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM bench b JOIN ex c ON b.g = c.g AND b.doc_id <> c.doc_id
GROUP BY b.doc_id, c.doc_id
ORDER BY bench_doc, doc_id
""",
    group="D",
)
def contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): benchmark-contamination detection — which corpus docs
    share word trigrams with a held-out "benchmark" set (stand-in:
    doc_id % 97 == 0), the n-gram-overlap decontamination check every
    pretraining pipeline runs before training.

    Scale shape: the benchmark side is small by definition -> broadcast
    it; the corpus explodes to (doc, trigram) rows map-side and the
    overlap is one broadcast-hash-join + hash-agg, never a doc x doc
    product.  Shingle lists are per-doc distinct, so COUNT(*) counts
    DISTINCT shared trigrams on both engines."""
    from .dedup import _shingled

    d = load_tables(spark, sf_dir)["documents"]
    ex = _shingled(d).select("doc_id", F.explode("shingles").alias("g"))
    bench = ex.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_doc"), "g"
    )
    return (
        ex.join(F.broadcast(bench), "g")
        .filter(F.col("doc_id") != F.col("bench_doc"))
        .groupBy("bench_doc", "doc_id")
        .agg(bcount().alias("n_shared"))
        .orderBy("bench_doc", "doc_id")
    )


@query(
    "q_d5_mix_weights",
    oracle="""
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
         CAST(COUNT(*) AS DOUBLE) AS n_langs
  FROM per_lang
)
SELECT lang, n_docs,
       ROUND(n_docs / total, 6) AS actual_share,
       ROUND((1.0 / n_langs) / (n_docs / total), 6) AS mix_weight
FROM per_lang CROSS JOIN tot
ORDER BY lang
""",
    group="D",
)
def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): domain-mixing sampling weights — per-language upsample /
    downsample factors that rebalance the corpus to a uniform language mix
    (the data-mixture reweighting step of pretraining pipelines; swap the
    uniform target for any target share vector without changing the plan).
    One hash-agg for the counts, then a broadcast of the one-row totals —
    the per-group weight lookup every sampler worker would join against."""
    d = load_tables(spark, sf_dir)["documents"]
    per_lang = d.groupBy("lang").agg(bcount().alias("n_docs"))
    tot = per_lang.agg(
        F.sum("n_docs").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_langs"),
    )
    share = F.col("n_docs") / F.col("total")
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.round(share, 6).alias("actual_share"),
            F.round((F.lit(1.0) / F.col("n_langs")) / share, 6).alias("mix_weight"),
        )
        .orderBy("lang")
    )


@query(
    "q_d5_perplexity_proxy",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
), freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY token
), tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS total FROM freq
), scored AS (
  SELECT t.doc_id, -LN(CAST(f.n AS DOUBLE) / tot.total) AS nlp
  FROM toks t JOIN freq f USING (token) CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(nlp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS avg_neg_logp
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
    group="D",
)
def perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): perplexity-proxy quality score — per-document average
    negative log-probability under a corpus-level unigram language model
    (the cheap stand-in for a trained-LM perplexity filter; docs with
    unusually high avg_neg_logp are rare-token noise, unusually low ones
    are boilerplate repetition).

    Scale shape: token explode -> one hash-agg for the unigram counts
    (map-side partial aggregation collapses the Zipf head before the
    shuffle), then the frequency table — vocabulary-sized, which grows
    ~logarithmically with the corpus — is BROADCAST back onto the token
    stream, so the scoring join never shuffles corpus-scale data on the
    skewed token key; the final per-doc agg shuffles on doc_id (uniform).
    Per-token -ln p is quantized to DECIMAL(18,6) before summing
    (functions/parity.py discipline) so the average is
    accumulation-order-independent and cross-engine exact."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # the unigram model is materialized once (vocabulary-sized): the scalar
    # total and the broadcast scoring join both read it — unmarked, Spark
    # would re-run the corpus token count for each
    freq = toks.groupBy("token").agg(bcount().alias("n")).persist()
    tot = freq.agg(F.sum("n").cast("double").alias("total"))
    nlp = -F.log(F.col("n").cast("double") / F.col("total"))
    return release_with(
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", nlp.alias("nlp"))
        .groupBy("doc_id")
        .agg(
            bcount().alias("n_tokens"),
            (
                F.sum(F.col("nlp").cast("decimal(18,6)")).cast("double")
                / F.count("nlp")
            ).alias("avg_neg_logp_raw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round("avg_neg_logp_raw", 6).alias("avg_neg_logp"),
        )
        .orderBy("doc_id"),
        freq,
    )


SEQ_LEN = 128  # tokens per packed training sequence
PACK_BUCKET = 100  # doc_ids per prefix-sum bucket (see scale note below)


_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_off
  FROM t
)
SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // {SEQ_LEN} AS BIGINT) AS first_seq,
       CAST((start_off + n_tokens - 1) // {SEQ_LEN} AS BIGINT) AS last_seq,
       CAST((start_off + n_tokens - 1) // {SEQ_LEN}
            - start_off // {SEQ_LEN} + 1 AS BIGINT) AS n_seqs
FROM c ORDER BY doc_id
"""


@query("q_d4_sequence_pack", oracle=_PACK_ORACLE, group="D")
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): concat-and-chunk sequence packing — the GPT-style
    pretraining layout (concatenate the token stream in doc_id order, cut
    every SEQ_LEN tokens, docs may straddle a cut).  Emits each document's
    placement: absolute start offset, first/last sequence index, and how
    many training sequences it spans.

    Scale shape: the global prefix sum is NOT a single-partition window.
    It is the two-stage salted form (same recipe as the A4 salted variant):
    per-bucket cumsums run partitioned on ``bucket`` (uniform fan-in,
    PACK_BUCKET docs each), and only the per-bucket TOTALS — corpus /
    PACK_BUCKET rows — go through the tiny global window, after which the
    bucket base offsets broadcast back.  At 100 TB widen PACK_BUCKET (or
    add a third level) so the totals table stays one task; the arithmetic
    is integer-exact at any nesting depth.
    """
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BUCKET).alias("bucket"),
    ).persist()  # narrow (3 ints/doc); both prefix-sum stages read it —
    # without this mark Spark re-tokenizes the corpus for each branch
    per_bucket = t.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_tokens"))
    wb = Window.partitionBy(F.lit(1)).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )  # bucket totals only — tiny by construction; defined partition, no warn
    offsets = per_bucket.select(
        "bucket", F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0)).alias("base")
    )
    wi = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    placed = (
        t.join(F.broadcast(offsets), "bucket")
        .withColumn("cum", F.sum("n_tokens").over(wi))
        .withColumn("start_off", (F.col("base") + F.col("cum") - F.col("n_tokens")))
    )
    first = F.floor(F.col("start_off") / SEQ_LEN)
    last = F.floor((F.col("start_off") + F.col("n_tokens") - 1) / SEQ_LEN)
    return release_with(
        placed.select(
        "doc_id",
        "n_tokens",
        F.col("start_off").cast("bigint").alias("start_off"),
        first.cast("bigint").alias("first_seq"),
        last.cast("bigint").alias("last_seq"),
        (last - first + 1).cast("bigint").alias("n_seqs"),
    ).orderBy("doc_id"),
        t,
    )


@query(
    "q_d4_train_split",
    oracle="""
WITH s AS (
  SELECT lang,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         CASE WHEN (ASCII(SUBSTR(MD5(text), 1, 1)) * 256
                    + ASCII(SUBSTR(MD5(text), 2, 1))) % 20 < 19
              THEN 'train' ELSE 'valid' END AS split
  FROM documents
)
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM s GROUP BY split, lang ORDER BY split, lang
""",
    group="D",
)
def train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): deterministic CONTENT-keyed train/validation split
    (~95/5 by md5 of the text, not the doc_id) — identical texts land in
    the same split by construction, so exact duplicates can never leak
    from train into validation even before dedup runs.  Pure map-side
    expression + one aggregation; reshards freely at any scale."""
    d = load_tables(spark, sf_dir)["documents"]
    h = F.md5(F.col("text"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 20
    return (
        d.select(
            "lang",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            F.when(bucket < 19, "train").otherwise("valid").alias("split"),
        )
        .groupBy("split", "lang")
        .agg(
            bcount().alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


CHUNK_LEN = 32  # tokens per retrieval chunk
CHUNK_STRIDE = 24  # overlap = CHUNK_LEN - CHUNK_STRIDE tokens


@query(
    "q_d4_chunk_windows",
    oracle=f"""
WITH t AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id,
         UNNEST(GENERATE_SERIES(0, CAST(GREATEST(
           CEIL((LEN(toks) - {CHUNK_LEN}) / {CHUNK_STRIDE}.0), 0) AS BIGINT)))
           AS chunk_id,
         toks
  FROM t
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(LEN(LIST_SLICE(toks, chunk_id * {CHUNK_STRIDE} + 1,
                            chunk_id * {CHUNK_STRIDE} + {CHUNK_LEN})) AS BIGINT)
         AS n_tokens,
       ARRAY_TO_STRING(LIST_SLICE(toks, chunk_id * {CHUNK_STRIDE} + 1,
                                  chunk_id * {CHUNK_STRIDE} + 3), ' ') AS head
FROM c ORDER BY doc_id, chunk_id
""",
    group="D",
)
def chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): overlapping retrieval chunks — slide a CHUNK_LEN-token
    window with CHUNK_STRIDE step over each document (the RAG indexing
    layout; every token is covered, consecutive chunks share
    CHUNK_LEN - CHUNK_STRIDE tokens so no boundary context is lost).

    Pure map-side: split -> per-doc ``sequence`` of chunk ids -> explode ->
    ``slice``.  No shuffle at all before the presentation sort; output
    cardinality ~ n_tokens / CHUNK_STRIDE per doc, and each chunk carries
    its own provenance (doc_id, chunk_id) for the downstream embed +
    ANN-index stages (q_d3_*)."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split("text", " ")
    last_chunk = F.greatest(
        F.ceil((F.size(toks) - CHUNK_LEN) / F.lit(float(CHUNK_STRIDE))),
        F.lit(0),
    ).cast("int")
    t = d.select("doc_id", toks.alias("toks"), last_chunk.alias("last_chunk"))
    c = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("last_chunk"))).alias("chunk_id"),
        "toks",
    )
    start = F.col("chunk_id") * CHUNK_STRIDE + 1
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(F.slice("toks", start, F.lit(CHUNK_LEN))).cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", F.slice("toks", start, F.lit(3))).alias("head"),
    ).orderBy("doc_id", "chunk_id")


@query(
    "q_d4_pack_manifest",
    oracle=f"""
WITH t AS (
  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_off
  FROM t
), spans AS (
  SELECT doc_id, n_tokens, start_off,
         UNNEST(GENERATE_SERIES(CAST(start_off // {SEQ_LEN} AS BIGINT),
                                CAST((start_off + n_tokens - 1) // {SEQ_LEN}
                                     AS BIGINT)))
           AS seq_id
  FROM c
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc,
       CAST(SUM(LEAST(start_off + n_tokens, (seq_id + 1) * {SEQ_LEN})
                - GREATEST(start_off, seq_id * {SEQ_LEN})) AS BIGINT)
         AS n_tokens_in_seq
FROM spans GROUP BY seq_id ORDER BY seq_id
""",
    group="D",
)
def pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): the per-SEQUENCE inverse of :func:`sequence_pack` — for
    every packed training sequence, which documents contribute and how
    many of its SEQ_LEN token slots each fills (the manifest a data loader
    reads to reconstruct attention-mask document boundaries).

    Every sequence must account for exactly SEQ_LEN tokens (except the
    final partial one) — asserted in pytest.  Plan: the same two-stage
    prefix sum as sequence_pack, then explode each doc over the sequences
    it straddles (bounded fan-out: n_tokens/SEQ_LEN + 1) and aggregate on
    seq_id — a uniform key by construction (every seq holds SEQ_LEN
    tokens), so the shuffle cannot skew."""
    placed = sequence_pack(spark, sf_dir)
    spans = placed.select(
        "doc_id",
        "n_tokens",
        "start_off",
        F.explode(F.sequence(F.col("first_seq"), F.col("last_seq"))).alias("seq_id"),
    )
    in_seq = F.least(
        F.col("start_off") + F.col("n_tokens"), (F.col("seq_id") + 1) * SEQ_LEN
    ) - F.greatest(F.col("start_off"), F.col("seq_id") * SEQ_LEN)
    return (
        spans.groupBy("seq_id")
        .agg(
            bcount().alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum(in_seq).cast("bigint").alias("n_tokens_in_seq"),
        )
        .orderBy("seq_id")
    )


@query(
    "q_d5_stratified_sample",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY MD5(CONCAT(text, '|', CAST(doc_id AS VARCHAR))), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 5 ORDER BY source, rk
""",
    group="D",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): deterministic stratified sampling — k docs per source,
    chosen by ranking on a content hash (md5 of text + doc_id).  Unlike
    ``TABLESAMPLE``/``rand()``, the pick is reproducible across engines,
    runs, and partitionings (the eval-set sampler a curation pipeline
    audits against).  Per-group top-k over a hash order compiles to the
    map-side WindowGroupLimit shape — no full sort of any stratum."""
    d = load_tables(spark, sf_dir)["documents"]
    h = F.md5(F.concat(F.col("text"), F.lit("|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk")
    )


PACK_SUPER = 10  # level-1 buckets per level-2 superbucket


@query("q_d4_sequence_pack_3level", oracle=_PACK_ORACLE, group="D")
def sequence_pack_3level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): the SAME packing placement as q_d4_sequence_pack — same
    DuckDB oracle — computed with a THREE-level prefix sum, proving the
    recipe q_d4_sequence_pack's docstring promises ("add a level when the
    totals outgrow one task") actually nests:

    - level 0: per-bucket cumulative sums, partitioned on bucket;
    - level 1: per-SUPERbucket cumulative sums over the bucket totals,
      partitioned on superbucket (corpus/PACK_BUCKET rows, never global);
    - level 2: the global window runs over SUPERBUCKET totals only —
      corpus/(PACK_BUCKET*PACK_SUPER) rows.

    Each level shrinks the windowed row count by its fan-out, so the
    single-partition stage can be driven arbitrarily small at any corpus
    size (10^12 docs / (10^5 * 10^3) = 10^4 rows through the global
    window).  Offsets compose additively: start = super_base + bucket_base
    + in-bucket prefix — integer-exact at any depth."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BUCKET).alias("bucket"),
        F.floor(F.col("doc_id") / (PACK_BUCKET * PACK_SUPER)).alias("sbucket"),
    ).persist()
    per_bucket = t.groupBy("sbucket", "bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    per_super = per_bucket.groupBy("sbucket").agg(
        F.sum("bucket_tokens").alias("super_tokens")
    )
    ws = Window.partitionBy(F.lit(1)).orderBy("sbucket").rowsBetween(
        Window.unboundedPreceding, -1
    )  # super-bucket totals — tiny by construction; defined partition, no warn
    super_off = per_super.select(
        "sbucket",
        F.coalesce(F.sum("super_tokens").over(ws), F.lit(0)).alias("super_base"),
    )
    wb = Window.partitionBy("sbucket").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_off = per_bucket.withColumn(
        "bucket_base", F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0))
    ).select("bucket", "sbucket", "bucket_base")
    offsets = bucket_off.join(F.broadcast(super_off), "sbucket").select(
        "bucket", (F.col("super_base") + F.col("bucket_base")).alias("base")
    )
    wi = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    placed = (
        t.join(F.broadcast(offsets), "bucket")
        .withColumn("cum", F.sum("n_tokens").over(wi))
        .withColumn("start_off", (F.col("base") + F.col("cum") - F.col("n_tokens")))
    )
    first = F.floor(F.col("start_off") / SEQ_LEN)
    last = F.floor((F.col("start_off") + F.col("n_tokens") - 1) / SEQ_LEN)
    return release_with(
        placed.select(
        "doc_id",
        "n_tokens",
        F.col("start_off").cast("bigint").alias("start_off"),
        first.cast("bigint").alias("first_seq"),
        last.cast("bigint").alias("last_seq"),
        (last - first + 1).cast("bigint").alias("n_seqs"),
    ).orderBy("doc_id"),
        t,
    )


_HEX = "0123456789abcdef"
# uniform u in [0,1) from the first 6 hex chars of md5 — digit-decoded with
# strpos/instr so BOTH engines compute the identical exact 2^-24 multiple
_U_SQL = (
    "("
    + " + ".join(
        f"(STRPOS('{_HEX}', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1) "
        f"* {16 ** (5 - i)}"
        for i in range(6)
    )
    + ") / 16777216.0"
)


def _u_col() -> "F.Column":
    h = F.md5(F.col("doc_id").cast("string"))
    total = None
    for i in range(6):
        d = F.expr(
            f"instr('{_HEX}', substring(md5(cast(doc_id as string)), {i + 1}, 1)) - 1"
        ) * (16 ** (5 - i))
        total = d if total is None else total + d
    return total / 16777216.0


@query(
    "q_d5_dsir_resample",
    oracle=f"""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), m AS (
  SELECT MIN(n_docs) AS mn FROM counts
), u AS (
  SELECT doc_id, lang, {_U_SQL} AS u FROM documents
)
SELECT u.lang, counts.n_docs,
       CAST(SUM(CASE WHEN u.u < CAST(m.mn AS DOUBLE) / counts.n_docs
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
       FLOOR(CAST(m.mn AS DOUBLE) / counts.n_docs * 1e6 + 0.5) / 1e6
         AS accept_rate
FROM u JOIN counts USING (lang) CROSS JOIN m
GROUP BY u.lang, counts.n_docs, m.mn
ORDER BY u.lang
""",
    group="D",
)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): importance resampling toward a UNIFORM language mix —
    the DSIR/DoReMi-style "reshape the corpus by sampling" op (vs
    q_d5_mix_weights, which only REPORTS the weights).

    Acceptance is a deterministic per-document coin: u(doc) is the first 6
    hex chars of md5(doc_id) decoded to an exact multiple of 2^-24, accepted
    when u < rate(lang) = min_lang_count / lang_count.  Hash-keyed sampling
    (rather than rand()) is what production pipelines use so reruns and
    backfills select the SAME documents — and it makes the op
    oracle-checkable.

    Scale shape: one narrow agg for per-language counts (broadcast back),
    the coin is a map-side expression over the scan, and the report is one
    more narrow agg.  No shuffle touches document payloads.
    """
    d = load_tables(spark, sf_dir)["documents"]
    counts = d.groupBy("lang").agg(bcount().alias("n_docs")).persist()
    m = counts.agg(F.min("n_docs").alias("mn"))
    rate = F.col("mn").cast("double") / F.col("n_docs")
    u = d.select("doc_id", "lang", _u_col().alias("u"))
    return release_with(
        u.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(m))
        .groupBy("lang", "n_docs", "mn")
        .agg(
            F.sum(F.when(F.col("u") < rate, 1).otherwise(0))
            .cast("bigint")
            .alias("n_accepted"),
            (F.floor(rate * 1e6 + 0.5) / 1e6).alias("accept_rate"),
        )
        .select("lang", "n_docs", "n_accepted", "accept_rate")
        .orderBy("lang"),
        counts,
    )


KL_VOCAB = 30  # KL restricted to the top-V vocabulary (mass elsewhere tiny)


@query(
    "q_d5_source_kl",
    oracle=f"""
WITH toks AS (
  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY COUNT(*) DESC, token LIMIT {KL_VOCAB}
), tv AS (
  SELECT t.source, t.token FROM toks t JOIN vocab USING (token)
), per_source AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n FROM tv
  GROUP BY source, token
), src_tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS st FROM per_source GROUP BY source
), corpus AS (
  SELECT token, CAST(SUM(n) AS BIGINT) AS cn FROM per_source GROUP BY token
), corpus_tot AS (
  SELECT CAST(SUM(cn) AS BIGINT) AS ct FROM corpus
), terms AS (
  SELECT ps.source,
         FLOOR((CAST(ps.n AS DOUBLE) / src_tot.st)
               * LN((CAST(ps.n AS DOUBLE) / src_tot.st)
                    / (CAST(corpus.cn AS DOUBLE) / corpus_tot.ct)) * 1e9 + 0.5)
           / 1e9 AS term
  FROM per_source ps
  JOIN src_tot USING (source)
  JOIN corpus USING (token)
  CROSS JOIN corpus_tot
)
SELECT source,
       FLOOR(CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS kl_vs_corpus
FROM terms GROUP BY source ORDER BY source
""",
    group="D",
)
def source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): per-source KL divergence of the token distribution vs
    the whole corpus — the data-mixing diagnostic that tells you WHICH
    source is distributionally far from the blend (DoReMi-style reweighting
    reads exactly this table).  Restricted to the top-KL_VOCAB vocabulary
    (tail mass is negligible and unstable).

    Float discipline: each KL term is quantized to 9dp then decimal-summed
    (term counts are small and signed — positive and negative terms must
    not reorder), final value re-quantized at 6dp.  Scale shape: two hash
    aggs over (source, token) — model-sized tables after the first agg;
    the vocabulary is a broadcast semi-join."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(KL_VOCAB)
        .select("token")
    )
    tv = toks.join(F.broadcast(vocab), "token", "left_semi")
    per_source = tv.groupBy("source", "token").agg(bcount().alias("n"))
    src_tot = per_source.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("st")
    )
    corpus = per_source.groupBy("token").agg(F.sum("n").cast("bigint").alias("cn"))
    corpus_tot = corpus.agg(F.sum("cn").cast("bigint").alias("ct"))
    p_s = F.col("n").cast("double") / F.col("st")
    p_c = F.col("cn").cast("double") / F.col("ct")
    term = F.floor(p_s * F.log(p_s / p_c) * 1e9 + 0.5) / 1e9
    return (
        per_source.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "token")
        .crossJoin(F.broadcast(corpus_tot))
        .select("source", term.alias("term"))
        .groupBy("source")
        .agg(
            (
                F.floor(
                    F.sum(F.col("term").cast("decimal(18,9)")).cast("double") * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("kl_vs_corpus")
        )
        .orderBy("source")
    )


BATCH_SIZE = 16  # docs per training batch
LEN_BUCKET = 20  # token-length bucket width


@query(
    "q_d4_length_batching",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), bucketed AS (
  SELECT doc_id, n_tokens,
         n_tokens // {LEN_BUCKET} AS bucket,
         (ROW_NUMBER() OVER (PARTITION BY n_tokens // {LEN_BUCKET}
                             ORDER BY doc_id) - 1) // {BATCH_SIZE} AS batch_no
  FROM docs
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(batch_no AS BIGINT) AS batch_no,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_tokens) AS BIGINT) AS max_len,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT) AS pad_waste
FROM bucketed GROUP BY bucket, batch_no
ORDER BY bucket, batch_no
""",
    group="D",
)
def length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): LENGTH-BUCKETED DYNAMIC BATCHING — group documents into
    token-length buckets, cut each bucket into BATCH_SIZE-doc batches, and
    report each batch's padding waste (max_len·count − sum_len).  This is
    the dataloader trick that cuts padding FLOPs for variable-length
    training; the pad_waste column is the metric you tune LEN_BUCKET by
    (contrast q_d4_sequence_pack, which eliminates padding by concat —
    batching preserves doc boundaries for SFT-style training).

    Scale shape: one shuffle on the length bucket; batch ids come from a
    per-bucket row_number (partition-defined, bounded fan-in since buckets
    split the length range)."""
    d = load_tables(spark, sf_dir)["documents"]
    docs = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    bucket = (F.col("n_tokens") / LEN_BUCKET).cast("bigint")
    w = Window.partitionBy("bucket").orderBy("doc_id")
    b = (
        docs.withColumn("bucket", bucket)
        .withColumn(
            "batch_no",
            ((F.row_number().over(w) - 1) / BATCH_SIZE).cast("bigint"),
        )
    )
    return (
        b.groupBy("bucket", "batch_no")
        .agg(
            bcount().alias("n_docs"),
            F.max("n_tokens").cast("bigint").alias("max_len"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.max("n_tokens") * F.count(F.lit(1)) - F.sum("n_tokens"))
            .cast("bigint")
            .alias("pad_waste"),
        )
        .orderBy("bucket", "batch_no")
    )


@query(
    "q_d4_interleave",
    oracle="""
WITH r1 AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS intra
  FROM documents
), r2 AS (
  SELECT doc_id, source, intra,
         ROW_NUMBER() OVER (ORDER BY intra, source) AS global_pos
  FROM r1
)
SELECT global_pos, doc_id, source, intra
FROM r2 WHERE global_pos <= 40
ORDER BY global_pos
""",
    group="D",
)
def interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): deterministic ROUND-ROBIN SOURCE INTERLEAVING — the
    tf.data/torchdata `interleave` order: position in the training stream
    = rank by (per-source index, source), so consecutive samples cycle
    through sources and no source floods a window.  First 40 positions
    shown (the head of the epoch).

    Scale shape: a row with intra > 40 cannot land in the first 40 global
    positions (its own source already has >= 40 earlier rows), so the
    corpus is pre-filtered to intra <= 40 BEFORE the global rank — the
    "global" window then touches <= 40·n_sources rows, never the corpus.
    (Fully general stream order is also closed-form: pos = intra·S +
    source_index when the source list is known — zero sorts.)"""
    d = load_tables(spark, sf_dir)["documents"]
    wi = Window.partitionBy("source").orderBy("doc_id")
    # constant partition key: input is pre-filtered to <=40*n_sources rows,
    # so one task is correct AND bounded; the lit(1) keeps WindowExec from
    # warning about an undefined partition (same trick as q_d4_token_tf)
    wg = Window.partitionBy(F.lit(1)).orderBy("intra", "source")
    ranked = (
        d.select("doc_id", "source")
        .withColumn("intra", F.row_number().over(wi))
        .filter(F.col("intra") <= 40)  # exact: intra>40 => global_pos>40
        .withColumn("global_pos", F.row_number().over(wg))
    )
    return (
        ranked.filter(F.col("global_pos") <= 40)
        .select("global_pos", "doc_id", "source", "intra")
        .orderBy("global_pos")
    )


QUALITY_GATE_Q = 0.7  # keep docs above the 70th percentile of quality

_QSCORE_SQL = """
  SELECT doc_id, lang,
         LEAST(LEN(toks) / 100.0, 1.0) * 0.4
         + CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) * 0.4
         + LEAST(CAST(LEN(LIST_FILTER(toks, t -> LIST_CONTAINS({stop}, t)))
                      AS DOUBLE) / LEN(toks) * 5.0, 1.0) * 0.2 AS s
  FROM (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks FROM documents)
  WHERE LEN(toks) > 0
""".format(stop=_STOP_SQL)


@query(
    "q_d5_quality_gate",
    oracle=f"""
WITH scored AS ({_QSCORE_SQL}),
thr AS (SELECT QUANTILE_CONT(s, {QUALITY_GATE_Q}) AS t FROM scored)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s > thr.t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       FLOOR(CAST(SUM(CASE WHEN s > thr.t THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS kept_ratio
FROM scored CROSS JOIN thr
GROUP BY lang ORDER BY lang
""",
    group="D",
)
def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): the QUALITY GATE as actually applied — keep documents
    above the corpus's {QUALITY_GATE_Q:.0%} quality percentile and report
    per-language survival.  q_d5_quality_score computes the signal; this is
    the selection step, with the twist every production gate has: a
    DATA-DEPENDENT threshold (percentile of the score distribution), not a
    magic constant — so the gate is calibration-free across corpus drifts.

    Plan: one exact-percentile aggregate (no row shuffle) broadcast back
    as a scalar; the keep decision is a map-side comparison; one rollup.
    The per-language KEPT ratios differing from {QUALITY_GATE_Q:.0%} is
    the point — the gate shifts the language mix, which is why
    q_d5_mix_weights-style rebalancing runs AFTER gating."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    s = (
        F.least(F.size(toks) / 100.0, F.lit(1.0)) * 0.4
        + F.size(F.array_distinct(toks)).cast("double") / F.size(toks) * 0.4
        + F.least(
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
                "double"
            )
            / F.size(toks)
            * 5.0,
            F.lit(1.0),
        )
        * 0.2
    )
    scored = d.filter(F.size(toks) > 0).select("doc_id", "lang", s.alias("s"))
    thr = scored.agg(F.expr(f"percentile(s, {QUALITY_GATE_Q})").alias("t"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            bcount().alias("n_docs"),
            F.sum(F.when(F.col("s") > F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            (
                F.floor(
                    F.sum(F.when(F.col("s") > F.col("t"), 1).otherwise(0)).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("kept_ratio"),
        )
        .orderBy("lang")
    )


OOV_VOCAB = 25  # fixed vocabulary size for the coverage gauge


@query(
    "q_d4_oov_rate",
    oracle=f"""
WITH toks AS (
  SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY COUNT(*) DESC, token LIMIT {OOV_VOCAB}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       FLOOR(CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS oov_rate
FROM toks LEFT JOIN vocab ON toks.token = vocab.token
GROUP BY lang ORDER BY lang
""",
    group="D",
)
def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): OUT-OF-VOCABULARY rate per language against a fixed
    top-{OOV_VOCAB} vocabulary — the tokenizer-fit gauge: a vocabulary
    trained on the majority language shows elevated OOV on the others,
    which is exactly the signal that drives vocab-size and merge-budget
    decisions (and byte-fallback rates) for multilingual tokenizers.

    Plan: vocabulary by TakeOrderedAndProject, broadcast LEFT join marks
    OOV tokens map-side, one rollup per language."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(OOV_VOCAB)
        .select(F.col("token").alias("vtoken"))
    )
    return (
        toks.join(F.broadcast(vocab), toks["token"] == F.col("vtoken"), "left")
        .groupBy("lang")
        .agg(
            bcount().alias("n_tokens"),
            F.sum(F.when(F.col("vtoken").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            (
                F.floor(
                    F.sum(F.when(F.col("vtoken").isNull(), 1).otherwise(0)).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


# explicit sampling seed — changing it re-draws every coin (and therefore the
# whole sample) deterministically; both engines embed it in the same md5
PRIORITY_SEED = "seed42"
# priority = w * 2^24 / (coin + 1): integers up to n_chars * 2^24 < 2^53 are
# exact doubles and one IEEE division is correctly rounded, so the priority is
# bit-identical in Spark and DuckDB — no transcendental u^(1/w) needed
_COIN_SQL = (
    "("
    + " + ".join(
        f"(STRPOS('{_HEX}', SUBSTR(MD5('{PRIORITY_SEED}|' || CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1) "
        f"* {16 ** (5 - i)}"
        for i in range(6)
    )
    + ")"
)


def priority_col():
    """The deterministic Duffield-Lund-Thorup priority expression shared by
    the batch query and its streaming twin (q_c19): w·2^24 / (coin + 1)
    with coin = first 6 hex digits of md5(seed|doc_id) — exact-integer IEEE
    division, bit-identical across engines and execution modes."""
    coin = None
    for i in range(6):
        digit = F.expr(
            f"instr('{_HEX}', substring(md5('{PRIORITY_SEED}|' || cast(doc_id as string)), {i + 1}, 1)) - 1"
        ) * (16 ** (5 - i))
        coin = digit if coin is None else coin + digit
    return F.col("n_chars").cast("double") * F.lit(16777216.0) / (coin + 1)


@query(
    "q_d5_priority_sample",
    oracle=f"""
WITH pri AS (
  SELECT doc_id, source,
         CAST(n_chars AS DOUBLE) * 16777216.0 / ({_COIN_SQL} + 1) AS priority
  FROM documents
), ranked AS (
  SELECT doc_id, source, priority,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY priority DESC, doc_id
         ) AS rk
  FROM pri
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk,
       FLOOR(priority * 1e6 + 0.5) / 1e6 AS priority
FROM ranked WHERE rk <= 5 ORDER BY source, rk
""",
    group="D",
)
def priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): WEIGHTED per-group sampling with an explicit seed —
    Duffield-Lund-Thorup priority sampling (top-k by priority w/u), the
    size-biased companion to q_d5_stratified_sample's unweighted pick.
    Long documents (weight = n_chars) are proportionally more likely to
    win, which is how curation pipelines sample "representative bytes"
    rather than representative doc counts.

    Determinism without transcendentals: the classic Efraimidis-Spirakis
    key u^(1/w) needs pow/log whose last-ulp behaviour differs across
    engines; priority sampling's w/u key is ONE IEEE division of exact
    integers (w·2^24 / (coin+1)), bit-identical everywhere.  The coin is
    md5(seed|doc_id) — changing PRIORITY_SEED redraws the whole sample
    reproducibly; reruns and backfills select the SAME documents.

    Scale shape: the coin and priority are map-side scan expressions; the
    per-source top-5 compiles to the WindowGroupLimit shape (each task
    keeps its local top-5 per group before the shuffle), so the full
    corpus never sorts."""
    d = load_tables(spark, sf_dir)["documents"]
    pri = priority_col()
    w = Window.partitionBy("source").orderBy(F.col("priority").desc(), "doc_id")
    return (
        d.select("doc_id", "source", pri.alias("priority"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select(
            "doc_id",
            "source",
            "rk",
            (F.floor(F.col("priority") * 1e6 + 0.5) / 1e6).alias("priority"),
        )
        .orderBy("source", "rk")
    )


@query(
    "q_d4_type_token_ratio",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
  FROM documents
), per_doc AS (
  SELECT doc_id, lang,
         COUNT(*) AS n_tokens,
         COUNT(DISTINCT token) AS n_types
  FROM toks WHERE LENGTH(token) > 0
  GROUP BY doc_id, lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       FLOOR(CAST(SUM(CAST(FLOOR(CAST(n_types AS DOUBLE) / n_tokens * 1e9 + 0.5) / 1e9 AS DECIMAL(18,9))) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_ttr
FROM per_doc GROUP BY lang ORDER BY lang
""",
    group="D",
)
def type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): lexical-diversity gauge — per-document type/token ratio
    (distinct tokens / tokens), averaged per language.  Low TTR flags
    repetitive machine-generated text; used alongside
    q_d5_repetition_score as a cheap quality signal.

    Cross-engine float discipline: each per-doc ratio is one IEEE division
    (exact ints) quantized at 9dp, the per-language mean goes through the
    decimal sum, and the output quantizes at 6dp — order-independent both
    engines (the parity.py recipe for signed/small terms).

    Scale shape: explode → (doc_id, token) hash-agg with map-side combine
    (the same two-level shape as q_d4_token_tf), then a per-doc rollup and
    a tiny per-language agg.  Nothing global, no window."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.length("token") > 0)
    per_doc = toks.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_types"),
    )
    ttr9 = (
        F.floor(F.col("n_types").cast("double") / F.col("n_tokens") * 1e9 + 0.5) / 1e9
    ).cast("decimal(18,9)")
    return (
        per_doc.groupBy("lang")
        .agg(
            bcount().alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.floor(
                    F.sum(ttr9).cast("double") / F.count(F.lit(1)) * 1e6 + 0.5
                )
                / 1e6
            ).alias("avg_ttr"),
        )
        .orderBy("lang")
    )


# configurable blocklist — stands in for PII regexes (emails/phones/SSNs):
# the fixture text is synthetic word-salad with no PII-shaped spans, so a
# real PII pattern would be vacuously green; same plumbing, real matches.
SCRUB_TERMS = ("customer", "key", "vector")
_SCRUB_RE = r"\b(" + "|".join(SCRUB_TERMS) + r")\b"


@query(
    "q_d5_term_scrub",
    oracle=f"""
WITH scrubbed AS (
  SELECT doc_id, source,
         LEN(REGEXP_EXTRACT_ALL(text, '{_SCRUB_RE}')) AS n_redactions,
         LENGTH(REGEXP_REPLACE(text, '{_SCRUB_RE}', '[REDACTED]', 'g'))
           AS scrubbed_len
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_redactions) AS BIGINT) AS total_redactions,
       CAST(SUM(CASE WHEN n_redactions > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_affected,
       CAST(SUM(scrubbed_len) AS BIGINT) AS total_scrubbed_chars
FROM scrubbed GROUP BY source ORDER BY source
""",
    group="D",
)
def term_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): SENSITIVE-SPAN SCRUBBING — the redaction stage of a
    curation pipeline (PII removal, license-string stripping, canary-token
    deletion).  Every document is rewritten with blocklist spans replaced
    by [REDACTED] (word-boundary regex so substrings survive), and the
    audit rollup reports redaction counts per source — the number a
    compliance review asks for.

    The regex runs ONCE per document inside whole-stage codegen
    (regexp_extract_all for the count + regexp_replace for the rewrite —
    both JVM-side; the pattern restricts to the \\b(…)\\b subset that Java
    regex and RE2 interpret identically).  At 100 TB: embarrassingly
    parallel map over the scan, no shuffle until the per-source rollup of
    5 rows; the scrubbed text would be written back out partition-aligned
    (the write side is q_b03's job)."""
    d = load_tables(spark, sf_dir)["documents"]
    # NB: F.regexp_extract_all with a lit() pattern, NOT F.expr with an
    # embedded string — Spark SQL literals eat the \b escape (backspace)
    n_red = F.size(F.regexp_extract_all("text", F.lit(_SCRUB_RE), 0))
    scrubbed_len = F.length(F.regexp_replace("text", _SCRUB_RE, "[REDACTED]"))
    per_doc = d.select(
        "source",
        n_red.alias("n_redactions"),
        scrubbed_len.alias("scrubbed_len"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            bcount().alias("n_docs"),
            F.sum("n_redactions").cast("bigint").alias("total_redactions"),
            F.sum(F.when(F.col("n_redactions") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_affected"),
            F.sum("scrubbed_len").cast("bigint").alias("total_scrubbed_chars"),
        )
        .orderBy("source")
    )


def _bpe_round_sql(r: int) -> str:
    return f"""
, p{r} AS (
  SELECT word, n, pos, sym,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM t{r - 1}
), top{r} AS (
  SELECT sym AS a, nxt AS b, CAST(SUM(n) AS BIGINT) AS cnt
  FROM p{r} WHERE nxt IS NOT NULL AND sym <> nxt
  GROUP BY sym, nxt ORDER BY cnt DESC, a, b LIMIT 1
), m{r} AS (
  SELECT t.word, t.n, t.pos, t.sym,
         LAG(t.sym)  OVER (PARTITION BY t.word ORDER BY t.pos) AS prv,
         LEAD(t.sym) OVER (PARTITION BY t.word ORDER BY t.pos) AS nxt,
         top{r}.a AS a, top{r}.b AS b
  FROM t{r - 1} t CROSS JOIN top{r}
), t{r} AS (
  SELECT word, n,
         ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
         CASE WHEN sym = a AND COALESCE(nxt = b, FALSE)
              THEN sym || nxt ELSE sym END AS sym
  FROM m{r}
  WHERE NOT COALESCE(prv = a AND sym = b, FALSE)
)"""


_BPE_ORACLE = (
    """
WITH words AS (
  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
  WHERE LENGTH(token) > 0 GROUP BY token
), t0 AS (
  SELECT word, n, i AS pos, SUBSTR(word, i, 1) AS sym
  FROM words, UNNEST(GENERATE_SERIES(1, LENGTH(word))) AS g(i)
)"""
    + "".join(_bpe_round_sql(r) for r in (1, 2, 3))
    + """
SELECT * FROM (
  SELECT 1 AS merge_round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM top1
  UNION ALL SELECT 2, a, b, cnt FROM top2
  UNION ALL SELECT 3, a, b, cnt FROM top3
) ORDER BY merge_round
"""
)


def _bpe_merge_rounds(spark: SparkSession, sf_dir: str, apply_last: bool):
    """Shared BPE merge loop (see q_d4_bpe_train's docstring for the
    algorithm and scale shape).  Returns ``(merges, t)`` where ``merges``
    is [(round, sym_a, sym_b, pair_count)] and ``t`` is the PERSISTED
    symbol dictionary after the applied merges — the caller must
    unpersist it (or hand it to release_with).  ``apply_last`` controls
    whether round 3's winning merge is applied (encoding needs the fully
    merged dictionary; training only reports the winner)."""
    d = load_tables(spark, sf_dir)["documents"]
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    t = (
        words.select(
            "word", "n", F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos")
        )
        .select("word", "n", "pos", F.expr("substr(word, pos, 1)").alias("sym"))
        .persist()
    )
    wnd = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple] = []
    for r in (1, 2, 3):
        p = t.select("word", "n", "pos", "sym", F.lead("sym").over(wnd).alias("nxt"))
        # 1-row driver fetch per round (bounded, same pattern as the
        # boosting loop's stump fetch) — attaching the winner as literals
        # breaks cross-round lineage so each superseded dictionary can be
        # unpersisted eagerly instead of leaking until clearCache()
        got = (
            p.filter(F.col("nxt").isNotNull() & (F.col("sym") != F.col("nxt")))
            .groupBy("sym", "nxt")
            .agg(F.sum("n").cast("bigint").alias("cnt"))
            .select(F.col("sym").alias("a"), F.col("nxt").alias("b"), "cnt")
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()  # bounded: 1-row argmax fetch (best merge pair)
        )
        if not got:
            # degenerate corpus (no mergeable adjacent pair left, e.g. all
            # 1-char words): stop merging instead of IndexError — training
            # reports the merges found so far, encoding applies only those
            break
        top = got[0]
        merges.append((r, top["a"], top["b"], int(top["cnt"])))
        if r == 3 and not apply_last:
            break  # training only reports round 3's winner
        m = t.select(
            "word",
            "n",
            "pos",
            "sym",
            F.lag("sym").over(wnd).alias("prv"),
            F.lead("sym").over(wnd).alias("nxt"),
            F.lit(top["a"]).alias("a"),
            F.lit(top["b"]).alias("b"),
        )
        nt = (
            m.filter(
                ~F.coalesce(
                    (F.col("prv") == F.col("a")) & (F.col("sym") == F.col("b")),
                    F.lit(False),
                )
            )
            .select(
                "word",
                "n",
                F.row_number().over(wnd).alias("pos"),
                F.when(
                    (F.col("sym") == F.col("a"))
                    & F.coalesce(F.col("nxt") == F.col("b"), F.lit(False)),
                    F.concat("sym", "nxt"),
                )
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .persist()
        )
        nt.count()  # materialize before dropping the parent cache
        t.unpersist()
        t = nt
    return merges, t


@query("q_d4_bpe_train", oracle=_BPE_ORACLE, group="D")
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): BPE TOKENIZER TRAINING — three merge rounds of the
    actual byte-pair-encoding algorithm (Sennrich et al. 2016), unrolled
    as DataFrame lineage the way q_ext_pagerank unrolls its fixpoint.
    q_d4_bpe_pair_counts counts ONE round's candidates; this TRAINS:
    select the most frequent adjacent symbol pair (count desc, then
    lexicographic — the deterministic tiebreak real trainers use), apply
    the merge to the dictionary, recount, repeat.

    The merge step is where naive implementations go quadratic: this one
    marks merge sites with LAG/LEAD windows (partner rows drop, merged
    rows concatenate) and renumbers with ROW_NUMBER — three window passes
    over a VOCABULARY-sized symbol table, never the corpus.  Self-pairs
    (a = b) are excluded so left-to-right non-overlap semantics reduce to
    position-independent marking (no sequential scan needed; see the
    WHERE sym <> nxt filter — the standard distributed-BPE trick).

    Scale shape: the corpus is touched ONCE (tokenize + word-count, the
    persisted t0); every round after that runs on the distinct-word
    dictionary (Zipf: ~10^6 rows at any corpus size), so training cost is
    independent of corpus bytes beyond the first scan.  The 1-row top-pair
    DF broadcast-attaches per round (the tolerated scalar nested loop)."""
    merges, t = _bpe_merge_rounds(spark, sf_dir, apply_last=False)
    t.unpersist()
    return local_df(
        spark, merges, "merge_round int, sym_a string, sym_b string, pair_count bigint"
    ).orderBy("merge_round")


MG_K = 30  # counter budget: fixture vocab is 31, so k = vocab-1 forces
           # decrements on every shard (the tightest MG regime) while the
           # n/(k+1) guarantee still bites (25 of 31 tokens qualify)
MG_SHARDS = 8


def _mg_summary(pdf):
    """Misra-Gries over one shard's token stream (deterministic: the shard
    is sorted by (doc_id, pos) before this runs).  Classic k-counter
    decrement algorithm: any token with shard frequency > n_shard/(k+1)
    is guaranteed a surviving counter, and counter values undercount true
    frequency by at most n_shard/(k+1)."""
    import pandas as _pd

    pdf = pdf.sort_values(["doc_id", "pos"], kind="mergesort")
    counters: dict[str, int] = {}
    for tok in pdf["token"]:
        if tok in counters:
            counters[tok] += 1
        elif len(counters) < MG_K:
            counters[tok] = 1
        else:
            dead = [t for t in counters if counters[t] == 1]
            for t in counters:
                counters[t] -= 1
            for t in dead:
                del counters[t]
    g = int(pdf["shard"].iloc[0]) if len(pdf) else 0
    return _pd.DataFrame(
        {"shard": g, "token": list(counters), "cnt": list(counters.values())}
    )


@query("q_d4_heavy_hitters_mg", oracle=None, group="D")
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): MERGEABLE HEAVY-HITTERS — Misra-Gries summaries computed
    per shard with applyInPandas, then merged (Agarwal et al. 2012,
    "Mergeable Summaries": counter-wise sum followed by subtracting the
    (k+1)-th largest merged count preserves the MG error bound).  The
    GK-quantile and HLL gauges cover rank and cardinality sketches; this
    covers frequency — the third leg of the one-pass profile stool.

    Determinism despite order-dependence: MG counters depend on stream
    order, so the shard key is pinned from doc_id (never
    spark_partition_id — see the q_ext_assign_global_ids lesson) and each
    shard sorts by (doc_id, pos) before counting.  Same shards + same
    order = same summaries, every run, any cluster layout.

    Rows-only by contract (no SQL can express decrement order);
    tests/test_pipeline_ops.py asserts the superset guarantee — every
    token with true corpus frequency > n/(MG_K+1) appears — and the
    undercount bound cnt >= true - n/(MG_K+1)... inverted: true - cnt <=
    shard-sum bound."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = (
        d.select(
            "doc_id",
            (F.col("doc_id") % MG_SHARDS).cast("int").alias("shard"),
            F.posexplode(F.split("text", " ")).alias("pos", "token"),
        )
        .filter(F.length("token") > 0)
    )
    summaries = toks.groupBy("shard").applyInPandas(
        _mg_summary, schema="shard int, token string, cnt long"
    )
    rows = summaries.collect()  # bounded: MG_SHARDS x MG_K rows
    merged: dict[str, int] = {}
    for r in rows:
        merged[r["token"]] = merged.get(r["token"], 0) + int(r["cnt"])
    if len(merged) > MG_K:
        cut = sorted(merged.values(), reverse=True)[MG_K]
        merged = {t: c - cut for t, c in merged.items() if c - cut > 0}
    out = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
    return local_df(d.sparkSession, out, "token string, est_count bigint")


SS_K = 30  # same counter budget as Misra-Gries for a like-for-like profile
SS_SHARDS = 8


def _ss_summary(pdf):
    """Space-Saving (stream-summary) over one shard's token stream
    (Metwally-Agrawal-El Abbadi 2005): when a new token arrives with all k
    counters taken, it EVICTS the minimum counter and inherits its count+1
    with error = that minimum — unlike Misra-Gries, counters OVERestimate
    (cnt <= true + err, true <= cnt) and the summary always holds exactly
    k candidates.  Deterministic eviction: among minimum-count counters
    the lexicographically largest token is evicted (ties broken without
    insertion-order state), and the shard is sorted by (doc_id, pos)
    first so the stream order is layout-independent."""
    import pandas as _pd

    pdf = pdf.sort_values(["doc_id", "pos"], kind="mergesort")
    counters: dict[str, int] = {}
    errors: dict[str, int] = {}
    for tok in pdf["token"]:
        if tok in counters:
            counters[tok] += 1
        elif len(counters) < SS_K:
            counters[tok] = 1
            errors[tok] = 0
        else:
            mn = min(counters.values())
            victim = max(t for t, c in counters.items() if c == mn)
            del counters[victim]
            errors.pop(victim, None)
            counters[tok] = mn + 1
            errors[tok] = mn
    g = int(pdf["shard"].iloc[0]) if len(pdf) else 0
    return _pd.DataFrame(
        {
            "shard": g,
            "token": list(counters),
            "cnt": [counters[t] for t in counters],
            "err": [errors[t] for t in counters],
        }
    )


@query("q_d4_heavy_hitters_ss", oracle=None, group="D")
def heavy_hitters_ss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): SPACE-SAVING heavy hitters — the stream-summary
    alternative to q_d4_heavy_hitters_mg.  Misra-Gries decrements (under-
    estimates, may hold < k candidates); Space-Saving evicts-and-inherits
    (overestimates, always holds exactly k) and additionally carries a
    per-counter ERROR bound, so each report row is a certified interval
    [cnt - err, cnt] for the true count — the property production top-k
    monitors (frequent-item dashboards, hot-key detectors) rely on to
    declare "guaranteed top-k" prefixes.

    Same mergeable-summaries shape as MG: one summary per doc_id-pinned
    shard via applyInPandas (order made deterministic by an in-shard sort),
    counter-wise sum + error-wise sum on merge (Agarwal et al. 2012 —
    merged error bounds add), then trimmed to the k largest.  Rows-only by
    contract (eviction order is not SQL-expressible);
    tests/test_pipeline_ops.py asserts the interval guarantee
    cnt - err <= true <= cnt per surviving token and the top-hitter
    superset vs exact counts.
    """
    d = load_tables(spark, sf_dir)["documents"]
    toks = (
        d.select(
            "doc_id",
            (F.col("doc_id") % SS_SHARDS).cast("int").alias("shard"),
            F.posexplode(F.split("text", " ")).alias("pos", "token"),
        )
        .filter(F.length("token") > 0)
    )
    summaries = toks.groupBy("shard").applyInPandas(
        _ss_summary, schema="shard int, token string, cnt long, err long"
    )
    rows = summaries.collect()  # bounded: SS_SHARDS x SS_K rows
    cnt: dict[str, int] = {}
    err: dict[str, int] = {}
    shards_seen: dict[str, int] = {}
    for r in rows:
        cnt[r["token"]] = cnt.get(r["token"], 0) + int(r["cnt"])
        err[r["token"]] = err.get(r["token"], 0) + int(r["err"])
        shards_seen[r["token"]] = shards_seen.get(r["token"], 0) + 1
    # merge semantics: counter-wise and error-wise sums.  The certified
    # interval cnt - err <= true <= cnt holds per shard unconditionally and
    # for the MERGED row whenever the token appears in every shard summary
    # (a token evicted from some shard may hide occurrences there); the
    # in_all_shards flag marks exactly those certified rows, so consumers
    # can tell certified intervals from best-effort ones
    keep = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:SS_K]
    out = [(t, c, err[t], shards_seen[t] == SS_SHARDS) for t, c in keep]
    return local_df(
        d.sparkSession, out,
        "token string, est_count bigint, err bigint, in_all_shards boolean",
    )


def _coverage_oracle(n_picks: int = 3) -> str:
    """Greedy set-cover oracle: unrolled pick rounds over the distinct
    (doc, 3-shingle) relation.  Marginal gain = shingles not yet covered;
    argmax tiebreaks (gain DESC, doc_id ASC) exactly as the Spark loop."""
    parts = [
        """
WITH docs AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM docs, UNNEST(GENERATE_SERIES(1, LEN(w) - 2)) AS g(i)
)"""
    ]
    prev_cov = None
    for r in range(1, n_picks + 1):
        not_cov = f"AND sh NOT IN (SELECT sh FROM cov{r-1})" if prev_cov else ""
        parts.append(
            f""", gains{r} AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
  FROM sh WHERE 1=1 {not_cov}
  GROUP BY doc_id
), pick{r} AS (
  SELECT doc_id, gain FROM gains{r} ORDER BY gain DESC, doc_id LIMIT 1
), cov{r} AS (
  SELECT DISTINCT sh FROM sh
  WHERE doc_id IN (SELECT doc_id FROM pick{"1" if r == 1 else str(r)})
  {f"UNION SELECT sh FROM cov{r-1}" if prev_cov else ""}
)"""
        )
        prev_cov = f"cov{r}"
    sel = "\nUNION ALL ".join(
        f"""SELECT {r} AS pick_round, (SELECT doc_id FROM pick{r}) AS doc_id,
       (SELECT gain FROM pick{r}) AS gain,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cov{r}) AS covered_total"""
        for r in range(1, n_picks + 1)
    )
    parts.append(f"\n{sel}\nORDER BY pick_round")
    return "".join(parts)


@query("q_d5_coverage_select", oracle=_coverage_oracle(), group="D")
def coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): COVERAGE-BASED CORPUS SELECTION — greedy weighted
    set-cover over word 3-shingles: each of 3 rounds picks the document
    with the largest MARGINAL coverage gain (shingles no already-selected
    doc contains), the classic (1 - 1/e)-approximate submodular selection
    that diversity-driven data curation uses to squeeze a coverage budget
    (facility-location / MMR family).  Output: per pick round, the chosen
    doc, its marginal gain, and cumulative distinct shingles covered.

    Shape: the (doc, shingle) relation builds once; each round is one
    anti-join against the covered-shingle set + a count-per-doc agg + a
    1-row driver fetch of the argmax (bounded, same pattern as BPE's
    winning pair).  The covered set localCheckpoints per round — it is
    shingle-vocabulary-sized, and the anti-join against it broadcasts at
    any corpus scale since only SELECTED docs' shingles enter it (picks x
    doc-length rows after 3 rounds).  At 100 TB the greedy loop batches
    (pick top-B per round — "lazy greedy" — instead of top-1) to cut
    round count; the marginal-gain agg shape is unchanged."""
    d = load_tables(spark, sf_dir)["documents"]
    w = F.split("text", " ")
    sh = (
        d.select(
            "doc_id",
            F.explode(
                # guard: F.sequence(1, 0) yields a DESCENDING [1, 0], not an
                # empty array — docs under 3 words must map to [] explicitly
                F.when(
                    F.size(w) >= 3,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(w, i),
                            F.element_at(w, i + 1),
                            F.element_at(w, i + 2),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("sh"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # built once, scanned every round
    )
    covered = None
    picks = []
    total = 0
    for r in (1, 2, 3):
        cand = sh if covered is None else sh.join(covered, "sh", "left_anti")
        rows = (
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
            .orderBy(F.col("gain").desc(), "doc_id")
            .limit(1)
            .collect()  # bounded: 1-row greedy-argmax fetch
        )
        if not rows:
            # degenerate fixture (every shingle already covered, or corpus
            # smaller than the round count): the oracle's scalar subqueries
            # return NULL doc_id/gain and carry covered_total forward —
            # emit the same NULL row instead of raising IndexError
            picks.append((r, None, None, total))
            continue
        top = rows[0]
        total += int(top["gain"])
        picks.append((r, int(top["doc_id"]), int(top["gain"]), total))
        newly = sh.filter(F.col("doc_id") == top["doc_id"]).select("sh")
        covered = (
            newly if covered is None else covered.unionAll(newly)
        ).distinct().localCheckpoint(eager=True)
    return local_df(
        spark, picks,
        "pick_round bigint, doc_id bigint, gain bigint, covered_total bigint",
    ).orderBy("pick_round")


def _weighted_coverage_oracle(n_picks: int = 3) -> str:
    """Weighted greedy set-cover oracle: per round, argmax of
    gain/cost over docs with uncovered shingles (ratio DESC, doc_id ASC) —
    the classic H_n-approximation greedy.  cost = word count; gain * 1.0 /
    cost is one binary64 division of two exact integers, so the argmax
    ordering is bit-identical across engines."""
    parts = [
        """
WITH docs AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM docs, UNNEST(GENERATE_SERIES(1, LEN(w) - 2)) AS g(i)
), cost AS (
  SELECT doc_id, CAST(LEN(w) AS BIGINT) AS cost FROM docs
)"""
    ]
    prev_cov = None
    for r in range(1, n_picks + 1):
        not_cov = f"AND sh NOT IN (SELECT sh FROM wcov{r-1})" if prev_cov else ""
        parts.append(
            f""", wgains{r} AS (
  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS gain, ANY_VALUE(c.cost) AS cost,
         CAST(COUNT(*) AS BIGINT) * 1.0 / ANY_VALUE(c.cost) AS ratio
  FROM sh s JOIN cost c ON c.doc_id = s.doc_id
  WHERE 1=1 {not_cov}
  GROUP BY s.doc_id
), wpick{r} AS (
  SELECT doc_id, gain, cost, ratio
  FROM wgains{r} ORDER BY ratio DESC, doc_id LIMIT 1
), wcov{r} AS (
  SELECT DISTINCT sh FROM sh
  WHERE doc_id IN (SELECT doc_id FROM wpick{r})
  {f"UNION SELECT sh FROM wcov{r-1}" if prev_cov else ""}
)"""
        )
        prev_cov = f"wcov{r}"
    sel = "\nUNION ALL ".join(
        f"""SELECT {r} AS pick_round, (SELECT doc_id FROM wpick{r}) AS doc_id,
       (SELECT gain FROM wpick{r}) AS gain,
       (SELECT cost FROM wpick{r}) AS cost,
       (SELECT FLOOR(ratio * 1e6 + 0.5) / 1e6 FROM wpick{r}) AS ratio,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM wcov{r}) AS covered_total"""
        for r in range(1, n_picks + 1)
    )
    parts.append(f"\n{sel}\nORDER BY pick_round")
    return "".join(parts)


@query("q_d5_weighted_coverage_select", oracle=_weighted_coverage_oracle(), group="D")
def weighted_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): WEIGHTED greedy set-cover corpus selection — like
    q_d5_coverage_select, but each document carries a COST (its word
    count, a token-budget proxy) and every round picks the document with
    the best marginal-coverage-per-cost ratio.  This is the classic
    weighted set-cover greedy (ln-n approximation; Chvatal 1979) and the
    shape budget-constrained data curation actually runs: "maximize
    distinct-n-gram coverage per training token spent".

    Output: per pick round, the chosen doc, its marginal gain, cost,
    gain/cost ratio (6dp), and cumulative distinct shingles covered.

    Shape: identical to the unweighted greedy — the (doc, shingle)
    relation builds once; each round is one anti-join against the covered
    set, a count-per-doc agg joined to the (doc, cost) table, and a 1-row
    argmax fetch.  The ratio argmax compares gain * 1.0 / cost, one
    binary64 division of exact integers, so Spark and the oracle order
    identically even without rounding.  At 100 TB the same lazy-greedy
    batching as coverage_select applies (pick top-B per round); the cost
    join is a doc-keyed broadcast either way."""
    d = load_tables(spark, sf_dir)["documents"]
    w = F.split("text", " ")
    base = d.select("doc_id", F.col("text"), F.size(w).cast("bigint").alias("cost"))
    wcol = F.split("text", " ")
    sh = (
        base.select(
            "doc_id",
            F.explode(
                # same descending-sequence guard as coverage_select
                F.when(
                    F.size(wcol) >= 3,
                    F.transform(
                        F.sequence(F.lit(1), F.size(wcol) - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(wcol, i),
                            F.element_at(wcol, i + 1),
                            F.element_at(wcol, i + 2),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("sh"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cost = base.select("doc_id", "cost")
    covered = None
    picks = []
    total = 0
    for r in (1, 2, 3):
        cand = sh if covered is None else sh.join(covered, "sh", "left_anti")
        rows = (
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
            .join(F.broadcast(cost), "doc_id")
            .withColumn("ratio", F.col("gain") * F.lit(1.0) / F.col("cost"))
            .orderBy(F.col("ratio").desc(), "doc_id")
            .limit(1)
            .collect()  # bounded: 1-row greedy-argmax fetch
        )
        if not rows:
            # degenerate round: mirror the oracle's NULL scalar subqueries
            picks.append((r, None, None, None, None, total))
            continue
        top = rows[0]
        total += int(top["gain"])
        ratio6 = math.floor(float(top["ratio"]) * 1e6 + 0.5) / 1e6
        picks.append(
            (r, int(top["doc_id"]), int(top["gain"]), int(top["cost"]), ratio6, total)
        )
        newly = sh.filter(F.col("doc_id") == top["doc_id"]).select("sh")
        covered = (
            newly if covered is None else covered.unionAll(newly)
        ).distinct().localCheckpoint(eager=True)
    return local_df(
        spark,
        picks,
        "pick_round bigint, doc_id bigint, gain bigint, cost bigint, "
        "ratio double, covered_total bigint",
    ).orderBy("pick_round")


_BPE_ENCODE_ORACLE = (
    """
WITH words AS (
  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
  WHERE LENGTH(token) > 0 GROUP BY token
), t0 AS (
  SELECT word, n, i AS pos, SUBSTR(word, i, 1) AS sym
  FROM words, UNNEST(GENERATE_SERIES(1, LENGTH(word))) AS g(i)
)"""
    + "".join(_bpe_round_sql(r) for r in (1, 2, 3))
    + """
SELECT sym, CAST(SUM(n) AS BIGINT) AS cnt
FROM t3 GROUP BY sym
ORDER BY cnt DESC, sym
LIMIT 20
"""
)


@query("q_d4_bpe_encode", oracle=_BPE_ENCODE_ORACLE, group="D")
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): BPE ENCODING — apply ALL THREE learned merges (the
    q_d4_bpe_train loop, round-3 merge included this time) and report the
    corpus symbol distribution after encoding: top-20 symbols by
    occurrence count weighted by word frequency.  This is the APPLY side
    of tokenizer training — the vocabulary a sequence-packing pipeline
    would actually emit token ids against — and the distribution shift
    (merged symbols climbing the top-20) is how tokenizer quality is
    eyeballed in practice.

    Scale shape identical to training: merges run on the distinct-word
    dictionary, and the final symbol histogram is one hash-agg over that
    dictionary (weighted by n — the corpus itself is never re-scanned).
    In production the merge table would broadcast to encode unseen text
    in one mapInPandas pass; here the dictionary IS the corpus vocabulary
    so the join is unnecessary."""
    merges, t = _bpe_merge_rounds(spark, sf_dir, apply_last=True)
    return release_with(
        t.groupBy("sym")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "sym")
        .limit(20),
        t,
    )


CMS_D = 4   # hash rows
CMS_W = 16  # buckets per row = one hex char of md5 (no int conversion
            # needed — the hex digit IS the bucket key in both engines)

_CMS_ORACLE = f"""
WITH toks AS (
  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
), tk AS (
  SELECT token FROM toks WHERE LENGTH(token) > 0
), probes AS (
  SELECT token, s.seed,
         SUBSTR(MD5(CONCAT(s.seed, ':', token)), 1, 1) AS bucket
  FROM tk CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {CMS_D - 1})) AS seed) s
), counters AS (
  SELECT seed, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM probes GROUP BY seed, bucket
), exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count FROM tk GROUP BY token
), tok_probes AS (
  SELECT e.token, s.seed,
         SUBSTR(MD5(CONCAT(s.seed, ':', e.token)), 1, 1) AS bucket
  FROM exact e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {CMS_D - 1})) AS seed) s
), est AS (
  SELECT tp.token, MIN(c.cnt) AS est_count
  FROM tok_probes tp JOIN counters c ON c.seed = tp.seed AND c.bucket = tp.bucket
  GROUP BY tp.token
)
SELECT e.token, e.exact_count, est.est_count,
       est.est_count - e.exact_count AS overcount
FROM exact e JOIN est ON est.token = e.token
ORDER BY e.exact_count DESC, e.token
"""


@query("q_d4_count_min", oracle=_CMS_ORACLE, group="D")
def count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): COUNT-MIN SKETCH — the point-query frequency sketch that
    completes the one-pass profile family (GK quantiles, HLL cardinality,
    Misra-Gries / Space-Saving top-k): d = 4 hash rows x w = 16 buckets of
    counters, estimate(token) = min over rows of its bucket counter
    (Cormode & Muthukrishnan 2005).  CMS never undercounts — the report
    carries est - exact per token, and the test/oracle show the guaranteed
    one-sided error (overcount >= 0 everywhere, growing for light tokens
    that share buckets with heavy ones).

    Everything is expressions + two hash-aggs: occurrence probes explode
    d seeds per token (map-side), counters group on (seed, bucket), and
    the bucket key is simply the FIRST HEX CHAR of md5(seed:token) — one
    deterministic string both engines compute identically, no integer
    conversion.  At 100 TB the counter table is d x w rows regardless of
    corpus size (the whole point of the sketch); estimates are an equi-join
    against that broadcast-sized table, never a rescan."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 0)
    )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("seed")
    bucket = F.substring(
        F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"), F.col("token"))), 1, 1
    ).alias("bucket")
    counters = (
        toks.select("token", seeds)
        .select("token", "seed", bucket)
        .groupBy("seed", "bucket")
        .agg(bcount().alias("cnt"))
    )
    exact = toks.groupBy("token").agg(bcount().alias("exact_count"))
    tok_probes = exact.select("token", seeds).select("token", "seed", bucket)
    est = (
        tok_probes.join(F.broadcast(counters), ["seed", "bucket"])
        .groupBy("token")
        .agg(F.min("cnt").alias("est_count"))
    )
    return (
        exact.join(est, "token")
        .select(
            "token",
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.col("exact_count").desc(), "token")
    )


_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
# rule thresholds (Rae et al. 2021 table A1 shape, bounds tuned to the
# synthetic fixture's ranges so every rule is exercised non-vacuously)
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 30, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MIN_ALPHA = 0.8
GOPHER_MIN_STOPS = 1

# shared signal CTE: per-doc Gopher rule booleans (reused by the funnel)
_GOPHER_FLAGS_SQL = f"""d AS (
  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS w
  FROM documents
), s AS (
  SELECT doc_id, source,
         LEN(w) AS n_words,
         LIST_SUM(LIST_TRANSFORM(w, x -> LENGTH(x))) * 1.0 / LEN(w) AS mean_wl,
         LEN(LIST_FILTER(w, x -> REGEXP_MATCHES(x, '[a-zA-Z]'))) * 1.0 / LEN(w)
           AS frac_alpha,
         LEN(LIST_INTERSECT(LIST_DISTINCT(w),
             [{", ".join("'" + s + "'" for s in _GOPHER_STOPS)}])) AS stop_hits
  FROM d
), r AS (
  SELECT doc_id, source,
         (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
           AS ok_words,
         (mean_wl >= {GOPHER_MIN_MWL} AND mean_wl <= {GOPHER_MAX_MWL}) AS ok_mwl,
         (frac_alpha >= {GOPHER_MIN_ALPHA}) AS ok_alpha,
         (stop_hits >= {GOPHER_MIN_STOPS}) AS ok_stops
  FROM s
)"""

_GOPHER_ORACLE = f"""
WITH {_GOPHER_FLAGS_SQL}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ok_words AND ok_mwl AND ok_alpha AND ok_stops
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       FLOOR(SUM(CASE WHEN ok_words AND ok_mwl AND ok_alpha AND ok_stops
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*) * 1e6 + 0.5) / 1e6
         AS kept_frac,
       CAST(SUM(CASE WHEN ok_words THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_words,
       CAST(SUM(CASE WHEN ok_mwl THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_mwl,
       CAST(SUM(CASE WHEN ok_alpha THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_alpha,
       CAST(SUM(CASE WHEN ok_stops THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_stops
FROM r GROUP BY source ORDER BY source
"""


def _gopher_flag_cols() -> list:
    """Per-document Gopher rule booleans (keep + one per rule), as Catalyst
    expressions over an implicit ``text`` column — shared by
    q_d5_gopher_rules and q_d5_curation_funnel."""
    w = F.split("text", " ")
    n_words = F.size(w)
    sum_wl = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, v: a + v
    )
    mean_wl = sum_wl * F.lit(1.0) / n_words
    frac_alpha = (
        F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]"))) * F.lit(1.0) / n_words
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(w), F.array(*[F.lit(s) for s in _GOPHER_STOPS])
        )
    )
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mwl = (mean_wl >= GOPHER_MIN_MWL) & (mean_wl <= GOPHER_MAX_MWL)
    ok_alpha = frac_alpha >= GOPHER_MIN_ALPHA
    ok_stops = stop_hits >= GOPHER_MIN_STOPS
    keep = ok_words & ok_mwl & ok_alpha & ok_stops
    return [
        keep.alias("keep"),
        ok_words.alias("ok_words"),
        ok_mwl.alias("ok_mwl"),
        ok_alpha.alias("ok_alpha"),
        ok_stops.alias("ok_stops"),
    ]


@query("q_d5_gopher_rules", oracle=_GOPHER_ORACLE, group="D")
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): GOPHER QUALITY-RULE BUNDLE (Rae et al. 2021 §A1.1) —
    the classic heuristic pre-filter every large text pipeline runs before
    model-based scoring: word-count bounds, mean-word-length window,
    minimum fraction of words containing an alphabetic character, and a
    required-stopword floor.  The report aggregates per source: docs
    kept, kept fraction, and per-rule failure counts (the tuning view a
    curation team actually reads; thresholds are constants tuned here to
    the synthetic fixture so each rule exercises both branches).

    Scale shape: every signal is a per-row Catalyst expression over the
    token array (no UDF, no shuffle before the final per-source
    hash-agg with map-side partials) — the whole filter runs inside one
    WholeStageCodegen scan pass, which is why these rules are effectively
    free at 100 TB."""
    d = load_tables(spark, sf_dir)["documents"]
    flags = d.select("source", *_gopher_flag_cols())
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return (
        flags.groupBy("source")
        .agg(
            bcount().alias("n_docs"),
            cnt(F.col("keep")).alias("n_kept"),
            (
                F.floor(
                    F.sum(F.when(F.col("keep"), 1).otherwise(0))
                    * F.lit(1.0)
                    / F.count(F.lit(1))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("kept_frac"),
            cnt(~F.col("ok_words")).alias("n_fail_words"),
            cnt(~F.col("ok_mwl")).alias("n_fail_mwl"),
            cnt(~F.col("ok_alpha")).alias("n_fail_alpha"),
            cnt(~F.col("ok_stops")).alias("n_fail_stops"),
        )
        .orderBy("source")
    )


_TOKEN_ENTROPY_ORACLE = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
), tc AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE LENGTH(tok) > 0 GROUP BY doc_id, tok
), n AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS d
  FROM tc GROUP BY doc_id
), terms AS (
  SELECT tc.doc_id,
         FLOOR((CAST(tc.c AS DOUBLE) / n.n) * LN(CAST(n.n AS DOUBLE) / tc.c)
               * 1e9 + 0.5) / 1e9 AS term
  FROM tc JOIN n USING (doc_id)
)
SELECT t.doc_id, n.n AS n_tokens, n.d AS n_distinct,
       FLOOR(CAST(SUM(CAST(t.term AS DECIMAL(18,9))) AS DOUBLE) * 1e6 + 0.5)
         / 1e6 AS entropy
FROM terms t JOIN n ON n.doc_id = t.doc_id
GROUP BY t.doc_id, n.n, n.d
ORDER BY t.doc_id
"""


@query("q_d4_token_entropy", oracle=_TOKEN_ENTROPY_ORACLE, group="D")
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): PER-DOCUMENT TOKEN-DISTRIBUTION ENTROPY —
    H(doc) = Σ_t (c_t/n)·ln(n/c_t) over the doc's within-document token
    counts, plus token/distinct counts.  Low entropy = repetitive/spammy
    text (keyword stuffing, boilerplate loops), the information-theoretic
    sibling of q_d5_repetition_score that curation stacks threshold on.

    Determinism: each per-token term is quantized to 9dp and summed per
    doc as BIGINT 1e-9 units (integer addition is fully
    order-independent — strictly stronger than the decimal(18,9) sum it
    replaced, and skips a per-token-type decimal128 cast+sum; see the
    q_ext_pagerank parity note: the floor() expression is unchanged, so
    the units are provably identical and (unit sum)/1e9 is the same
    correctly-rounded double as the oracle's CAST(SUM(decimal) AS
    DOUBLE) while the per-doc unit sum stays below 2^53 — entropy tops
    out at ln(n_tokens), i.e. ~1e10 units for any real document).
    Output rounded to 6dp.

    Scale shape: two hash-aggs with map-side partial combine
    ((doc, token) counts, then per-doc roll-up joined back on doc_id —
    a co-partitioned join, both sides already hashed by doc_id).  No
    window, no broadcast, nothing driver-side; entropy of a 100 TB
    corpus is exactly this plan."""
    d = load_tables(spark, sf_dir)["documents"]
    # NOTE (r13 optimization pass): a tc.persist() was tried here and
    # REVERTED — tc feeds both the per-doc rollup and the scoring join,
    # but ReuseExchange already shares its aggregation exchange between
    # the two branches, so the cache only added build cost (paired A/B:
    # CPU 1.28x, wall 1.09x).
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("doc_id", "tok")
        .agg(bcount().alias("c"))
    )
    n = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    terms = tc.join(n, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.floor(
            (F.col("c").cast("double") / F.col("n_tokens"))
            * F.log(F.col("n_tokens").cast("double") / F.col("c"))
            * 1e9
            + 0.5
        ).alias("term_u"),
    )
    return (
        terms.groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(
            (
                F.floor(
                    (F.sum("term_u") / F.lit(1e9)).cast("double") * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("entropy")
        )
        .orderBy("doc_id")
    )


_FUNNEL_ORACLE = f"""
WITH {_GOPHER_FLAGS_SQL}, dup AS (
  SELECT doc_id,
         (doc_id <> MIN(doc_id) OVER (PARTITION BY SUBSTR(text, 1, 24)))
           AS is_dup
  FROM documents
)
SELECT r.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dup.is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_removed,
       CAST(SUM(CASE WHEN NOT dup.is_dup
                      AND NOT (ok_words AND ok_mwl AND ok_alpha AND ok_stops)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_removed,
       CAST(SUM(CASE WHEN NOT dup.is_dup
                      AND (ok_words AND ok_mwl AND ok_alpha AND ok_stops)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       FLOOR(SUM(CASE WHEN NOT dup.is_dup
                       AND (ok_words AND ok_mwl AND ok_alpha AND ok_stops)
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*) * 1e6 + 0.5) / 1e6
         AS survivor_frac
FROM r JOIN dup ON dup.doc_id = r.doc_id
GROUP BY r.source ORDER BY r.source
"""


@query("q_d5_curation_funnel", oracle=_FUNNEL_ORACLE, group="D")
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): CURATION FUNNEL REPORT — the standard two-stage
    pipeline accounting view: stage 1 removes shared-prefix duplicates
    (keep-lowest-id per 24-char prefix group, the q_d2_prefix_dup
    decision), stage 2 applies the Gopher quality gate to the dedup
    survivors; the report shows, per source, how many documents each
    stage removed and what fraction survives end-to-end.  This is the
    attrition table every dataset card publishes (what % died at dedup
    vs quality), and source-level skew in it is how curation teams catch
    a feed gone bad.

    Scale shape: one window over the prefix groups (hash shuffle on a
    24-char key — at 100 TB, on its xxhash64), the Gopher flags computed
    in the same scan pass (pure Catalyst expressions, shared via
    _gopher_flag_cols with q_d5_gopher_rules), then one per-source
    hash-agg with map-side partials.  The two stages share a single
    pass over the corpus."""
    d = load_tables(spark, sf_dir)["documents"]
    wp = Window.partitionBy(F.substring("text", 1, 24))
    flagged = d.select(
        "source",
        (F.col("doc_id") != F.min("doc_id").over(wp)).alias("is_dup"),
        *_gopher_flag_cols(),
    )
    surv = (~F.col("is_dup")) & F.col("keep")
    return (
        flagged.groupBy("source")
        .agg(
            bcount().alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_removed"),
            F.sum(F.when((~F.col("is_dup")) & (~F.col("keep")), 1).otherwise(0))
            .cast("bigint")
            .alias("n_quality_removed"),
            F.sum(F.when(surv, 1).otherwise(0)).cast("bigint").alias("n_survivors"),
            (
                F.floor(
                    F.sum(F.when(surv, 1).otherwise(0))
                    * F.lit(1.0)
                    / F.count(F.lit(1))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("survivor_frac"),
        )
        .orderBy("source")
    )


MIX_T = 2.0           # sampling temperature (w_s ∝ tokens^(1/T); T=2 → sqrt)
MIX_BUDGET = 100_000  # token budget the allocation targets


@query(
    "q_d5_temperature_mix",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS raw_tokens
  FROM documents GROUP BY source
), p AS (
  SELECT source, raw_tokens,
         CAST(FLOOR(SQRT(CAST(raw_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
              AS DECIMAL(18,6)) AS pow6
  FROM per_src
), tot AS (
  SELECT CAST(SUM(pow6) AS DOUBLE) AS z FROM p
)
SELECT p.source, p.raw_tokens,
       FLOOR(CAST(p.pow6 AS DOUBLE) / tot.z * 1e6 + 0.5) / 1e6 AS weight,
       FLOOR(LEAST(1.0e0,
             {MIX_BUDGET} * (CAST(p.pow6 AS DOUBLE) / tot.z) / p.raw_tokens)
             * 1e6 + 0.5) / 1e6 AS alloc_rate,
       ({MIX_BUDGET} * (CAST(p.pow6 AS DOUBLE) / tot.z) / p.raw_tokens
        >= 1.0e0) AS saturated
FROM p CROSS JOIN tot
ORDER BY p.source
""",
    group="D",
)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): TEMPERATURE-BASED MIX ALLOCATION — the multilingual
    sampling rule (mBERT/XLM-R): source weight ∝ raw_tokens^(1/T) with
    T={MIX_T}, which up-samples small sources relative to proportional
    mixing without letting giants drown them.  Given a {MIX_BUDGET}-token
    budget, each source gets alloc_rate = min(1, budget·w/raw) — the
    per-source sampling rate a mixing plan feeds to the sampler
    (q_d5_stratified_sample / q_d5_dsir_resample); saturated sources
    (rate capped at 1) mark where production allocators run another
    waterfilling round to redistribute surplus.

    Determinism: the only cross-row float reduction (Σ tokens^(1/2))
    quantizes each term to 6dp and DECIMAL-sums — order-independent; all
    downstream arithmetic is scalar binary64 on identical inputs.

    Scale shape: one hash-agg over (source, token count) with map-side
    partials; the allocation itself is #sources rows of scalar math with
    a broadcast 1-row normalizer.  Free at any corpus size."""
    d = load_tables(spark, sf_dir)["documents"]
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("raw_tokens")
    )
    p = per_src.select(
        "source",
        "raw_tokens",
        (
            F.floor(F.sqrt(F.col("raw_tokens").cast("double")) * 1e6 + 0.5) / 1e6
        )
        .cast("decimal(18,6)")
        .alias("pow6"),
    )
    tot = p.agg(F.sum("pow6").cast("double").alias("z"))
    w = F.col("pow6").cast("double") / F.col("z")
    rate_raw = F.lit(MIX_BUDGET) * w / F.col("raw_tokens")
    return (
        p.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "raw_tokens",
            (F.floor(w * 1e6 + 0.5) / 1e6).alias("weight"),
            (F.floor(F.least(F.lit(1.0), rate_raw) * 1e6 + 0.5) / 1e6).alias(
                "alloc_rate"
            ),
            (rate_raw >= 1.0).alias("saturated"),
        )
        .orderBy("source")
    )


@query(
    "q_d5_mix_waterfill",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS raw_tokens
  FROM documents GROUP BY source
), p AS (
  SELECT source, raw_tokens,
         CAST(FLOOR(SQRT(CAST(raw_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
              AS DECIMAL(18,6)) AS pow6
  FROM per_src
), tot AS (
  SELECT CAST(SUM(pow6) AS DOUBLE) AS z FROM p
), r1 AS (
  SELECT p.source, p.raw_tokens, p.pow6,
         {MIX_BUDGET} * (CAST(p.pow6 AS DOUBLE) / tot.z) AS want1,
         LEAST(CAST(p.raw_tokens AS DOUBLE),
               {MIX_BUDGET} * (CAST(p.pow6 AS DOUBLE) / tot.z)) AS got1
  FROM p CROSS JOIN tot
), spare AS (
  SELECT CAST({MIX_BUDGET} AS DOUBLE)
           - CAST(SUM(CAST(FLOOR(got1 * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)))
                  AS DOUBLE) AS surplus,
         CAST(SUM(CASE WHEN want1 < raw_tokens THEN pow6
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS z2
  FROM r1
), r2 AS (
  SELECT r1.source, r1.raw_tokens,
         CASE WHEN r1.want1 < r1.raw_tokens AND spare.z2 > 0
              THEN LEAST(CAST(r1.raw_tokens AS DOUBLE),
                         r1.got1 + spare.surplus
                           * (CAST(r1.pow6 AS DOUBLE) / spare.z2))
              ELSE r1.got1 END AS got2,
         (r1.want1 >= r1.raw_tokens) AS saturated_r1
  FROM r1 CROSS JOIN spare
)
SELECT source, raw_tokens,
       FLOOR(got2 * 1e6 + 0.5) / 1e6 AS alloc_tokens,
       FLOOR(got2 / raw_tokens * 1e6 + 0.5) / 1e6 AS rate,
       saturated_r1
FROM r2 ORDER BY source
""",
    group="D",
)
def mix_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): WATERFILLING MIX ALLOCATION — the round-2 that
    q_d5_temperature_mix's `saturated` flag calls for: sources whose
    temperature share exceeds their actual token supply cap at supply,
    and the stranded budget is redistributed over the UNSATURATED sources
    in proportion to their temperature weights (one unrolled waterfill
    round — production allocators loop this to a fixpoint; two rounds
    already recover the vast majority of a {MIX_BUDGET}-token budget).
    Output per source: allocated tokens, realized sampling rate, and
    whether round 1 saturated it.

    Determinism: both cross-row reductions (the global Σ tokens^(1/2)
    normalizer and the round-1 allocation total that defines the surplus)
    quantize terms to 6dp and DECIMAL-sum; everything else is scalar
    binary64 on identical inputs.

    Scale shape: same as temperature_mix — one map-side-combined
    hash-agg over the corpus, then #sources rows of scalar math with two
    broadcast 1-row reducers.  Free at any corpus size."""
    d = load_tables(spark, sf_dir)["documents"]
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("raw_tokens")
    )
    p = per_src.select(
        "source",
        "raw_tokens",
        (
            F.floor(F.sqrt(F.col("raw_tokens").cast("double")) * 1e6 + 0.5) / 1e6
        )
        .cast("decimal(18,6)")
        .alias("pow6"),
    )
    tot = p.agg(F.sum("pow6").cast("double").alias("z"))
    want1 = F.lit(float(MIX_BUDGET)) * (F.col("pow6").cast("double") / F.col("z"))
    r1 = p.crossJoin(F.broadcast(tot)).select(
        "source",
        "raw_tokens",
        "pow6",
        want1.alias("want1"),
        F.least(F.col("raw_tokens").cast("double"), want1).alias("got1"),
    )
    spare = r1.agg(
        (
            F.lit(float(MIX_BUDGET))
            - F.sum(
                (F.floor(F.col("got1") * 1e6 + 0.5) / 1e6).cast("decimal(18,6)")
            ).cast("double")
        ).alias("surplus"),
        F.sum(
            F.when(F.col("want1") < F.col("raw_tokens"), F.col("pow6")).otherwise(
                F.lit(0).cast("decimal(18,6)")
            )
        )
        .cast("double")
        .alias("z2"),
    )
    got2 = F.when(
        (F.col("want1") < F.col("raw_tokens")) & (F.col("z2") > 0),
        F.least(
            F.col("raw_tokens").cast("double"),
            F.col("got1")
            + F.col("surplus") * (F.col("pow6").cast("double") / F.col("z2")),
        ),
    ).otherwise(F.col("got1"))
    return (
        r1.crossJoin(F.broadcast(spare))
        .select(
            "source",
            "raw_tokens",
            (F.floor(got2 * 1e6 + 0.5) / 1e6).alias("alloc_tokens"),
            (F.floor(got2 / F.col("raw_tokens") * 1e6 + 0.5) / 1e6).alias("rate"),
            (F.col("want1") >= F.col("raw_tokens")).alias("saturated_r1"),
        )
        .orderBy("source")
    )


WATERFILL_FIX_ROUNDS = 4  # unrolled rounds; #sources bounds true fixpoint
# budget as a corpus fraction: 0.97 puts the round-1 saturation threshold
# (B/Z)^2 INSIDE the fixture's per-source token range at every SF, so the
# cascade (saturate -> strand -> redistribute -> newly saturate) genuinely
# exercises multiple rounds and the fixpoint keeps a saturated/unsaturated
# mix (a fixed absolute budget was vacuous: > supply at sf0.01 saturated
# everything in round 1)
WATERFILL_BUDGET_FRAC = 0.97


def _waterfill_fix_oracle(k: int = WATERFILL_FIX_ROUNDS) -> str:
    """Unrolled K-round waterfilling oracle (the FPS-oracle pattern): each
    round computes the stranded surplus from the 6dp-quantized allocations,
    redistributes it over still-unsaturated sources by temperature weight,
    and records the round at which each source saturated."""
    parts = [
        f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS raw_tokens
  FROM documents GROUP BY source
), p AS (
  SELECT source, raw_tokens,
         CAST(FLOOR(SQRT(CAST(raw_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
              AS DECIMAL(18,6)) AS pow6
  FROM per_src
), tot AS (
  SELECT CAST(SUM(pow6) AS DOUBLE) AS z,
         CAST(FLOOR({WATERFILL_BUDGET_FRAC}e0 * SUM(raw_tokens)) AS DOUBLE)
           AS bud
  FROM p
), r1 AS (
  SELECT p.source, p.raw_tokens, p.pow6, tot.bud,
         LEAST(CAST(p.raw_tokens AS DOUBLE),
               tot.bud * (CAST(p.pow6 AS DOUBLE) / tot.z)) AS got,
         CASE WHEN tot.bud * (CAST(p.pow6 AS DOUBLE) / tot.z)
                   >= p.raw_tokens
              THEN 1 ELSE 0 END AS sat_round
  FROM p CROSS JOIN tot
)"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""", a{r} AS (
  SELECT MAX(bud)
           - CAST(SUM(CAST(FLOOR(got * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)))
                  AS DOUBLE) AS surplus,
         CAST(SUM(CASE WHEN got < raw_tokens THEN pow6
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS z
  FROM r{r-1}
), g{r} AS (
  SELECT s.source, s.raw_tokens, s.pow6, s.bud, s.sat_round,
         CASE WHEN s.got < s.raw_tokens AND a{r}.z > 0
              THEN LEAST(CAST(s.raw_tokens AS DOUBLE),
                         s.got + a{r}.surplus
                           * (CAST(s.pow6 AS DOUBLE) / a{r}.z))
              ELSE s.got END AS got
  FROM r{r-1} s CROSS JOIN a{r}
), r{r} AS (
  SELECT source, raw_tokens, pow6, bud, got,
         CASE WHEN sat_round = 0 AND got >= raw_tokens
              THEN {r} ELSE sat_round END AS sat_round
  FROM g{r}
)"""
        )
    parts.append(
        f"""
SELECT source, raw_tokens,
       FLOOR(got * 1e6 + 0.5) / 1e6 AS alloc_tokens,
       FLOOR(got / raw_tokens * 1e6 + 0.5) / 1e6 AS rate,
       CAST(sat_round AS INT) AS sat_round
FROM r{k} ORDER BY source"""
    )
    return "".join(parts)


@query("q_d5_waterfill_fixpoint", oracle=_waterfill_fix_oracle(), group="D")
def waterfill_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): WATERFILLING TO FIXPOINT — the multi-round loop
    q_d5_mix_waterfill's docstring promises: each round measures the
    budget stranded by capped (saturated) sources and redistributes it
    over the still-unsaturated ones in proportion to their temperature
    weights; sources newly capped by the redistribution strand budget for
    the NEXT round.  {WATERFILL_FIX_ROUNDS} unrolled rounds (saturation is
    monotone, so #sources bounds the true fixpoint).  The budget is
    {WATERFILL_BUDGET_FRAC} of total supply — calibrated so the round-1
    saturation threshold (B/Z)^2 falls INSIDE the per-source token range
    at every fixture SF: some sources cap in round 1, the redistribution
    caps more in later rounds, and the fixpoint keeps a genuine
    saturated/unsaturated mix (non-vacuous at all three SFs).
    Output per source: final allocated tokens, realized sampling rate, and
    the round at which it saturated (0 = never — rate < 1 at fixpoint).

    Determinism: every cross-row reduction (the temperature normalizer,
    each round's allocation total and unsaturated-weight total) quantizes
    terms to 6dp and DECIMAL-sums; per-round updates are scalar binary64
    on identical inputs both engines.

    Scale shape: ONE map-side-combined hash-agg over the corpus; every
    round after that is #sources rows of scalar math against a broadcast
    1-row reducer — the corpus is never rescanned, so the loop is free at
    any data size (the allocation state is |sources| rows, not data)."""
    d = load_tables(spark, sf_dir)["documents"]
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("raw_tokens")
    )
    p = per_src.select(
        "source",
        "raw_tokens",
        (F.floor(F.sqrt(F.col("raw_tokens").cast("double")) * 1e6 + 0.5) / 1e6)
        .cast("decimal(18,6)")
        .alias("pow6"),
    )
    tot = p.agg(
        F.sum("pow6").cast("double").alias("z"),
        F.floor(F.lit(WATERFILL_BUDGET_FRAC) * F.sum("raw_tokens"))
        .cast("double")
        .alias("bud"),
    )
    want1 = F.col("bud") * (F.col("pow6").cast("double") / F.col("z"))
    cur = (
        p.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "raw_tokens",
            "pow6",
            "bud",
            F.least(F.col("raw_tokens").cast("double"), want1).alias("got"),
            F.when(want1 >= F.col("raw_tokens"), 1).otherwise(0).alias("sat_round"),
        )
        .persist()
    )
    caches = [cur]
    for r in range(2, WATERFILL_FIX_ROUNDS + 1):
        a = cur.agg(
            (
                F.max("bud")
                - F.sum(
                    (F.floor(F.col("got") * 1e6 + 0.5) / 1e6).cast("decimal(18,6)")
                ).cast("double")
            ).alias("surplus"),
            F.sum(
                F.when(F.col("got") < F.col("raw_tokens"), F.col("pow6")).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )
            )
            .cast("double")
            .alias("z"),
        )
        got_new = F.when(
            (F.col("got") < F.col("raw_tokens")) & (F.col("z") > 0),
            F.least(
                F.col("raw_tokens").cast("double"),
                F.col("got")
                + F.col("surplus") * (F.col("pow6").cast("double") / F.col("z")),
            ),
        ).otherwise(F.col("got"))
        nxt = (
            cur.crossJoin(F.broadcast(a))
            .select(
                "source",
                "raw_tokens",
                "pow6",
                "bud",
                got_new.alias("got"),
                "sat_round",
            )
            .select(
                "source",
                "raw_tokens",
                "pow6",
                "bud",
                "got",
                F.when(
                    (F.col("sat_round") == 0) & (F.col("got") >= F.col("raw_tokens")),
                    r,
                )
                .otherwise(F.col("sat_round"))
                .alias("sat_round"),
            )
            .persist()
        )
        caches.append(nxt)
        cur = nxt
    out = cur.select(
        "source",
        "raw_tokens",
        (F.floor(F.col("got") * 1e6 + 0.5) / 1e6).alias("alloc_tokens"),
        (F.floor(F.col("got") / F.col("raw_tokens") * 1e6 + 0.5) / 1e6).alias(
            "rate"
        ),
        F.col("sat_round").cast("int").alias("sat_round"),
    ).orderBy("source")
    return release_with(out, *caches)


_PPL_BUCKETS_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t FROM documents
), bg AS (
  SELECT doc_id, u.w1, u.w2
  FROM toks,
       LATERAL (SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
                                             i -> t[i])) AS w1,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
                                             i -> t[i + 1])) AS w2) u
), cb AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2
), cu AS (
  SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY w1
), v AS (
  SELECT CAST(COUNT(DISTINCT u.tok) AS BIGINT) AS v
  FROM toks, LATERAL (SELECT UNNEST(t) AS tok) u
), nll AS (
  SELECT bg.doc_id,
         FLOOR(-LN(CAST(cb.cb + 1 AS DOUBLE) / (cu.cu + v.v)) * 1e6 + 0.5) / 1e6
           AS nll
  FROM bg JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
          JOIN cu ON bg.w1 = cu.w1
          CROSS JOIN v
), xent AS (
  SELECT doc_id,
         FLOOR(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1e6
               + 0.5) / 1e6 AS xent
  FROM nll GROUP BY doc_id
), scored AS (
  SELECT t.source, t.doc_id, x.xent,
         CAST(LEN(t.t) AS BIGINT) AS n_tokens,
         NTILE(3) OVER (PARTITION BY t.source ORDER BY x.xent, t.doc_id)
           AS tile
  FROM toks t JOIN xent x ON x.doc_id = t.doc_id
)
SELECT source,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       FLOOR(CAST(SUM(CAST(xent AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1e6
             + 0.5) / 1e6 AS mean_xent,
       FLOOR(CAST(SUM(n_tokens) AS DOUBLE)
             / CAST(SUM(SUM(n_tokens)) OVER (PARTITION BY source) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS tok_share
FROM scored
GROUP BY source, tile
ORDER BY source, MIN(tile)
"""


@query("q_d5_ppl_buckets", oracle=_PPL_BUCKETS_ORACLE, group="D")
def ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): CCNet HEAD/MIDDLE/TAIL PERPLEXITY BUCKETS (Wenzek et
    al. 2020) — the mix report CCNet ships with: score every document
    under the corpus bigram LM (q_d5_bigram_lm_ppl's model), split each
    source's documents into perplexity terciles (head = lowest
    cross-entropy = closest to the reference LM), and report per
    (source, bucket) the doc count, mean cross-entropy, and token share.
    Production pipelines keep head+middle and drop or down-weight tail —
    this table is the knob they read before choosing.

    Determinism: per-doc xent is the 6dp-quantized decimal-summed value
    (identical both engines), so the NTILE ordering key (xent, doc_id) is
    bit-identical; tercile boundaries therefore agree exactly.  Bucket
    aggregates decimal-sum the already-quantized xents; token shares are
    exact integer sums divided once.

    Scale shape: the LM trains and scores in the q_d5_bigram_lm_ppl plan
    (one tokenize, model broadcast under AQE); the tercile split is one
    per-source window over doc-level rows (docs, not tokens), and the
    report is a per-(source, tile) hash-agg.  At 100 TB the window
    operates on ~1e9 doc rows — a bounded sort per source partition."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).persist()
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # NOTE (r13 optimization pass): a cb.persist() was tried here (the
    # q_d5_bigram_lm_ppl finding) and REVERTED — with the scoring joins
    # left to AQE, ReuseExchange already shares cb's aggregation exchange
    # between the cu rollup and the scoring join, so the cache only added
    # build cost (paired A/B: CPU 1.12-1.13x, two sittings).
    # NOTE (r14): the per-TYPE NLL precompute (nll_u per trained bigram
    # type on cb⋈cu, one scoring join instead of two) was verified
    # result-identical and A/B'd at the data-bound sf1.0 point: wall
    # 1.65x, CPU 1.17x — REJECTED.  Same mechanism as the trigram family
    # (retrieval.py): the occurrence stream is one pipelined pass over
    # broadcast probes, and the added cb⋈cu model join costs more than
    # the per-occurrence logs it removes.  q_d5_bigram_lm_ppl keeps the
    # pattern only because its model build adds no join.
    cb = bg.groupBy("w1", "w2").agg(bcount().alias("cb"))
    cu = cb.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("cu"))
    v = toks.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").cast("bigint").alias("v")
    )
    nll = (
        bg.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            # BIGINT 1e-6-unit per-doc NLL sum — same exact-parity and
            # per-doc-bound argument as q_d5_bigram_lm_ppl; the per-tile
            # rollup below keeps the DECIMAL path (its sum grows with the
            # corpus and would meet the 2^53 unit-exactness bound)
            "doc_id",
            F.floor(
                -F.log(
                    (F.col("cb") + 1).cast("double") / (F.col("cu") + F.col("v"))
                )
                * 1e6
                + 0.5
            ).alias("nll_u"),
        )
    )
    xent = nll.groupBy("doc_id").agg(
        (
            F.floor(
                (F.sum("nll_u") / F.lit(1e6))
                / F.count(F.lit(1))
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("xent")
    )
    scored = (
        toks.select("doc_id", "source", F.size("t").cast("bigint").alias("n_tokens"))
        .join(xent, "doc_id")
        .withColumn(
            "tile",
            F.ntile(3).over(
                Window.partitionBy("source").orderBy("xent", "doc_id")
            ),
        )
    )
    wsrc = Window.partitionBy("source")
    out = (
        scored.groupBy("source", "tile")
        .agg(
            bcount().alias("n_docs"),
            (
                F.floor(
                    F.sum(F.col("xent").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("mean_xent"),
            F.sum("n_tokens").alias("tok_sum"),
        )
        .withColumn(
            "tok_share",
            F.floor(
                F.col("tok_sum").cast("double")
                / F.sum("tok_sum").over(wsrc).cast("double")
                * 1e6
                + 0.5
            )
            / 1e6,
        )
        .select(
            "source",
            F.when(F.col("tile") == 1, "head")
            .when(F.col("tile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "mean_xent",
            "tok_share",
            "tile",
        )
        .orderBy("source", "tile")
        .drop("tile")
    )
    return release_with(out, toks)


ZIPF_TOP_R = 100  # OLS fit over the top-R tokens per source


_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
), tc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE LENGTH(tok) > 0 GROUP BY source, tok
), ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rk
  FROM tc
), pts AS (
  SELECT source,
         FLOOR(LN(CAST(rk AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS x,
         FLOOR(LN(CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS y,
         FLOOR(LN(CAST(rk AS DOUBLE)) * LN(CAST(rk AS DOUBLE)) * 1e6 + 0.5)
           / 1e6 AS xx,
         FLOOR(LN(CAST(c AS DOUBLE)) * LN(CAST(c AS DOUBLE)) * 1e6 + 0.5)
           / 1e6 AS yy,
         FLOOR(LN(CAST(rk AS DOUBLE)) * LN(CAST(c AS DOUBLE)) * 1e6 + 0.5)
           / 1e6 AS xy
  FROM ranked WHERE rk <= {ZIPF_TOP_R}
), sums AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(xx AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(yy AS DECIMAL(18,6))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(xy AS DECIMAL(18,6))) AS DOUBLE) AS sxy
  FROM pts GROUP BY source
)
SELECT source, n AS n_terms,
       FLOOR((sxy - sx * sy / n) / (sxx - sx * sx / n) * 1e6 + 0.5) / 1e6
         AS zipf_slope,
       FLOOR((sxy - sx * sy / n) * (sxy - sx * sy / n)
             / ((sxx - sx * sx / n) * (syy - sy * sy / n)) * 1e6 + 0.5) / 1e6
         AS r2
FROM sums ORDER BY source
"""


@query("q_d4_zipf_slope", oracle=_ZIPF_ORACLE, group="D")
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): ZIPF-LAW FIT PER SOURCE — OLS slope of ln(frequency)
    against ln(rank) over each source's top-{ZIPF_TOP_R} tokens, plus the
    fit's R².  Natural language sits near slope -1 (Zipf 1949);
    machine-generated, templated, or scrambled text bends the curve — a
    slope far from -1 or a poor fit is the classic cheap tripwire for
    synthetic/boilerplate contamination, run per source so the offending
    feed is named directly.

    Determinism: ranks come from a (count DESC, token) row_number —
    unique ordering; every OLS term (x, y, xx, yy, xy) is 6dp-quantized
    then DECIMAL-summed, so the regression inputs are bit-identical both
    engines and accumulation-order-free; the closed-form slope/R² is
    scalar binary64 on those sums.

    Scale shape: one tokenize + per-(source, token) hash-agg (map-side
    partials), a per-source top-R window (WindowGroupLimit prunes to R
    rows per source before the sort completes), then R-row-per-source
    sums.  The regression never sees the corpus — only R×|sources| rows."""
    d = load_tables(spark, sf_dir)["documents"]
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("source", "tok")
        .agg(bcount().alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "tok")
    lnr = F.log(F.col("rk").cast("double"))
    lnc = F.log(F.col("c").cast("double"))
    q6 = lambda col: F.floor(col * 1e6 + 0.5) / 1e6  # noqa: E731
    pts = (
        tc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ZIPF_TOP_R)
        .select(
            "source",
            q6(lnr).alias("x"),
            q6(lnc).alias("y"),
            q6(lnr * lnr).alias("xx"),
            q6(lnc * lnc).alias("yy"),
            q6(lnr * lnc).alias("xy"),
        )
    )
    dsum6 = lambda c: F.sum(F.col(c).cast("decimal(18,6)")).cast("double")  # noqa: E731
    sums = pts.groupBy("source").agg(
        bcount().alias("n"),
        dsum6("x").alias("sx"),
        dsum6("y").alias("sy"),
        dsum6("xx").alias("sxx"),
        dsum6("yy").alias("syy"),
        dsum6("xy").alias("sxy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vary = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return sums.select(
        "source",
        F.col("n").alias("n_terms"),
        (F.floor(cov / varx * 1e6 + 0.5) / 1e6).alias("zipf_slope"),
        (F.floor(cov * cov / (varx * vary) * 1e6 + 0.5) / 1e6).alias("r2"),
    ).orderBy("source")


MIX_EPOCH_CAP = 4.0        # repetition ceiling (Muennighoff et al. 2023:
                           # value per token decays sharply past ~4 epochs)
MIX_EPOCH_BUDGET_X = 4.0   # budget = 4x total supply: forces repetition and
                           # puts the cap threshold (T/Z)^2 inside the
                           # per-source range at every fixture SF, so capped
                           # and uncapped sources BOTH occur (non-vacuous)


@query(
    "q_d5_mix_epochs",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS raw_tokens
  FROM documents GROUP BY source
), p AS (
  SELECT source, raw_tokens,
         CAST(FLOOR(SQRT(CAST(raw_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
              AS DECIMAL(18,6)) AS pow6
  FROM per_src
), tot AS (
  SELECT CAST(SUM(pow6) AS DOUBLE) AS z,
         CAST(FLOOR({MIX_EPOCH_BUDGET_X}e0 * SUM(raw_tokens)) AS DOUBLE) AS bud
  FROM p
), w AS (
  SELECT p.source, p.raw_tokens,
         tot.bud * (CAST(p.pow6 AS DOUBLE) / tot.z) / p.raw_tokens AS want_ep
  FROM p CROSS JOIN tot
)
SELECT source, raw_tokens,
       FLOOR(want_ep * 1e6 + 0.5) / 1e6 AS want_epochs,
       FLOOR(LEAST({MIX_EPOCH_CAP}e0, want_ep) * 1e6 + 0.5) / 1e6 AS epochs,
       FLOOR(LEAST({MIX_EPOCH_CAP}e0, want_ep) * raw_tokens * 1e6 + 0.5) / 1e6
         AS alloc_tokens,
       (want_ep >= {MIX_EPOCH_CAP}e0) AS capped
FROM w ORDER BY source
""",
    group="D",
)
def mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): DATA-CONSTRAINED REPETITION ALLOCATION (Muennighoff et
    al. 2023, "Scaling Data-Constrained Language Models") — when the token
    budget EXCEEDS unique supply (budget = {MIX_EPOCH_BUDGET_X}x supply
    here), the temperature mix's demand translates into EPOCHS of
    repetition per source; value per repeated token decays sharply past
    ~{MIX_EPOCH_CAP} epochs, so demand is capped there and the table
    reports each source's demanded vs granted epochs and the cap flag —
    the plan a data-constrained pretraining run reads to decide where
    repetition is spent and which sources need fresh collection.

    Determinism: the single cross-row reduction (temperature normalizer)
    is the 6dp-quantize + DECIMAL-sum discipline; per-source epoch math
    is scalar binary64 on identical inputs.

    Scale shape: identical to q_d5_temperature_mix — one map-side-combined
    hash-agg over the corpus, then #sources rows of scalar math against a
    broadcast 1-row normalizer.  Free at any corpus size."""
    d = load_tables(spark, sf_dir)["documents"]
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("raw_tokens")
    )
    p = per_src.select(
        "source",
        "raw_tokens",
        (F.floor(F.sqrt(F.col("raw_tokens").cast("double")) * 1e6 + 0.5) / 1e6)
        .cast("decimal(18,6)")
        .alias("pow6"),
    )
    tot = p.agg(
        F.sum("pow6").cast("double").alias("z"),
        F.floor(F.lit(MIX_EPOCH_BUDGET_X) * F.sum("raw_tokens"))
        .cast("double")
        .alias("bud"),
    )
    want_ep = (
        F.col("bud")
        * (F.col("pow6").cast("double") / F.col("z"))
        / F.col("raw_tokens")
    )
    granted = F.least(F.lit(MIX_EPOCH_CAP), want_ep)
    return (
        p.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "raw_tokens",
            (F.floor(want_ep * 1e6 + 0.5) / 1e6).alias("want_epochs"),
            (F.floor(granted * 1e6 + 0.5) / 1e6).alias("epochs"),
            (F.floor(granted * F.col("raw_tokens") * 1e6 + 0.5) / 1e6).alias(
                "alloc_tokens"
            ),
            (want_ep >= MIX_EPOCH_CAP).alias("capped"),
        )
        .orderBy("source")
    )


_FERTILITY_ORACLE = (
    """
WITH words AS (
  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
  WHERE LENGTH(token) > 0 GROUP BY token
), t0 AS (
  SELECT word, n, i AS pos, SUBSTR(word, i, 1) AS sym
  FROM words, UNNEST(GENERATE_SERIES(1, LENGTH(word))) AS g(i)
)"""
    + "".join(_bpe_round_sql(r) for r in (1, 2, 3))
    + """
, pieces AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces FROM t3 GROUP BY word
), lw AS (
  SELECT lang, token AS word, CAST(COUNT(*) AS BIGINT) AS cw
  FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
  WHERE LENGTH(token) > 0 GROUP BY lang, token
)
SELECT lw.lang,
       CAST(SUM(lw.cw) AS BIGINT) AS n_words,
       CAST(SUM(lw.cw * p.n_pieces) AS BIGINT) AS n_tokens,
       FLOOR(CAST(SUM(lw.cw * p.n_pieces) AS DOUBLE) / SUM(lw.cw) * 1e6 + 0.5)
         / 1e6 AS fertility,
       FLOOR(CAST(SUM(lw.cw * LENGTH(lw.word)) AS DOUBLE)
             / SUM(lw.cw * p.n_pieces) * 1e6 + 0.5) / 1e6 AS chars_per_token
FROM lw JOIN pieces p ON p.word = lw.word
GROUP BY lw.lang ORDER BY lw.lang
"""
)


@query("q_d4_tokenizer_fertility", oracle=_FERTILITY_ORACLE, group="D")
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (cont.): TOKENIZER FERTILITY PER LANGUAGE — subword pieces per
    word under the trained BPE merges (q_d4_bpe_train's loop, all merges
    applied), reported per language with the chars-per-token
    complement.  Fertility is THE tokenizer-equity metric multilingual
    pipelines audit (XLM-R/BLOOM): a language whose fertility is far
    above the corpus norm pays more sequence length per sentence, skewing
    both compute cost and effective context — this table is what decides
    whether the vocabulary needs rebalancing before a production run.

    Determinism: all three aggregates are exact integer sums (word
    counts x piece counts x lengths); the two ratios divide once and
    quantize 6dp — no cross-row float accumulation anywhere.

    Scale shape: merges run on the distinct-word dictionary
    (q_d4_bpe_train's shape); fertility needs ONE extra per-(lang, word)
    hash-agg over the corpus and a dictionary-sized join (AQE broadcasts
    the piece table at any realistic vocab size) — the corpus is touched
    once beyond training."""
    merges, t = _bpe_merge_rounds(spark, sf_dir, apply_last=True)
    pieces = t.groupBy("word").agg(bcount().alias("n_pieces"))
    d = load_tables(spark, sf_dir)["documents"]
    lw = (
        d.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang", "word")
        .agg(bcount().alias("cw"))
    )
    out = (
        lw.join(pieces, "word")
        .groupBy("lang")
        .agg(
            F.sum("cw").cast("bigint").alias("n_words"),
            F.sum(F.col("cw") * F.col("n_pieces")).cast("bigint").alias("n_tokens"),
            (
                F.floor(
                    F.sum(F.col("cw") * F.col("n_pieces")).cast("double")
                    / F.sum("cw")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("fertility"),
            (
                F.floor(
                    F.sum(F.col("cw") * F.length("word")).cast("double")
                    / F.sum(F.col("cw") * F.col("n_pieces"))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )
    return release_with(out, t)

BUDGET_NUM, BUDGET_DEN = 3, 4  # global budget = 3/4 of the corpus


def budget_quota(d) -> "tuple[DataFrame, DataFrame]":
    """The exact integer waterfill shared by q_d5_budget_sample and its
    streaming twin (q_c20): per-language quota = min(n_lang, L) where L is
    the largest integer with Σ min(n_l, L) ≤ budget, found in closed form
    from the |languages|-sized supply breakpoints — pure integer arithmetic
    on counts, bit-identical across engines and execution modes.  Returns
    ``(quota, cnt)`` where quota is (lang, quota) and cnt is the PERSISTED
    per-language count table: the caller must register cnt's release on its
    FINAL returned DataFrame (ADVICE r13: registering it on the
    intermediate quota frame let the weakref finalizer unpersist cnt before
    any action ran, GC-timing-dependent, silently negating the 3x reuse).
    Every frame here is |languages|-sized, so the whole computation
    broadcasts at any corpus scale."""
    # cnt persists (r13 optimization): it feeds the breakpoint levels, the
    # breakpoint cross-join AND the final quota projection — without the
    # mark the per-language corpus count agg executed three times per call.
    cnt = d.groupBy("lang").agg(bcount().alias("n")).persist()
    budget = d.agg(
        F.expr(f"(count(1) * {BUDGET_NUM}) DIV {BUDGET_DEN}").alias("budget")
    )
    c1 = cnt.select(F.col("n").alias("lev")).distinct()
    bp = (
        c1.crossJoin(cnt.select(F.col("n").alias("n2")))
        .groupBy("lev")
        .agg(
            F.sum(F.least(F.col("n2"), F.col("lev"))).alias("t"),
            F.sum(F.when(F.col("n2") > F.col("lev"), 1).otherwise(0)).alias(
                "n_above"
            ),
        )
        .unionAll(
            cnt.agg(
                F.lit(0).cast("bigint").alias("lev"),
                F.lit(0).cast("bigint").alias("t"),
                F.count(F.lit(1)).alias("n_above"),
            )
        )
    )
    base = (
        bp.crossJoin(F.broadcast(budget))
        .filter(F.col("t") <= F.col("budget"))
        .orderBy(F.col("lev").desc())
        .limit(1)
    )
    lvl = base.select(
        (
            F.col("lev")
            + F.when(
                F.col("n_above") > 0,
                F.expr("(budget - t) DIV n_above"),
            ).otherwise(F.lit(0))
        ).alias("level")
    )
    quota = cnt.crossJoin(F.broadcast(lvl)).select(
        "lang", F.least(F.col("n"), F.col("level")).alias("quota")
    )
    return quota, cnt

_BUDGET_SAMPLE_ORACLE = f"""
WITH d AS (SELECT doc_id, lang, n_chars FROM documents
), cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY lang
), tot AS (
  SELECT (SELECT COUNT(*) FROM d) * {BUDGET_NUM} // {BUDGET_DEN} AS budget
), bp AS (
  SELECT c1.n AS lev, SUM(LEAST(c2.n, c1.n)) AS t,
         SUM(CASE WHEN c2.n > c1.n THEN 1 ELSE 0 END) AS n_above
  FROM (SELECT DISTINCT n FROM cnt) c1 CROSS JOIN cnt c2 GROUP BY c1.n
  UNION ALL
  SELECT 0, 0, (SELECT COUNT(*) FROM cnt)
), base AS (
  SELECT lev, t, n_above FROM bp, tot WHERE t <= budget
  ORDER BY lev DESC LIMIT 1
), lvl AS (
  SELECT lev + CASE WHEN n_above > 0 THEN (budget - t) // n_above ELSE 0 END
           AS level
  FROM base, tot
), quota AS (
  SELECT lang, LEAST(n, (SELECT level FROM lvl)) AS q FROM cnt
), pri AS (
  SELECT doc_id, lang,
         CAST(n_chars AS DOUBLE) * 16777216.0 / ({_COIN_SQL} + 1) AS priority
  FROM d
), ranked AS (
  SELECT doc_id, lang, priority,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY priority DESC, doc_id) AS rk
  FROM pri
)
SELECT r.lang, CAST(q.q AS BIGINT) AS quota, CAST(r.rk AS BIGINT) AS rk,
       r.doc_id, FLOOR(r.priority * 1e6 + 0.5) / 1e6 AS priority
FROM ranked r JOIN quota q ON q.lang = r.lang
WHERE r.rk <= q.q
ORDER BY r.lang, r.rk
"""


@query("q_d5_budget_sample", oracle=_BUDGET_SAMPLE_ORACLE, group="D")
def budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (cont.): BUDGET-CONSTRAINED MIXTURE SAMPLING — the composition a
    data-mix pipeline actually runs: a global document budget
    ({BUDGET_NUM}/{BUDGET_DEN} of the corpus) is allocated across LANGUAGES
    by an EXACT integer waterfill (level L = the largest integer with
    Σ min(n_l, L) ≤ budget — found in closed form from the supply
    breakpoints, no fixpoint loop, no fixture-calibrated constants), and
    each language then fills its quota min(n_l, L) with its
    highest-PRIORITY documents (the deterministic Duffield-Lund-Thorup
    weighted sample of q_d5_priority_sample, so long documents win
    proportionally).  Small languages contribute everything; the dominant
    one is capped at the common level — the fair-share allocation that
    stops English from monopolizing a multilingual training mix, with a
    reproducible, seed-keyed document selection inside every quota.  On
    the fixture both regimes fire at every SF (en capped, the other four
    saturated — e.g. level 93 vs en's 218 supply at sf0.01), which is what makes
    the gauge non-vacuous.

    Determinism: the waterfill is pure integer arithmetic on counts (both
    engines bit-identical); the priority is one IEEE division of exact
    integers; ranks tiebreak on doc_id.  Scale shape: counts + breakpoints
    are |languages|-sized (broadcast), the priority is a map-side scan
    expression, and the per-language quota filter rides the same
    window-group-limit shape as the top-k queries — one shuffle by lang,
    nothing global."""
    d = load_tables(spark, sf_dir)["documents"]
    quota, cnt = budget_quota(d)
    w = Window.partitionBy("lang").orderBy(F.col("priority").desc(), "doc_id")
    ranked = (
        d.select("doc_id", "lang", priority_col().alias("priority"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
    )
    return release_with(
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .select(
            "lang",
            F.col("quota").cast("bigint").alias("quota"),
            "rk",
            "doc_id",
            (F.floor(F.col("priority") * 1e6 + 0.5) / 1e6).alias("priority"),
        )
        .orderBy("lang", "rk"),
        cnt,
    )
