"""Text-analysis workloads over the ``documents`` table.

The training-data-pipeline text surface (extension per SURVEY.md section
7.2.5; the reference computes nothing text-analytic -- its documents are
opaque JSON payloads): token statistics, an n-gram-profile language
identifier, a quality filter, and a rolling-hash document fingerprint.

Everything is a JVM-side expression (split / regexp / higher-order
functions) inside whole-stage codegen -- no Python UDFs.  Ratios are
compared with pure integer arithmetic (``a*10 >= b*4`` instead of
``a/b >= 0.4``) and averages are emitted as integer-scaled ``DIV``
results, so every output column is exact across engines.

Scale notes (100 TB posture):
 * all four queries are scan -> project -> single hash aggregate: one
   shuffle each, on low-cardinality keys (lang, source) or on doc_id
   (fingerprint: no shuffle at all -- pure map)
 * the shuffled rows carry only ids + small ints, never the text body
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_PRIME, h32, h32_sql
from ..functions.text import (
    BPE_TOKEN_RE,
    LANG_PROFILES,
    lang_scores,
    predicted_lang,
    predicted_lang_sql,
    tokens_expr,
    tokens_sql,
)
from .base import load_tables, register

# ---------------------------------------------------------------------------
# Token statistics
# ---------------------------------------------------------------------------


@register(
    "text_token_stats_by_lang",
    oracle=f"""
    WITH t AS (
        SELECT lang,
               len({tokens_sql('text')})                               AS n_tok,
               len(list_distinct({tokens_sql('text')}))                AS n_distinct,
               len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))         AS n_bpe
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)        AS n_docs,
           CAST(SUM(n_tok) AS BIGINT)      AS sum_tokens,
           CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct_tokens,
           CAST(SUM(n_bpe) AS BIGINT)      AS sum_bpe_tokens,
           CAST((SUM(n_tok) * 100) // COUNT(*) AS BIGINT) AS avg_tokens_x100
    FROM t GROUP BY lang ORDER BY lang
    """,
    category="text",
    description="per-language token counts: whitespace tokens, distinct "
    "tokens, BPE-ish regex tokens; integer-scaled average",
)
def text_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    t = tokens_expr("text")
    stats = docs.select(
        "lang",
        F.size(t).alias("n_tok"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)).alias("n_bpe"),
    )
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.sum("n_distinct").alias("sum_distinct_tokens"),
            F.sum("n_bpe").alias("sum_bpe_tokens"),
            F.expr("(SUM(n_tok) * 100) DIV COUNT(*)").alias("avg_tokens_x100"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Language identification (function-word profiles)
# ---------------------------------------------------------------------------


def _score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return (
        f"len(list_filter({tokens_sql('text')}, x -> list_contains([{words}], x)))"
    )


@register(
    "text_lang_id_confusion",
    oracle=f"""
    WITH p AS (
        SELECT lang AS true_lang,
               {predicted_lang_sql({lang: _score_sql(lang) for lang in LANG_PROFILES})}
                   AS predicted_lang
        FROM documents
    )
    SELECT true_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM p GROUP BY true_lang, predicted_lang ORDER BY true_lang, predicted_lang
    """,
    category="text",
    description="language-ID confusion matrix: function-word-profile "
    "argmax (deterministic CASE chain) vs the labeled lang",
)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pred = predicted_lang(lang_scores("text"))
    return (
        docs.select(F.col("lang").alias("true_lang"), pred.alias("predicted_lang"))
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Quality filter
# ---------------------------------------------------------------------------

# Quality heuristic (all-integer comparisons):
#   enough content:     n_tok >= 20
#   lexical diversity:  n_distinct * 10 >= n_tok * 3   (distinct ratio >= 0.3)
#   low symbol noise:   n_punct * 20 <= n_tok          (punct per token <= 0.05)
_PUNCT_RE = "[^a-zA-Z0-9 ]"


def _quality_flag(n_tok: Column, n_distinct: Column, n_punct: Column) -> Column:
    return (
        (n_tok >= 20)
        & (n_distinct * 10 >= n_tok * 3)
        & (n_punct * 20 <= n_tok)
    ).cast("int")


@register(
    "text_quality_by_source",
    oracle=f"""
    WITH t AS (
        SELECT source,
               len({tokens_sql('text')})                        AS n_tok,
               len(list_distinct({tokens_sql('text')}))         AS n_distinct,
               len(regexp_extract_all(text, '{_PUNCT_RE}'))     AS n_punct
        FROM documents
    ), q AS (
        SELECT source,
               CASE WHEN n_tok >= 20
                     AND n_distinct * 10 >= n_tok * 3
                     AND n_punct * 20 <= n_tok
                    THEN 1 ELSE 0 END AS is_quality
        FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)         AS n_docs,
           CAST(SUM(is_quality) AS BIGINT)  AS n_quality,
           CAST((SUM(is_quality) * 10000) // COUNT(*) AS BIGINT) AS quality_bp
    FROM q GROUP BY source ORDER BY source
    """,
    category="text",
    description="quality scoring: length + lexical-diversity + punctuation "
    "heuristics as pure integer comparisons; per-source pass rates",
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    t = tokens_expr("text")
    feats = docs.select(
        "source",
        F.size(t).alias("n_tok"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        F.size(F.regexp_extract_all("text", F.lit(_PUNCT_RE), 0)).alias("n_punct"),
    )
    q = feats.select(
        "source",
        _quality_flag(F.col("n_tok"), F.col("n_distinct"), F.col("n_punct")).alias(
            "is_quality"
        ),
    )
    return (
        q.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_quality").alias("n_quality"),
            F.expr("(SUM(is_quality) * 10000) DIV COUNT(*)").alias("quality_bp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (rolling polynomial hash)
# ---------------------------------------------------------------------------

# Karp-Rabin-style fold over per-token 32-bit hashes:
#   fp = fold(tokens, 0, (acc, tok) -> (acc * B + h32(tok)) % P)
# B < 2^20 and acc < P < 2^33 keep acc*B + h inside int64 in both engines.
_FP_BASE = 1_000_003
_FP_MOD = MINHASH_PRIME


@register(
    "text_doc_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_transform({tokens_sql('text')}, x -> {h32_sql('x')}) AS hs
        FROM documents
    )
    SELECT doc_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                (acc, x) -> (acc * {_FP_BASE} + x) % {_FP_MOD}) AS BIGINT)
               AS fingerprint
    FROM t ORDER BY doc_id
    """,
    category="text",
    description="order-sensitive rolling polynomial hash over token hashes "
    "(Karp-Rabin fold) -- a content fingerprint that, unlike a token-set "
    "hash, distinguishes permuted documents",
)
def text_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    fp = F.aggregate(
        F.transform(tokens_expr("text"), lambda x: h32(x)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(_FP_BASE) + x) % F.lit(_FP_MOD),
    )
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic sampling / dataset splits
# ---------------------------------------------------------------------------

# Training-data pipelines need REPRODUCIBLE sampling: membership must be
# a pure function of the record, not of partitioning or RNG state, so a
# rerun (or a different cluster) samples the same rows. h32(doc_id) mod N
# gives exactly that, cross-engine: the same rows sample on Spark and on
# the DuckDB oracle.
SPLIT_MOD = 10  # 80/10/10 split by hash residue


@register(
    "text_train_val_test_split",
    oracle=f"""
    WITH s AS (
        SELECT lang,
               {h32_sql("CAST(doc_id AS VARCHAR)")} % {SPLIT_MOD} AS r
        FROM documents
    )
    SELECT lang,
           CASE WHEN r < 8 THEN 'train' WHEN r = 8 THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1, 2 ORDER BY lang, split
    """,
    category="text",
    description=f"deterministic train/val/test split: h32(doc_id) mod "
    f"{SPLIT_MOD} residue -> 80/10/10; membership is a pure function of "
    "the record, so reruns and other engines sample identically",
)
def text_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    r = h32(F.col("doc_id").cast("string")) % SPLIT_MOD
    split = (
        F.when(r < 8, "train").when(r == 8, "val").otherwise("test").alias("split")
    )
    return (
        docs.select("lang", split)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln((SELECT COUNT(*) FROM documents) * 1.0 / df.df), 6)
                   AS tfidf
        FROM tf JOIN df ON tf.term = df.term
    ), r AS (
        SELECT doc_id, term, tfidf,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        FROM scored
    )
    SELECT doc_id, term, rank, tfidf FROM r
    WHERE rank <= {TFIDF_TOP_K} ORDER BY doc_id, rank
    """,
    category="text",
    description=f"TF-IDF top-{TFIDF_TOP_K} terms per document: tf from an "
    "exploded token aggregate, idf from a per-term count of it broadcast "
    "back on the term (bounded by vocabulary), rounded so ln() ulp noise "
    "is buried",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the corpus is tokenized ONCE -- df(term) is a count
    over the tf relation (one row per (doc, term), so rows-per-term =
    distinct docs containing the term), not a second explode + distinct
    aggregate.  The per-term count combines map-side, so a frequent
    term ships one row per task (a window partitioned by term sent all
    its rows to one task), and its vocabulary-sized result is broadcast
    back onto tf.  One scan; the exploded token stream is shuffled
    exactly once."""
    docs = load_tables(spark, sf_dir)["documents"]
    # corpus size is quantizer-style metadata: one count, inlined as a
    # literal (the oracle's scalar subquery)
    n_docs = docs.count()
    from pyspark.sql.window import Window

    tok = docs.select("doc_id", F.explode(tokens_expr("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(doc_freq), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "rank", "tfidf")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Scalar pandas_udf template (the Arrow-vectorized Python scalar path)
# ---------------------------------------------------------------------------


@register(
    "pandas_udf_bpe_tokens",
    oracle=f"""
    WITH c AS (
        SELECT lang,
               len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)  AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_total,
           CAST(MAX(n_bpe) AS BIGINT) AS bpe_max
    FROM c GROUP BY lang ORDER BY lang
    """,
    category="text",
    description="scalar @pandas_udf template: BPE-ish token counting via "
    "vectorized pandas str.count over Arrow batches -- completes the "
    "Python taxonomy (mapInPandas / applyInPandas / cogrouped / UDTF / "
    "scalar); the JVM twin (regexp_extract_all, functions/text.py::"
    "bpe_token_count) is the production default, ~10x faster",
)
def pandas_udf_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    # The regex uses only constructs with identical semantics in Python
    # re, Java regex, and RE2, so all three paths count the same tokens.
    # no type annotations: `from __future__ import annotations` turns
    # them into strings, which pandas_udf's signature inference rejects
    @pandas_udf("long")
    def n_bpe_tokens(s):
        return s.str.count(BPE_TOKEN_RE)

    docs = load_tables(spark, sf_dir)["documents"]
    c = docs.select("lang", n_bpe_tokens("text").alias("n_bpe"))
    return (
        c.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("bpe_total"),
            F.max("n_bpe").alias("bpe_max"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas template (per-group model/normalization)
# ---------------------------------------------------------------------------


@register(
    "pandas_grouped_minmax_norm",
    oracle="""
    WITH b AS (
        SELECT lang, doc_id, n_chars,
               MIN(n_chars) OVER (PARTITION BY lang) AS mn,
               MAX(n_chars) OVER (PARTITION BY lang) AS mx
        FROM documents
    ),
    p AS (
        SELECT lang,
               CASE WHEN mx = mn THEN 0
                    ELSE CAST(FLOOR((n_chars - mn) * 1000.0 / (mx - mn)) AS BIGINT)
               END AS permille
        FROM b
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(permille) AS BIGINT) AS sum_permille,
           CAST(MIN(permille) AS BIGINT) AS min_permille,
           CAST(MAX(permille) AS BIGINT) AS max_permille
    FROM p GROUP BY lang ORDER BY lang
    """,
    category="text",
    description="grouped-map applyInPandas template: per-lang min-max "
    "normalization of document length to integer permille, computed "
    "whole-group-in-pandas (the per-group fitted-model shape: scaler / "
    "per-group regression / groupwise imputation) -- completes the "
    "Python taxonomy next to mapInPandas / cogrouped / scalar / UDTF; "
    "the JVM twin is a window min-max, used by the oracle",
)
def pandas_grouped_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: applyInPandas shuffles each group to ONE executor and
    materializes it in pandas -- correct here because groups are
    language-sized shards of metadata columns (doc_id, n_chars), not
    payloads; a skewed mega-group would need salting or the window-twin
    plan.  Arithmetic is float64 ops identical in numpy and the
    engines' doubles ((x-mn)*1000.0/(mx-mn), floor), so the integer
    permille is bit-identical -- the template rule for any grouped-map:
    emit integers derived from IEEE-deterministic expressions, never raw
    floats."""
    docs = load_tables(spark, sf_dir)["documents"].select(
        "lang", "doc_id", "n_chars"
    )

    def norm(pdf):
        import numpy as np

        x = pdf["n_chars"].to_numpy(dtype="float64")
        mn, mx = x.min(), x.max()
        if mx == mn:
            permille = np.zeros(len(x), dtype="int64")
        else:
            permille = np.floor((x - mn) * 1000.0 / (mx - mn)).astype("int64")
        out = pdf[["lang"]].copy()
        out["permille"] = permille
        return out

    p = docs.groupBy("lang").applyInPandas(norm, schema="lang string, permille long")
    return (
        p.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("permille").alias("sum_permille"),
            F.min("permille").alias("min_permille"),
            F.max("permille").alias("max_permille"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Vocabulary construction + out-of-vocabulary coverage
# ---------------------------------------------------------------------------

# The tokenizer-prep primitive: fix a vocabulary of the top-V tokens by
# global frequency, then measure per-language coverage -- what fraction
# of token OCCURRENCES the vocab captures and how many distinct TYPES
# fall outside it.  The OOV rate is the number a vocab/tokenizer budget
# decision is made on; per-language breakdown catches a vocab that
# serves the head language and starves the tail.
VOCAB_SIZE = 256


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest({tokens_sql('text')}) AS token FROM documents
    ), cnt AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), vocab AS (
        SELECT token FROM (
            SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn
            FROM cnt
        ) WHERE rn <= {VOCAB_SIZE}
    ), marked AS (
        SELECT t.lang, t.token,
               CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END AS in_vocab
        FROM tok t LEFT JOIN vocab v ON t.token = v.token
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                 AS n_occurrences,
           CAST(SUM(in_vocab) AS BIGINT)            AS covered_occurrences,
           CAST(COUNT(DISTINCT token) AS BIGINT)    AS n_types,
           CAST(COUNT(DISTINCT CASE WHEN in_vocab = 0 THEN token END)
                AS BIGINT)                          AS oov_types,
           CAST(FLOOR(10000.0 * (COUNT(*) - SUM(in_vocab)) / COUNT(*))
                AS BIGINT)                          AS oov_bp
    FROM marked GROUP BY lang ORDER BY lang
    """,
    category="text",
    description=f"vocabulary coverage: top-{VOCAB_SIZE} global-frequency "
    "vocab (deterministic count-then-token tie-break), per-language "
    "occurrence coverage, OOV type counts, and OOV basis points -- the "
    "tokenizer-budget decision numbers",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the corpus is tokenized ONCE -- occurrences are
    pre-aggregated to one (lang, token, occ) row per type before
    anything else, and BOTH branches (the global token-count feeding the
    top-V vocab, and the marked roll-up) hang off that same aggregate,
    so its exchange is planned once and reused (ReusedExchange).  The
    vocab is a TakeOrdered partial top-k (never a global sort of the
    vocabulary), membership is a broadcast left join of the V-row vocab
    against the TYPE relation (map-side, no shuffle of occurrences), and
    the distinct-type counts are plain counts over (lang, token) rows --
    no countDistinct expansion of the occurrence stream.  At 100 TB the
    only wide exchange is the (lang, token) groupBy, which map-side
    combines."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select("lang", F.explode(tokens_expr("text")).alias("token"))
    # one row per (lang, token) TYPE with its occurrence count; both
    # consumers below share this subtree (one tokenization pass)
    lt = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("occ"))
    cnt = lt.groupBy("token").agg(F.sum("occ").alias("cnt"))
    vocab = (
        cnt.orderBy(F.col("cnt").desc(), "token")
        .limit(VOCAB_SIZE)
        .select("token", F.lit(1).alias("in_vocab_flag"))
    )
    marked = lt.join(F.broadcast(vocab), "token", "left").select(
        "lang",
        "occ",
        F.coalesce("in_vocab_flag", F.lit(0)).alias("in_vocab"),
    )
    return (
        marked.groupBy("lang")
        .agg(
            F.sum("occ").alias("n_occurrences"),
            F.sum(
                F.when(F.col("in_vocab") == 1, F.col("occ")).otherwise(F.lit(0))
            ).alias("covered_occurrences"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(
                F.when(F.col("in_vocab") == 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("oov_types"),
        )
        .withColumn(
            "oov_bp",
            F.floor(
                10000.0
                * (F.col("n_occurrences") - F.col("covered_occurrences"))
                / F.col("n_occurrences")
            ).cast("long"),
        )
        .select(
            "lang",
            "n_occurrences",
            "covered_occurrences",
            "n_types",
            "oov_types",
            "oov_bp",
        )
        .orderBy("lang")
    )
