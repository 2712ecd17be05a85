"""Text-analysis queries over the documents table, each with a DuckDB
oracle mirroring the expression semantics exactly (same token split, same
integer arithmetic, same fold order).

Ratios and means here are int/int IEEE divisions — bit-deterministic
across engines, so no rounding is applied (rounding could land on a
representable half and diverge; SURVEY.md §7.3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    distinct_token_count,
    fingerprint,
    lang_id,
    lang_scores,
    mean_token_length,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)
from data_engineering_pipeline_spark.sources import load_table

QUERIES = {}
ORACLES = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


@_register(
    "text-stats",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / len(toks) AS mean_token_len,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
    FROM t ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + document fingerprint (rolling polynomial hash).
    Tokens materialize once per row in their own projection (no CSE
    across metric expressions — see operators/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", tokens("text").alias("__toks"))
    t = F.col("__toks")
    return toked.select(
        "doc_id",
        token_count(toks=t).alias("n_tokens"),
        distinct_token_count(toks=t).alias("n_distinct"),
        mean_token_length(toks=t).alias("mean_token_len"),
        fingerprint("text").alias("fingerprint"),
    ).orderBy("doc_id")


_STOP_SQL = "(" + ", ".join(f"'{s}'" for s in STOPWORDS_EN) + ")"

@_register(
    "text-quality",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
          / len(toks) AS stopword_ratio,
        CAST(length(text) - length(regexp_replace(text,
             '[.,!?;:''"()]', '', 'g')) AS DOUBLE) / length(text)
          AS punct_ratio,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity
      FROM t
    )
    SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, diversity,
      greatest(least(
        0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
        + 0.4 * diversity
        + 0.2 * least(stopword_ratio * 2.0, 1.0)
        - 0.2 * least(punct_ratio * 4.0, 1.0), 1.0), 0.0) AS quality
    FROM m ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword ratios + composite score."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", tokens("text").alias("__toks"))
    t = F.col("__toks")
    return toked.select(
        "doc_id",
        token_count(toks=t).alias("n_tokens"),
        stopword_ratio(toks=t).alias("stopword_ratio"),
        punct_ratio("text").alias("punct_ratio"),
        (
            distinct_token_count(toks=t).cast("double") / token_count(toks=t)
        ).alias("diversity"),
        quality_score("text", toks=t).alias("quality"),
    ).orderBy("doc_id")


def _markers_sql(lang: str) -> str:
    return "(" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + ")"


_LANG_SCORE_COLS = ",\n        ".join(
    f"CAST(len(list_filter(toks, x -> x IN {_markers_sql(lang)})) AS INTEGER)"
    f" AS score_{lang}"
    for lang in LANG_MARKERS
)

# Mirrors operators/text.py lang_id (fold-left, earliest language wins
# ties): language L wins iff strictly greater than every EARLIER
# language's score — hence the reverse-order CASE, each arm comparing
# only against languages before it.
_LANG_PRED = """
      CASE
        WHEN score_zh > greatest(score_en, score_de, score_es, score_fr, 0)
          THEN 'zh'
        WHEN score_fr > greatest(score_en, score_de, score_es, 0)
          THEN 'fr'
        WHEN score_es > greatest(score_en, score_de, 0) THEN 'es'
        WHEN score_de > greatest(score_en, 0) THEN 'de'
        WHEN score_en > 0 THEN 'en'
        ELSE 'und'
      END
"""

@_register(
    "text-langid",
    f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
        {_LANG_SCORE_COLS}
      FROM t
    )
    SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
           {_LANG_PRED} AS lang_pred
    FROM s ORDER BY doc_id
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: per-language scores + argmax
    (earliest language wins ties; 'und' when nothing matches)."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "lang", tokens("text").alias("__toks"))
    t = F.col("__toks")
    scores = lang_scores(toks=t)
    return toked.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        lang_id(toks=t).alias("lang_pred"),
    ).orderBy("doc_id")


@_register(
    "text-filter",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
          / len(toks) AS mean_token_len,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity,
        CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS INTEGER)
          AS n_stopwords,
        CAST(list_max(list_transform(list_distinct(toks),
               d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
          / len(toks) AS top_token_ratio
      FROM t
    )
    SELECT doc_id, n_tokens, mean_token_len, diversity, n_stopwords,
           top_token_ratio,
           (n_tokens BETWEEN 25 AND 90) AS r_len,
           (mean_token_len >= 4.0 AND mean_token_len <= 5.0) AS r_mean_len,
           (n_stopwords >= 2) AS r_stopwords,
           (diversity >= 0.4) AS r_diversity,
           (top_token_ratio <= 0.1) AS r_repetition,
           ((n_tokens BETWEEN 25 AND 90)
            AND mean_token_len >= 4.0 AND mean_token_len <= 5.0
            AND n_stopwords >= 2 AND diversity >= 0.4
            AND top_token_ratio <= 0.1) AS keep
    FROM m ORDER BY doc_id
    """,
)
def text_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021 §A1.1,
    adapted to the synthetic corpus): per-doc rule flags — token-count
    band, mean-token-length band, stopword floor, lexical-diversity
    floor, top-token-dominance cap — plus the conjunctive keep decision.
    Flags are emitted (not just the kept rows) because a real pipeline
    audits per-rule rejection rates before applying the filter.

    Scale: pure per-row map work over one tokenization pass — no
    shuffle, whole-stage codegen end to end; the top-token scan is
    O(distinct * tokens) per row, bounded by document length. All
    ratios are int/int IEEE divisions, so the DuckDB oracle matches
    with zero float tolerance."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("__toks"))
    t = F.col("__toks")
    top_freq = F.array_max(
        F.transform(
            F.array_distinct(t),
            lambda d: F.size(F.filter(t, lambda x: x == d)),
        )
    )
    m = toked.select(
        "doc_id",
        token_count(toks=t).alias("n_tokens"),
        mean_token_length(toks=t).alias("mean_token_len"),
        (
            distinct_token_count(toks=t).cast("double") / token_count(toks=t)
        ).alias("diversity"),
        F.size(
            F.filter(
                t,
                lambda x: F.array_contains(
                    F.array(*[F.lit(s) for s in STOPWORDS_EN]), x
                ),
            )
        ).alias("n_stopwords"),
        (top_freq.cast("double") / token_count(toks=t)).alias(
            "top_token_ratio"
        ),
    )
    r_len = F.col("n_tokens").between(25, 90)
    r_mtl = (F.col("mean_token_len") >= 4.0) & (F.col("mean_token_len") <= 5.0)
    r_stop = F.col("n_stopwords") >= 2
    r_div = F.col("diversity") >= 0.4
    r_rep = F.col("top_token_ratio") <= 0.1
    return m.select(
        "*",
        r_len.alias("r_len"),
        r_mtl.alias("r_mean_len"),
        r_stop.alias("r_stopwords"),
        r_div.alias("r_diversity"),
        r_rep.alias("r_repetition"),
        (r_len & r_mtl & r_stop & r_div & r_rep).alias("keep"),
    ).orderBy("doc_id")


@_register(
    "text-repetition",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    b AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1]) AS bg
      FROM t
    )
    SELECT doc_id,
           CAST(len(bg) AS INTEGER) AS n_bigrams,
           CAST(len(list_distinct(bg)) AS INTEGER) AS n_distinct_bigrams,
           CASE WHEN len(bg) > 0 THEN
             CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
           END AS dup_bigram_fraction,
           CASE WHEN len(bg) > 0 THEN
             CAST(list_max(list_transform(list_distinct(bg),
                    d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
               / len(bg)
           END AS top_bigram_ratio
    FROM b ORDER BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    duplicate-n-gram family): per-doc bigram occurrence counts, the
    fraction of bigram occurrences that are repeats, and the dominance
    of the single most frequent bigram. High values flag boilerplate /
    generated spam that token-level filters miss.

    Scale: per-row map work over one tokenization pass (bigrams via the
    same slice+zip_with trick as the shingles — no per-index
    re-tokenization); no shuffle. Ratios are int/int IEEE divisions —
    zero-tolerance oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("__toks"))
    t = F.col("__toks")
    bigrams = F.filter(
        F.zip_with(
            t,
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
        lambda s: s.isNotNull(),
    )
    bg = toked.select("doc_id", bigrams.alias("__bg"))
    n = F.size(F.col("__bg"))
    nd = F.size(F.array_distinct(F.col("__bg")))
    top = F.array_max(
        F.transform(
            F.array_distinct(F.col("__bg")),
            lambda d: F.size(F.filter(F.col("__bg"), lambda x: x == d)),
        )
    )
    return bg.select(
        "doc_id",
        n.alias("n_bigrams"),
        nd.alias("n_distinct_bigrams"),
        F.when(n > 0, (n - nd).cast("double") / n).alias(
            "dup_bigram_fraction"
        ),
        F.when(n > 0, top.cast("double") / n).alias("top_bigram_ratio"),
    ).orderBy("doc_id")


@_register(
    "text-head-coverage",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
    vocab AS (
      SELECT token FROM ex GROUP BY token
      ORDER BY count(*) DESC, token LIMIT 100
    ),
    c AS (
      SELECT doc_id, count(*) AS n_head
      FROM ex JOIN vocab USING (token) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS INTEGER) AS n_tokens,
           CAST(coalesce(c.n_head, 0) AS BIGINT) AS n_head,
           CASE WHEN len(t.toks) > 0 THEN
             CAST(coalesce(c.n_head, 0) AS DOUBLE) / len(t.toks)
           END AS head_rate
    FROM t LEFT JOIN c ON c.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
)
def text_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-vocabulary coverage: the fraction of each document's token
    occurrences that fall in the corpus top-100 vocabulary — a cheap
    language-model-free 'commonness' score (natural text is head-heavy;
    near-zero coverage flags noise/code/foreign text, near-one flags
    stopword soup). Composes a corpus-wide statistic with per-doc
    scoring, the two-pass shape of every frequency-based quality
    filter.

    Scale: the vocab is a partial-agg + TakeOrderedAndProject (top-100,
    no global sort) and is broadcast to the scoring join — the corpus
    side shuffles once on doc_id for the count; the 100-row dim never
    shuffles the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("__toks"))
    ex = toked.select("doc_id", F.explode("__toks").alias("token"))
    vocab = (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), "token")
        .limit(100)
        .select("token")
    )
    counts = (
        ex.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n_head"))
    )
    base = toked.select("doc_id", F.size("__toks").alias("n_tokens"))
    n_head = F.coalesce(F.col("__n_head"), F.lit(0)).cast("long")
    return (
        base.join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            n_head.alias("n_head"),
            F.when(
                F.col("n_tokens") > 0,
                n_head.cast("double") / F.col("n_tokens"),
            ).alias("head_rate"),
        )
        .orderBy("doc_id")
    )


_CURATION_SAMPLE_PCT = 20

@_register(
    "corpus-curation",
    f"""
    WITH t AS (
      SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, lang, text, len(toks) AS n_tokens,
        CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
          / len(toks) AS mtl,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS div,
        len(list_filter(toks, x -> x IN {_STOP_SQL})) AS n_stop,
        CAST(list_max(list_transform(list_distinct(toks),
               d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
          / len(toks) AS ttr
      FROM t
    ), kept AS (
      SELECT doc_id, lang, text, n_tokens FROM m
      WHERE n_tokens BETWEEN 25 AND 90 AND mtl >= 4.0 AND mtl <= 5.0
        AND n_stop >= 2 AND div >= 0.4 AND ttr <= 0.1
    ), uniq AS (
      SELECT doc_id, lang, n_tokens,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[.,!?;:''"()]', '', 'g'), '\\s+', ' ', 'g')) AS tnorm
      FROM kept
      QUALIFY row_number() OVER (PARTITION BY tnorm ORDER BY doc_id) = 1
    ), samp AS (
      SELECT * FROM uniq
      WHERE ((doc_id * 69069 + 1) % 4294967296) % 100
            < {_CURATION_SAMPLE_PCT}
    ),
    a AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    b AS (SELECT lang, count(*) AS n_quality FROM kept GROUP BY lang),
    c AS (SELECT lang, count(*) AS n_unique FROM uniq GROUP BY lang),
    d AS (SELECT lang, count(*) AS n_sampled,
                 CAST(sum(n_tokens) AS BIGINT) AS sampled_tokens
          FROM samp GROUP BY lang)
    SELECT a.lang, a.n_docs,
           CAST(coalesce(b.n_quality, 0) AS BIGINT) AS n_quality,
           CAST(coalesce(c.n_unique, 0) AS BIGINT) AS n_unique,
           CAST(coalesce(d.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(coalesce(d.sampled_tokens, 0) AS BIGINT)
             AS sampled_tokens
    FROM a
    LEFT JOIN b ON b.lang = a.lang
    LEFT JOIN c ON c.lang = a.lang
    LEFT JOIN d ON d.lang = a.lang
    ORDER BY a.lang
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus curation funnel as ONE lazy plan:
    Gopher-style quality filter -> exact dedup (keep lowest doc_id per
    normalized text) -> deterministic 20% hash sample -> per-language
    funnel report (docs in, surviving each stage, sampled token
    budget). This is the composition a user of the reference pipeline
    would actually run before training; each stage is the registered
    operator (text-filter, dedup-exact, op-hash-sample) chained.

    Scale: ONE scan of the corpus. Every stage is computed as a
    survival FLAG on the same row stream — the quality rules are
    per-row map work, the dedup flag is row_number() == 1 over a window
    partitioned by (kept, normalized-text) (so 'first among kept docs'
    needs no separate branch), and the sample flag is a narrow LCG
    predicate — then one conditional aggregation produces the whole
    funnel report. Total: one window shuffle + one agg shuffle,
    regardless of how many stages the funnel grows; the naive
    branch-per-stage formulation re-scans the corpus once per stage."""
    from data_engineering_pipeline_spark.operators.dedup import normalize_text
    from data_engineering_pipeline_spark.operators.sampling import key_hash

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "lang", "text", tokens("text").alias("__toks")
    )
    t = F.col("__toks")
    top_freq = F.array_max(
        F.transform(
            F.array_distinct(t),
            lambda d: F.size(F.filter(t, lambda x: x == d)),
        )
    )
    m = toked.select(
        "doc_id",
        "lang",
        "text",
        token_count(toks=t).alias("n_tokens"),
        mean_token_length(toks=t).alias("__mtl"),
        (
            distinct_token_count(toks=t).cast("double") / token_count(toks=t)
        ).alias("__div"),
        F.size(
            F.filter(
                t,
                lambda x: F.array_contains(
                    F.array(*[F.lit(s) for s in STOPWORDS_EN]), x
                ),
            )
        ).alias("__n_stop"),
        (top_freq.cast("double") / token_count(toks=t)).alias("__ttr"),
    )
    kept = (
        F.col("n_tokens").between(25, 90)
        & (F.col("__mtl") >= 4.0)
        & (F.col("__mtl") <= 5.0)
        & (F.col("__n_stop") >= 2)
        & (F.col("__div") >= 0.4)
        & (F.col("__ttr") <= 0.1)
    )
    flagged = m.select(
        "doc_id", "lang", "n_tokens",
        kept.alias("__kept"),
        normalize_text("text").alias("__tnorm"),
    )
    w = Window.partitionBy("__kept", "__tnorm").orderBy("doc_id")
    staged = flagged.select(
        "doc_id",
        "lang",
        "n_tokens",
        "__kept",
        (F.col("__kept") & (F.row_number().over(w) == 1)).alias("__uniq"),
    ).select(
        "lang",
        "n_tokens",
        "__kept",
        "__uniq",
        (
            F.col("__uniq")
            & (key_hash(F.col("doc_id")) % 100 < _CURATION_SAMPLE_PCT)
        ).alias("__samp"),
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        staged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt("__kept").alias("n_quality"),
            cnt("__uniq").alias("n_unique"),
            cnt("__samp").alias("n_sampled"),
            F.coalesce(
                F.sum(F.when(F.col("__samp"), F.col("n_tokens"))),
                F.lit(0),
            ).cast("long").alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


@_register(
    "text-vocab",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM t)
    SELECT token, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM ex GROUP BY token
    ORDER BY n_occurrences DESC, token LIMIT 100
    """,
)
def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by occurrence count with
    document frequency — the vocabulary/BPE-seeding pass of a training
    pipeline.

    Scale: explode + two-level aggregation; the token groupBy partial-
    aggregates map-side so the shuffle carries one row per distinct
    token per partition, and the top-100 is TakeOrderedAndProject (no
    global sort). Stop-token skew is absorbed by the partial agg."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    ex = docs.select("doc_id", F.explode(toks).alias("token"))
    return (
        ex.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(100)
    )


@_register(
    "text-crossentropy",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
    c AS (SELECT token, count(*) AS c FROM ex GROUP BY token),
    lq AS (
      SELECT token,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000000 + 0.5)
                  AS BIGINT) AS lq
      FROM c
    ),
    tot AS (
      SELECT CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000000 + 0.5)
                  AS BIGINT) AS lnt_q
      FROM c
    ),
    d AS (
      SELECT doc_id, count(*) AS n, CAST(sum(lq) AS BIGINT) AS s
      FROM ex JOIN lq USING (token) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(n * lnt_q - s AS DOUBLE) / n / 1000000000.0
             AS cross_entropy
    FROM d, tot ORDER BY doc_id
    """,
)
def text_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality signal (Wenzek et al. 2019
    use a KenLM; the shape is identical with the corpus's own unigram
    LM): per-doc cross-entropy -1/n * sum ln p(token), p = corpus
    frequency. Low = head-heavy/common text, high = rare-token noise —
    the ranking signal for perplexity-bucketed corpus filtering.

    Cross-engine exactness: a per-doc SUM of doubles is order-sensitive
    (shuffle order would flip low bits), so each token's ln(count) is
    quantized to an exact 1e-9-scaled BIGINT once per VOCAB entry; doc
    sums are then exact integer arithmetic in any order, and the final
    (double) division sequence is identical in both engines. A 1-ulp
    libm disagreement only matters if ln lands within 1 ulp of a
    quantum boundary (~1e-7 per distinct token).

    Scale: one explode + one token-count shuffle (partial-aggregated),
    the vocabulary joins back as a broadcast dim, one doc_id shuffle
    for the sums; the 1-row corpus total broadcasts. At 100 TB swap
    the broadcast for a shuffle join when the vocab outgrows memory —
    nothing else changes."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("__toks"))
    ex = toked.select("doc_id", F.explode("__toks").alias("token"))
    counts = ex.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    lq = counts.select(
        "token",
        F.floor(
            F.log(F.col("c").cast("double")) * 1_000_000_000 + F.lit(0.5)
        ).alias("lq"),
    )
    tot = counts.agg(
        F.floor(
            F.log(F.sum("c").cast("double")) * 1_000_000_000 + F.lit(0.5)
        ).alias("lnt_q")
    )
    d = (
        ex.join(F.broadcast(lq), "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("lq").alias("s"))
    )
    return (
        d.join(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            (
                (F.col("n") * F.col("lnt_q") - F.col("s")).cast("double")
                / F.col("n")
                / F.lit(1_000_000_000.0)
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


# GPT-2-style pre-tokenizer, restricted to the Java-regex/RE2 COMMON
# SUBSET (no lookahead, no unicode property classes): contractions,
# space-prefixed letter runs, digit runs, punctuation runs.
BPE_PRETOKEN_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"

_BPE_PAT_SQL = BPE_PRETOKEN_PAT.replace("'", "''")

@_register(
    "text-tokenize-bpe",
    f"""
    WITH t AS (
      SELECT doc_id,
             len({_TOKS}) AS n_ws_tokens,
             len(regexp_extract_all(text, '{_BPE_PAT_SQL}'))
               AS n_bpe_tokens
      FROM documents
    )
    SELECT doc_id,
           CAST(n_ws_tokens AS INTEGER) AS n_ws_tokens,
           CAST(n_bpe_tokens AS INTEGER) AS n_bpe_tokens,
           CASE WHEN n_ws_tokens > 0 THEN
             CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens
           END AS bpe_per_ws
    FROM t ORDER BY doc_id
    """,
)
def text_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-style pre-tokenizer (the GPT-2
    pattern family: contractions / space-prefixed word / number /
    punctuation runs) next to the whitespace count — the
    tokens-per-word ratio is the standard proxy for how expensive a
    document is to train on before a real BPE vocab exists.

    Scale: pure per-row regexp map work, no shuffle; the pattern avoids
    lookahead so the oracle runs the identical string."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_PAT), 0)
        ).alias("n_bpe_tokens"),
    )
    return t.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.when(
            F.col("n_ws_tokens") > 0,
            F.col("n_bpe_tokens").cast("double") / F.col("n_ws_tokens"),
        ).alias("bpe_per_ws"),
    ).orderBy("doc_id")


@_register(
    "text-bigram-ppl",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM t WHERE len(toks) >= 2
    ),
    uni AS (
      SELECT u.token, count(*) AS c2
      FROM (SELECT unnest(toks) AS token FROM t) u GROUP BY u.token
    ),
    tot AS (SELECT CAST(sum(c2) AS DOUBLE) AS tt FROM uni),
    ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    types AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    lq AS (
      SELECT t.w1, t.w2,
             CAST(floor(ln(0.8 * (CAST(t.c12 AS DOUBLE)
                                  / CAST(x.c1 AS DOUBLE))
                           + 0.2 * (CAST(u.c2 AS DOUBLE) / o.tt))
                        * 1000000000 + 0.5) AS BIGINT) AS lq
      FROM types t
      JOIN ctx x ON t.w1 = x.w1
      JOIN uni u ON t.w2 = u.token
      CROSS JOIN tot o
    ),
    d AS (
      SELECT bg.doc_id, count(*) AS n, CAST(sum(lq.lq) AS BIGINT) AS s
      FROM bg JOIN lq ON bg.w1 = lq.w1 AND bg.w2 = lq.w2
      GROUP BY bg.doc_id
    ),
    scored AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
             CAST(-s AS DOUBLE) / n / 1000000000.0 AS bigram_ce
      FROM d
    )
    SELECT doc_id, n_bigrams, bigram_ce,
           CAST(ntile(3) OVER (ORDER BY bigram_ce, doc_id) AS BIGINT)
             AS ppl_bucket
    FROM scored ORDER BY doc_id
    """,
)
def text_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy with CCNet-style perplexity terciles
    (Wenzek et al. 2019 bucket docs by LM perplexity into head/middle/
    tail and keep the middle; the LM here is the corpus's own
    interpolated bigram model — same shape as their KenLM without the
    external model): p(w2|w1) = 0.8*c12/c1 + 0.2*c2/T, per-doc score
    -1/n * sum ln p, bucket = tercile of the score.

    All bigrams come from the corpus the model is counted on, so every
    event is seen (no smoothing cliff); docs with <2 tokens carry no
    bigram and drop out. Cross-engine exactness uses the
    text-crossentropy device: ln p is quantized once per bigram TYPE
    to a 1e-9 BIGINT, doc sums are exact integer arithmetic in any
    order, and the tercile orders by the identically-computed double
    with doc_id tiebreak.

    Scale: bigrams explode map-side (transform over token arrays, no
    self-join); type/context/unigram stats are groupBys with partial
    agg; the type dim joins back broadcast (swap to shuffle join when
    the bigram vocabulary outgrows memory); the global ntile is a
    single-partition sort over DOCS, allowlisted in the plan lint for
    oracle parity — the production freeze (plans/curation_pipeline.py
    _freeze_ppl_lm) computes the same cutoffs BIT-EXACTLY via
    exact_kth_values (operators/sketch.py: 8.4x faster at 10M rows,
    flat with scale; BASELINE addendum 49), or use qsketch_quantiles
    for approximate cutoffs."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE: the LM's stat tables are independent aggregation
    # branches over the same token arrays, and Catalyst gives each
    # branch its own scan+tokenize (no cross-branch CSE) — a lazy
    # map-only checkpoint caches the arrays at first compute and every
    # branch reuses them (r13: the kn3 twin of this shape measured
    # 1.70 -> 1.27 s at sf0.1). At corpus scale this pins the
    # tokenized corpus in block-manager memory/disk for the duration
    # of the training pass — the standard cache-vs-recompute call for
    # an n-branch training read (n >= 4 here).
    toked = docs.select(
        "doc_id", tokens("text").alias("__toks")
    ).filter(F.size("__toks") >= 2).localCheckpoint(eager=False)
    bg = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__toks) - 1), "
                "i -> struct(element_at(__toks, i) AS w1, "
                "element_at(__toks, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    uni = (
        toked.select(F.explode("__toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    tot = uni.agg(F.sum("c2").cast("double").alias("tt"))
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    types = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    lq = (
        types.join(F.broadcast(ctx), "w1")
        .join(
            F.broadcast(uni.withColumnRenamed("token", "w2")), "w2"
        )
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    F.lit(0.8)
                    * (
                        F.col("c12").cast("double")
                        / F.col("c1").cast("double")
                    )
                    + F.lit(0.2)
                    * (F.col("c2").cast("double") / F.col("tt"))
                )
                * 1_000_000_000
                + F.lit(0.5)
            ).alias("lq"),
        )
    )
    d = (
        bg.join(F.broadcast(lq), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("lq").alias("s"))
    )
    scored = d.select(
        "doc_id",
        F.col("n").cast("long").alias("n_bigrams"),
        (
            (-F.col("s")).cast("double")
            / F.col("n")
            / F.lit(1_000_000_000.0)
        ).alias("bigram_ce"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("bigram_ce", "doc_id")
    return (
        scored.withColumn(
            "ppl_bucket", F.ntile(3).over(w).cast("long")
        )
        .orderBy("doc_id")
    )


@_register(
    "text-keyphrases",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM t WHERE len(toks) >= 2
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
    m1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    m2 AS (SELECT w2, count(*) AS c2 FROM bg GROUP BY w2),
    tot AS (SELECT count(*) AS b FROM bg),
    pmi AS (
      SELECT c12.w1, c12.w2,
             CAST(floor(ln(CAST(c12.c AS DOUBLE) * o.b
                           / (CAST(m1.c1 AS DOUBLE) * m2.c2))
                        * 1000000000 + 0.5) AS BIGINT) AS pmi_q
      FROM c12
      JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot o
      WHERE c12.c >= 3
    ),
    dt AS (SELECT DISTINCT doc_id, w1, w2 FROM bg),
    r AS (
      SELECT dt.doc_id, dt.w1, dt.w2, pmi.pmi_q,
             row_number() OVER (PARTITION BY dt.doc_id
                                ORDER BY pmi.pmi_q DESC,
                                         dt.w1, dt.w2) AS rnk
      FROM dt JOIN pmi ON dt.w1 = pmi.w1 AND dt.w2 = pmi.w2
    )
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, w1, w2, pmi_q
    FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk
    """,
)
def text_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyphrase (collocation) extraction: each document's top-3
    bigrams by corpus-level PMI, ln(c12*B / (c1*c2)) over the bigram
    stream with min-support c12 >= 3 — the classic statistical
    collocation measure (Church & Hanks 1990), here as the per-doc
    tagging a corpus browser or dedup-explainer needs. PMI is
    quantized to a 1e-9 BIGINT once per bigram TYPE (the
    text-crossentropy device), so ranking and output are exact
    cross-engine.

    Scale: bigrams explode map-side; type/marginal counts partial-
    aggregate; the PMI dim broadcasts back; the per-doc top-3 is a
    bounded window over each doc's distinct types."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens("text").alias("__toks")
    ).filter(F.size("__toks") >= 2)
    bg = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__toks) - 1), "
                "i -> struct(element_at(__toks, i) AS w1, "
                "element_at(__toks, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    m1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    m2 = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    tot = bg.agg(F.count(F.lit(1)).alias("b_tot"))
    pmi = (
        c12.filter(F.col("c") >= 3)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    F.col("c").cast("double") * F.col("b_tot")
                    / (F.col("c1").cast("double") * F.col("c2"))
                )
                * 1_000_000_000
                + F.lit(0.5)
            ).alias("pmi_q"),
        )
    )
    dt = bg.select("doc_id", "w1", "w2").distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("pmi_q"), "w1", "w2"
    )
    return (
        dt.join(F.broadcast(pmi), ["w1", "w2"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id", F.col("rnk").cast("long").alias("rnk"),
            "w1", "w2", "pmi_q",
        )
        .orderBy("doc_id", "rnk")
    )


@_register(
    "text-dup-spans",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sized AS (
      SELECT doc_id, toks, len(toks) AS n_tokens FROM t
    ), wins AS (
      SELECT doc_id, n_tokens, i AS pos,
             array_to_string(toks[i + 1 : i + 16], ' ') AS gram
      FROM sized, UNNEST(range(n_tokens - 16 + 1)) AS u(i)
      WHERE n_tokens >= 16
    ), cnt AS (
      SELECT doc_id, n_tokens, pos,
             count(*) OVER (PARTITION BY gram) AS c
      FROM wins
    ), dup AS (
      SELECT * FROM cnt WHERE c > 1
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT pos) AS BIGINT) AS dup_windows,
           CAST(count(DISTINCT tp) AS BIGINT) AS covered_tokens
    FROM dup, UNNEST(range(pos, pos + 16)) AS v(tp)
    GROUP BY doc_id, n_tokens
    ORDER BY doc_id
    """,
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring duplication at 16-token window granularity
    (operators/dedup.py duplicate_ngram_spans — the Lee et al. 2022
    signal): windows whose exact content recurs anywhere in the
    corpus, summarized per doc as duplicated-window count and the
    token coverage of their union. One gram-keyed shuffle + one
    per-doc aggregate; the oracle recomputes via window functions
    over unnested n-grams, so a miscounted overlap, a lost window,
    or a tokenization drift breaks the exact counts. Scale: the
    graded config shuffles the literal n-token string (the oracle
    must group identically); `hash_grams=True` is the 100 TB path
    (8-byte xxhash64 keys)."""
    from data_engineering_pipeline_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_ngram_spans(docs, n=16).orderBy("doc_id")


_KMV_K = 64
_KMV_H1 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split(bg, ''),"
    " c -> CAST(ascii(c) AS BIGINT))),"
    " (acc, c) -> (acc * 31 + c) % 1000000007)"
)
_KMV_H2 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split(bg, ''),"
    " c -> CAST(ascii(c) AS BIGINT))),"
    " (acc, c) -> (acc * 131 + c) % 999999937)"
)


def _kmv_oracle() -> str:
    from data_engineering_pipeline_spark.operators.sketch import (
        kmv_numerator,
    )

    return f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    ex AS (
      SELECT source,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1]))
               AS bg
      FROM t WHERE len(toks) >= 2
    ),
    hh AS (SELECT source, {_KMV_H1} AS h1, {_KMV_H2} AS h2 FROM ex),
    r1 AS (
      SELECT source,
             (h1 * h1 + 48271 * h1 + h2) % 1000000007 AS g1,
             (h2 * h2 + 69621 * h2 + h1) % 999999937 AS g2
      FROM hh
    ),
    hu AS (
      SELECT DISTINCT source,
             (g1 * g1 + 48271 * g1 + g2) % 1000000007 * 999999937
             + (g2 * g2 + 69621 * g2 + g1) % 999999937 AS u
      FROM r1
    ),
    r AS (
      SELECT source, u,
             row_number() OVER (PARTITION BY source ORDER BY u) AS rk,
             count(*) OVER (PARTITION BY source) AS n_distinct
      FROM hu
    ), sk AS (
      SELECT source,
             CAST(max(n_distinct) AS BIGINT) AS n_distinct,
             CAST(max(CASE WHEN rk <= {_KMV_K} THEN rk END) AS BIGINT)
               AS n_seen,
             max(CASE WHEN rk <= {_KMV_K} THEN u END) AS uk
      FROM r GROUP BY source
    )
    SELECT source AS "group", n_distinct, n_seen,
           CASE WHEN n_seen < {_KMV_K} THEN CAST(n_seen AS DOUBLE)
                ELSE {kmv_numerator(_KMV_K):.17e} / CAST(uk AS DOUBLE)
           END AS n_est
    FROM sk ORDER BY "group"
    """


@_register("text-vocab-kmv", _kmv_oracle())
def text_vocab_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-BIGRAM count, KMV-sketch-estimated
    (operators/sketch.py kmv_distinct, k=64) with the exact distinct
    count alongside as the verifier — the mergeable fixed-memory
    alternative to count-distinct for corpus monitoring at 100 TB.
    Bigrams (not unigrams) so every source overfills the sketch and
    the estimator branch, not the exact fallback, is what gets graded.
    Every value is exact cross-engine: the estimate is a single IEEE
    division from the k-th minimum of the portable hash, so the
    oracle reproduces it bit for bit."""
    from data_engineering_pipeline_spark.operators.sketch import (
        kmv_distinct,
    )
    from data_engineering_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(toks, shifted, lambda x, y: F.concat(x, F.lit(" "), y)),
        lambda s: s.isNotNull(),
    )
    # KMV takes distinct u anyway, so dedupe (source, bg) BEFORE the
    # per-char portable hash — one shuffle both arms reuse, hashing
    # once per distinct bigram instead of per occurrence (the HLL
    # query's same trade, BASELINE addendum 22b).
    ex = (
        docs.select("source", F.explode(bigrams).alias("bg"))
        .distinct()
        .localCheckpoint(eager=False)  # both arms read it once
    )
    return kmv_distinct(ex, "source", F.col("bg"), k=_KMV_K).orderBy(
        "group"
    )


def _hll_oracle() -> str:
    from data_engineering_pipeline_spark.operators.sketch import (
        HLL_M,
        HLL_RHO_CAP,
        HLL_THRESHOLDS,
        hll_numerator,
    )

    ladder = " + ".join(
        f"CAST(v < {t} AS INT)" for t in HLL_THRESHOLDS
    )
    return f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    ex AS (
      SELECT source,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1]))
               AS bg
      FROM t WHERE len(toks) >= 2
    ),
    hh AS (SELECT source, {_KMV_H1} AS h1, {_KMV_H2} AS h2 FROM ex),
    r1 AS (
      SELECT source,
             (h1 * h1 + 48271 * h1 + h2) % 1000000007 AS g1,
             (h2 * h2 + 69621 * h2 + h1) % 999999937 AS g2
      FROM hh
    ),
    hu AS (
      SELECT source,
             (g1 * g1 + 48271 * g1 + g2) % 1000000007 * 999999937
             + (g2 * g2 + 69621 * g2 + g1) % 999999937 AS u
      FROM r1
    ),
    rv AS (
      SELECT source, u % {HLL_M} AS reg, u // {HLL_M} AS v FROM hu
    ),
    rh AS (
      SELECT source, reg, max(1 + {ladder}) AS rho
      FROM rv GROUP BY source, reg
    ),
    ag AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_regs,
             sum(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - rho)) AS s
      FROM rh GROUP BY source
    ),
    xc AS (
      SELECT source, CAST(count(DISTINCT u) AS BIGINT) AS n_distinct
      FROM hu GROUP BY source
    )
    SELECT ag.source AS "group", n_distinct, n_regs,
           CAST({HLL_M} - n_regs AS BIGINT) AS n_zero,
           {hll_numerator():.17e}
             / CAST(s + ({HLL_M} - n_regs)
                        * (CAST(1 AS BIGINT) << {HLL_RHO_CAP})
                    AS DOUBLE) AS n_est
    FROM ag JOIN xc ON ag.source = xc.source
    ORDER BY "group"
    """


@_register("text-vocab-hll", _hll_oracle())
def text_vocab_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-BIGRAM count, HyperLogLog-estimated
    (operators/sketch.py hll_distinct, m=64 registers) with the exact
    distinct count alongside as the verifier. The sketch plan computes
    NO distinct anywhere — registers are a duplicate-insensitive
    max-aggregate, map-side combined — which is the property that
    makes HLL the 100 TB vocabulary monitor: 64 small ints of state
    per source, merged by per-register max (hll_merge). The rho
    threshold ladder, integer harmonic sum, and single-literal
    numerator make every output value bit-exact cross-engine; n_zero
    is surfaced for driver-side linear-counting correction (ln stays
    out of the graded path)."""
    from data_engineering_pipeline_spark.operators.sketch import (
        hll_distinct,
    )
    from data_engineering_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(toks, shifted, lambda x, y: F.concat(x, F.lit(" "), y)),
        lambda s: s.isNotNull(),
    )
    # The verifier column forces a distinct anyway, and HLL itself is
    # duplicate-insensitive — so dedupe (source, bg) BEFORE the
    # per-char portable hash and both arms reuse one shuffle (worth
    # ~0.6 s at sf0.1; the 14 -> 2.3 s win was the ladder-input
    # column materialization in hll_registers — BASELINE addendum
    # 22b). The verifier-free 100 TB path (hll_registers on raw
    # occurrences, xxhash64) needs no distinct and no string shuffle.
    ex = (
        docs.select("source", F.explode(bigrams).alias("bg"))
        .distinct()
        .localCheckpoint(eager=False)  # both arms read it: 3.0->2.0 s
    )
    return hll_distinct(ex, "source", F.col("bg")).orderBy("group")


def _qsk_oracle() -> str:
    from data_engineering_pipeline_spark.operators.sketch import (
        QSK_E_MAX,
        QSK_K,
        QSK_S,
    )

    ladder = " + ".join(
        f"CAST(x >= {1 << r} AS INT)" for r in range(1, QSK_E_MAX + 1)
    )
    return f"""
    WITH t AS (
      SELECT source, CAST(len({_TOKS}) AS BIGINT) AS x FROM documents
    ),
    eb AS (SELECT source, x, ({ladder}) AS e FROM t),
    bk AS (
      SELECT source,
             CASE WHEN x < {QSK_K} THEN x
                  ELSE CAST(e * {QSK_K} AS BIGINT)
                       + (x >> (e - {QSK_S})) - {QSK_K}
             END AS bid
      FROM eb
    ),
    sk AS (
      SELECT source, bid, CAST(count(*) AS BIGINT) AS cnt
      FROM bk GROUP BY source, bid
    ),
    cm AS (
      SELECT source, bid, cnt,
             sum(cnt) OVER (PARTITION BY source ORDER BY bid) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS n
      FROM sk
    ),
    qs AS (SELECT * FROM (VALUES (50), (90), (99)) q(q_pct)),
    cand AS (
      SELECT source, q_pct, CAST(n AS BIGINT) AS n, min(bid) AS bid
      FROM cm, qs WHERE cum >= (n - 1) * q_pct // 100 + 1
      GROUP BY source, q_pct, n
    ),
    bounds AS (
      SELECT source, q_pct, n,
             CAST(CASE WHEN bid < {QSK_K} THEN bid
                  ELSE ({QSK_K} + bid % {QSK_K})
                       << (CAST(bid // {QSK_K} AS INT) - {QSK_S})
             END AS BIGINT) AS lo,
             CAST(CASE WHEN bid < {QSK_K} THEN bid
                  ELSE (({QSK_K} + bid % {QSK_K} + 1)
                        << (CAST(bid // {QSK_K} AS INT) - {QSK_S})) - 1
             END AS BIGINT) AS hi
      FROM cand
    ),
    rkv AS (
      SELECT source, x,
             row_number() OVER (PARTITION BY source ORDER BY x) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM t
    ),
    exq AS (
      SELECT source, q_pct, x AS exact_val FROM rkv, qs
      WHERE rk = (n - 1) * q_pct // 100 + 1
    )
    SELECT b.source AS "group", b.q_pct, n, exact_val, lo, hi,
           (lo + hi) // 2 AS est
    FROM bounds b JOIN exq USING (source, q_pct)
    ORDER BY "group", q_pct
    """


@_register("text-quantiles-sketch", _qsk_oracle())
def text_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-count quantiles (p50/p90/p99) read from the
    dyadic-bucket quantile sketch (operators/sketch.py qsketch_build /
    qsketch_quantiles — the DDSketch idea with power-of-two buckets),
    with the exact order statistic alongside as the verifier. The
    sketch is additive (group, bid, cnt) state — ~100 rows per source
    regardless of corpus size — so at 100 TB the length distribution
    of every source is one map-side-combined count aggregate, merged
    across batches by addition, and the graded bracket lo <= exact <=
    hi holds BY CONSTRUCTION (monotone bucketing), making any
    violation a real plumbing bug. Every column is integer
    arithmetic: octave via threshold ladder, sub-bucket via variable
    shift — bit-exact cross-engine."""
    from pyspark.sql import Window

    from data_engineering_pipeline_spark.operators.sketch import (
        qsketch_build,
        qsketch_quantiles,
    )
    from data_engineering_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        F.col("source").alias("group"),
        F.size(tokens("text")).cast("long").alias("x"),
    ).localCheckpoint(eager=False)  # sketch + verifier arms: 1.25->1.10 s
    pcts = [50, 90, 99]
    qq = qsketch_quantiles(qsketch_build(lens, "group", F.col("x")), pcts)
    rkv = lens.withColumn(
        "rk", F.row_number().over(Window.partitionBy("group").orderBy("x"))
    ).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("group"))
    )
    exq = (
        rkv.withColumn(
            "q_pct", F.explode(F.array(*[F.lit(int(p)) for p in pcts]))
        )
        .filter(F.col("rk") == F.expr("(n - 1) * q_pct div 100 + 1"))
        .select("group", "q_pct", F.col("x").alias("exact_val"))
    )
    return (
        qq.join(exq, ["group", "q_pct"])
        .select("group", "q_pct", "n", "exact_val", "lo", "hi", "est")
        .orderBy("group", "q_pct")
    )


def _cms_oracle() -> str:
    from data_engineering_pipeline_spark.operators.sketch import (
        CMS_A,
        CMS_B,
        CMS_C,
        CMS_WIDTH,
    )

    coef = ", ".join(
        f"({j}, {a}, {b}, {c})"
        for j, (a, b, c) in enumerate(zip(CMS_A, CMS_B, CMS_C))
    )
    return f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    ex AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1]))
               AS bg
      FROM t WHERE len(toks) >= 2
    ),
    hh AS (SELECT bg, {_KMV_H1} AS h1, {_KMV_H2} AS h2 FROM ex),
    coef AS (SELECT * FROM (VALUES {coef}) AS v(j, a, b, c)),
    cms AS (
      SELECT coef.j,
             ((coef.a * hh.h1 + coef.b * hh.h2 + coef.c) % 1000000007)
               % {CMS_WIDTH} AS bucket,
             count(*) AS cnt
      FROM hh CROSS JOIN coef GROUP BY 1, 2
    ),
    topk AS (
      SELECT bg, count(*) AS n_exact FROM hh GROUP BY bg
      ORDER BY n_exact DESC, bg LIMIT 20
    ),
    th AS (SELECT bg, n_exact, {_KMV_H1} AS h1, {_KMV_H2} AS h2 FROM topk)
    SELECT th.bg, CAST(th.n_exact AS BIGINT) AS n_exact,
           CAST(min(cms.cnt) AS BIGINT) AS n_est
    FROM th CROSS JOIN coef
    JOIN cms ON cms.j = coef.j
     AND cms.bucket = ((coef.a * th.h1 + coef.b * th.h2 + coef.c)
                       % 1000000007) % {CMS_WIDTH}
    GROUP BY th.bg, th.n_exact
    ORDER BY n_exact DESC, bg
    """


@_register("text-heavy-hitters-cms", _cms_oracle())
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy-hitter bigrams through a Count-Min sketch
    (operators/sketch.py cms_build/cms_estimate): the exact top-20
    bigram counts next to their CMS point estimates — n_est >= n_exact
    always, and the gap IS the sketch's collision overcount, graded
    exactly. The sketch is 4x1024 counters built map-side in one
    aggregation; at 100 TB it replaces the full n-gram groupBy for
    frequency monitoring and answers post-hoc point queries."""
    from data_engineering_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )
    from data_engineering_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(toks, shifted, lambda x, y: F.concat(x, F.lit(" "), y)),
        lambda s: s.isNotNull(),
    )
    occ = docs.select(F.explode(bigrams).alias("bg"))
    counts = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("n_exact"))
    top = counts.orderBy(F.desc("n_exact"), "bg").limit(20)
    # build from the aggregated counts: hash each DISTINCT bigram once
    # (cell-identical to building from occurrences — see cms_build)
    cms = cms_build(counts, F.col("bg"), weight=F.col("n_exact"))
    est = cms_estimate(cms, top.select("bg"), "bg")
    return (
        top.join(est, "bg")
        .select("bg", "n_exact", F.col("n_est").cast("long").alias("n_est"))
        .orderBy(F.desc("n_exact"), "bg")
    )


_BPE_N_MERGES = 6


def _bpe_train_oracle(n: int) -> str:
    sep = "chr(31)"
    dsep = f"{sep} || {sep}"
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS cnt,
             {sep} || array_to_string(string_split(w, ''), {sep} || {sep})
                  || {sep} AS s
      FROM (SELECT unnest({_TOKS}) AS w FROM documents)
      GROUP BY w
    )"""
    ]
    for r in range(n):
        parts.append(
            f"""p{r} AS MATERIALIZED (
      SELECT pieces[i] AS pa, pieces[i + 1] AS pb, sum(cnt) AS c
      FROM (SELECT cnt,
                   string_split(trim(s, {sep}), {dsep}) AS pieces
            FROM w{r}),
           UNNEST(generate_series(1, len(pieces) - 1)) AS t(i)
      GROUP BY 1, 2
    ), b{r} AS MATERIALIZED (
      SELECT pa, pb, c FROM p{r} ORDER BY c DESC, pa, pb LIMIT 1
    ), w{r + 1} AS MATERIALIZED (
      SELECT cnt,
             replace(s,
               {sep} || (SELECT pa FROM b{r}) || {dsep}
                     || (SELECT pb FROM b{r}) || {sep},
               {sep} || (SELECT pa FROM b{r})
                     || (SELECT pb FROM b{r}) || {sep}) AS s
      FROM w{r}
    )"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, pa AS lhs,"
        f" pb AS rhs, CAST(c AS BIGINT) AS pair_count FROM b{r}"
        for r in range(n)
    )
    return (
        "WITH " + ",\n    ".join(parts) + "\n    " + unions
        + "\n    ORDER BY merge_rank"
    )


@_register("text-bpe-train", _bpe_train_oracle(_BPE_N_MERGES))
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule TRAINING (Sennrich et al. 2016,
    operators/search.py bpe_train_merges): learn the corpus' top-6
    merge rules — each round counts weighted adjacent piece pairs over
    the (word, count) vocabulary and applies the argmax merge (count
    desc, lexicographic tie-break). The oracle replays all six rounds
    as chained CTEs over the identical double-separator string
    representation, so every learned rule AND its winning pair count
    must match exactly. The corpus-wide work is one word-count
    aggregation; rounds are vocab-sized."""
    from data_engineering_pipeline_spark.operators.search import (
        bpe_train_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, "text", _BPE_N_MERGES).orderBy(
        "merge_rank"
    )


@_register(
    "text-kneser-ney-ppl",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM t WHERE len(toks) >= 2
    ),
    ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    types AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    n1f AS (SELECT w1, count(*) AS nf FROM types GROUP BY w1),
    n1b AS (SELECT w2, count(*) AS nb2 FROM types GROUP BY w2),
    nbt AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM types),
    lq AS (
      SELECT ty.w1, ty.w2,
             CAST(floor(ln(
               (CAST(ty.c12 AS DOUBLE) - 0.75) / CAST(x.c1 AS DOUBLE)
               + (0.75 * CAST(f.nf AS DOUBLE) / CAST(x.c1 AS DOUBLE))
                 * (CAST(b.nb2 AS DOUBLE) / o.nb)
             ) * 1000000000 + 0.5) AS BIGINT) AS lq
      FROM types ty
      JOIN ctx x ON ty.w1 = x.w1
      JOIN n1f f ON ty.w1 = f.w1
      JOIN n1b b ON ty.w2 = b.w2
      CROSS JOIN nbt o
    ),
    d AS (
      SELECT bg.doc_id, count(*) AS n, CAST(sum(lq.lq) AS BIGINT) AS s
      FROM bg JOIN lq ON bg.w1 = lq.w1 AND bg.w2 = lq.w2
      GROUP BY bg.doc_id
    ),
    scored AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
             CAST(-s AS DOUBLE) / n / 1000000000.0 AS kn_ce
      FROM d
    )
    SELECT doc_id, n_bigrams, kn_ce,
           CAST(ntile(3) OVER (ORDER BY kn_ce, doc_id) AS BIGINT)
             AS ppl_bucket
    FROM scored ORDER BY doc_id
    """,
)
def text_kneser_ney_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy with perplexity
    terciles — the production-grade smoothing next to the fixed-
    interpolation LM of text-bigram-ppl (Kneser & Ney 1995; Chen &
    Goodman 1998):

        p(w2|w1) = (c12 - D)/c1 + (D * N1+(w1,.)/c1) * N1+(.,w2)/NB

    with D = 0.75 (exactly representable: 3/4) — absolute discounting
    plus the CONTINUATION back-off: a word's back-off mass is how many
    distinct contexts it follows, not its raw frequency, which is what
    stops high-count-but-single-context tokens (the 'San Francisco'
    effect) from leaking probability. Every scored bigram is seen
    (c12 >= 1 > D), so the discount never clips and the max() is
    dropped from the expression. Same cross-engine device as
    text-bigram-ppl: one quantized ln per bigram TYPE, exact integer
    doc sums, identical expression tree both engines. Scale notes
    identical to text-bigram-ppl (type/context stats are partial-agg
    groupBys; broadcast type dim; the allowlisted global ntile swaps
    for exact_kth_values at scale, as the pipeline freeze does)."""
    from data_engineering_pipeline_spark.operators.lm import (
        bigram_explode,
        kn_doc_ce,
        kn_train,
    )

    from data_engineering_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE across kn_train's stat branches + the scoring join
    # (lazy map-only checkpoint; the kn3/bigram-ppl r13 finding)
    toked = docs.select(
        "doc_id", tokens("text").alias("__toks")
    ).localCheckpoint(eager=False)
    bg = bigram_explode(toked, toks_col="__toks")
    scored = kn_doc_ce(bg, kn_train(bg)["lq"])
    from pyspark.sql import Window

    w = Window.orderBy("kn_ce", "doc_id")
    return (
        scored.withColumn(
            "ppl_bucket", F.ntile(3).over(w).cast("long")
        )
        .orderBy("doc_id")
    )


@_register(
    "text-kneser-ney3-ppl",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    tri AS (
      SELECT doc_id,
             unnest(toks[1:len(toks)-2]) AS w1,
             unnest(toks[2:len(toks)-1]) AS w2,
             unnest(toks[3:len(toks)]) AS w3
      FROM t WHERE len(toks) >= 3
    ),
    bgt AS (
      SELECT w1, w2, count(*) AS c12 FROM (
        SELECT doc_id,
               unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2
        FROM t WHERE len(toks) >= 2) GROUP BY w1, w2
    ),
    ty3 AS (SELECT w1, w2, w3, count(*) AS c123
            FROM tri GROUP BY w1, w2, w3),
    ctx12 AS (SELECT w1, w2, count(*) AS c12c FROM tri GROUP BY w1, w2),
    nf12 AS (SELECT w1, w2, count(*) AS nf3 FROM ty3 GROUP BY w1, w2),
    nb23 AS (SELECT w2, w3, count(*) AS nprec FROM ty3 GROUP BY w2, w3),
    nmid2 AS (SELECT w2, count(*) AS nmid FROM ty3 GROUP BY w2),
    nf2 AS (SELECT w2, count(DISTINCT w3) AS nf2c FROM ty3 GROUP BY w2),
    ncont AS (SELECT w2 AS w, count(*) AS nc FROM bgt GROUP BY w2),
    nbt AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bgt),
    lq AS (
      SELECT y.w1, y.w2, y.w3,
             CAST(floor(ln(
               (CAST(y.c123 AS DOUBLE) - 0.75) / CAST(x.c12c AS DOUBLE)
               + (0.75 * CAST(f.nf3 AS DOUBLE) / CAST(x.c12c AS DOUBLE))
                 * (
                   (CAST(p.nprec AS DOUBLE) - 0.75)
                     / CAST(m.nmid AS DOUBLE)
                   + (0.75 * CAST(g.nf2c AS DOUBLE)
                      / CAST(m.nmid AS DOUBLE))
                     * (CAST(q.nc AS DOUBLE) / o.nb)
                 )
             ) * 1000000000 + 0.5) AS BIGINT) AS lq
      FROM ty3 y
      JOIN ctx12 x ON y.w1 = x.w1 AND y.w2 = x.w2
      JOIN nf12 f ON y.w1 = f.w1 AND y.w2 = f.w2
      JOIN nb23 p ON y.w2 = p.w2 AND y.w3 = p.w3
      JOIN nmid2 m ON y.w2 = m.w2
      JOIN nf2 g ON y.w2 = g.w2
      JOIN ncont q ON y.w3 = q.w
      CROSS JOIN nbt o
    ),
    d AS (
      SELECT tri.doc_id, count(*) AS n, CAST(sum(lq.lq) AS BIGINT) AS s
      FROM tri JOIN lq
        ON tri.w1 = lq.w1 AND tri.w2 = lq.w2 AND tri.w3 = lq.w3
      GROUP BY tri.doc_id
    ),
    scored AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_trigrams,
             CAST(-s AS DOUBLE) / n / 1000000000.0 AS kn3_ce
      FROM d
    )
    SELECT doc_id, n_trigrams, kn3_ce,
           CAST(ntile(3) OVER (ORDER BY kn3_ce, doc_id) AS BIGINT)
             AS ppl_bucket
    FROM scored ORDER BY doc_id
    """,
)
def text_kneser_ney3_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram Kneser-Ney cross-entropy terciles — the full recursive
    chain (Chen & Goodman 1998): the trigram level discounts raw
    counts and backs off into a bigram level built from CONTINUATION
    counts (N1+(.w2w3)/N1+(.w2.) — how many distinct contexts the
    bigram completes, not how often), which itself backs off into the
    unigram continuation over bigram types. Every scored event is
    seen at every level (c123 >= 1 and N1+(.w2w3) >= 1, both > D =
    3/4 exactly), so no max clip appears anywhere in the expression
    and the whole three-level formula is one deterministic IEEE tree,
    quantized once per trigram TYPE. Docs with < 3 tokens drop.
    Scale shape as the bigram scorers: type/context stats are
    partial-agg groupBys, the type dim broadcasts, the allowlisted
    ntile swaps for exact_kth_values cutoffs at 100 TB (as the
    pipeline freeze does)."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE across the 7 stat-table branches (lazy map-only
    # checkpoint; measured 1.70 -> 1.27 s at sf0.1 — see
    # text-bigram-ppl's note for the scale tradeoff)
    toked = docs.select(
        "doc_id", tokens("text").alias("__toks")
    ).localCheckpoint(eager=False)
    tri = toked.filter(F.size("__toks") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__toks) - 2), "
                "i -> struct(element_at(__toks, i) AS w1, "
                "element_at(__toks, i + 1) AS w2, "
                "element_at(__toks, i + 2) AS w3))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2", "b.w3")
    bgt = (
        toked.filter(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__toks) - 1), "
                    "i -> struct(element_at(__toks, i) AS w1, "
                    "element_at(__toks, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    ty3 = tri.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c123")
    )
    ctx12 = tri.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12c"))
    nf12 = ty3.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("nf3"))
    nb23 = ty3.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("nprec"))
    nmid2 = ty3.groupBy("w2").agg(F.count(F.lit(1)).alias("nmid"))
    nf2 = ty3.groupBy("w2").agg(F.countDistinct("w3").alias("nf2c"))
    ncont = bgt.groupBy("w2").agg(F.count(F.lit(1)).alias("nc"))
    nbt = bgt.agg(F.count(F.lit(1)).cast("double").alias("nb"))
    lq = (
        ty3.join(F.broadcast(ctx12), ["w1", "w2"])
        .join(F.broadcast(nf12), ["w1", "w2"])
        .join(F.broadcast(nb23), ["w2", "w3"])
        .join(F.broadcast(nmid2), "w2")
        .join(F.broadcast(nf2), "w2")
        .join(
            F.broadcast(ncont.withColumnRenamed("w2", "w3")), "w3"
        )
        .join(F.broadcast(nbt))
        .select(
            "w1",
            "w2",
            "w3",
            F.floor(
                F.log(
                    (F.col("c123").cast("double") - F.lit(0.75))
                    / F.col("c12c").cast("double")
                    + (
                        F.lit(0.75)
                        * F.col("nf3").cast("double")
                        / F.col("c12c").cast("double")
                    )
                    * (
                        (F.col("nprec").cast("double") - F.lit(0.75))
                        / F.col("nmid").cast("double")
                        + (
                            F.lit(0.75)
                            * F.col("nf2c").cast("double")
                            / F.col("nmid").cast("double")
                        )
                        * (F.col("nc").cast("double") / F.col("nb"))
                    )
                )
                * 1_000_000_000
                + F.lit(0.5)
            ).alias("lq"),
        )
    )
    d = (
        tri.join(F.broadcast(lq), ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("lq").alias("s"))
    )
    scored = d.select(
        "doc_id",
        F.col("n").cast("long").alias("n_trigrams"),
        ((-F.col("s")).cast("double") / F.col("n") / F.lit(1e9)).alias(
            "kn3_ce"
        ),
    )
    from pyspark.sql import Window

    w = Window.orderBy("kn3_ce", "doc_id")
    return (
        scored.withColumn(
            "ppl_bucket", F.ntile(3).over(w).cast("long")
        )
        .orderBy("doc_id")
    )


def _qskw_oracle() -> str:
    from data_engineering_pipeline_spark.operators.sketch import (
        QSK_E_MAX,
        QSK_K,
        QSK_S,
    )

    ladder = " + ".join(
        f"CAST(x >= {1 << r} AS INT)" for r in range(1, QSK_E_MAX + 1)
    )
    return f"""
    WITH t AS (
      SELECT source, CAST(len({_TOKS}) AS BIGINT) AS x FROM documents
    ),
    eb AS (SELECT source, x, ({ladder}) AS e FROM t),
    bk AS (
      SELECT source, x,
             CASE WHEN x < {QSK_K} THEN x
                  ELSE CAST(e * {QSK_K} AS BIGINT)
                       + (x >> (e - {QSK_S})) - {QSK_K}
             END AS bid
      FROM eb
    ),
    sk AS (
      SELECT source, bid, CAST(sum(x) AS BIGINT) AS cnt
      FROM bk GROUP BY source, bid
    ),
    cm AS (
      SELECT source, bid, cnt,
             sum(cnt) OVER (PARTITION BY source ORDER BY bid) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS n
      FROM sk
    ),
    qs AS (SELECT * FROM (VALUES (50), (90), (99)) q(q_pct)),
    cand AS (
      SELECT source, q_pct, CAST(n AS BIGINT) AS n, min(bid) AS bid
      FROM cm, qs WHERE cum >= (n - 1) * q_pct // 100 + 1
      GROUP BY source, q_pct, n
    ),
    bounds AS (
      SELECT source, q_pct, n,
             CAST(CASE WHEN bid < {QSK_K} THEN bid
                  ELSE ({QSK_K} + bid % {QSK_K})
                       << (CAST(bid // {QSK_K} AS INT) - {QSK_S})
             END AS BIGINT) AS lo,
             CAST(CASE WHEN bid < {QSK_K} THEN bid
                  ELSE (({QSK_K} + bid % {QSK_K} + 1)
                        << (CAST(bid // {QSK_K} AS INT) - {QSK_S})) - 1
             END AS BIGINT) AS hi
      FROM cand
    ),
    xv AS (
      SELECT source, x, CAST(sum(x) AS BIGINT) AS wsum
      FROM t GROUP BY source, x
    ),
    xc AS (
      SELECT source, x,
             sum(wsum) OVER (PARTITION BY source ORDER BY x) AS cum,
             sum(wsum) OVER (PARTITION BY source) AS w
      FROM xv
    ),
    exq AS (
      SELECT source, q_pct, min(x) AS exact_val
      FROM xc, qs WHERE cum >= (w - 1) * q_pct // 100 + 1
      GROUP BY source, q_pct
    )
    SELECT b.source AS "group", b.q_pct, n, exact_val, lo, hi,
           (lo + hi) // 2 AS est
    FROM bounds b JOIN exq USING (source, q_pct)
    ORDER BY "group", q_pct
    """


@_register("text-quantiles-weighted", _qskw_oracle())
def text_quantiles_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-weighted document-length quantiles per source from the
    weighted dyadic sketch (qsketch_build with weight = the length
    itself): p50 answers "the median TOKEN lives in a document of
    what length" — the view that matters when long documents dominate
    the token budget, and a statistic plain SQL percentiles don't
    give. Same additive sketch, same structural bracket: the chosen
    bucket's [lo, hi] contains the exact weighted order statistic
    (verifier column). n is the total token weight per source."""
    from pyspark.sql import Window

    from data_engineering_pipeline_spark.operators.sketch import (
        qsketch_build,
        qsketch_quantiles,
    )
    from data_engineering_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        F.col("source").alias("group"),
        F.size(tokens("text")).cast("long").alias("x"),
    ).localCheckpoint(eager=False)
    pcts = [50, 90, 99]
    qq = qsketch_quantiles(
        qsketch_build(lens, "group", F.col("x"), weight=F.col("x")), pcts
    )
    xv = lens.groupBy("group", "x").agg(F.sum("x").alias("wsum"))
    wv = Window.partitionBy("group").orderBy("x")
    xc = xv.withColumn(
        "cum",
        F.sum("wsum").over(
            wv.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("w", F.sum("wsum").over(Window.partitionBy("group")))
    exq = (
        xc.withColumn(
            "q_pct", F.explode(F.array(*[F.lit(int(p)) for p in pcts]))
        )
        .filter(F.col("cum") >= F.expr("(w - 1) * q_pct div 100 + 1"))
        .groupBy("group", "q_pct")
        .agg(F.min("x").alias("exact_val"))
    )
    return (
        qq.join(exq, ["group", "q_pct"])
        .select("group", "q_pct", "n", "exact_val", "lo", "hi", "est")
        .orderBy("group", "q_pct")
    )


_GOPHER_MIN_T, _GOPHER_MAX_T = 30, 80
_GOPHER_MIN_ML, _GOPHER_MAX_ML = 4, 5

@_register(
    "text-gopher-rules",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
        len(toks) AS n,
        coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
          AS tc,
        len(string_split(text, '#')) - 1 AS nh,
        len(string_split(text, '...')) - 1 AS ne,
        len(list_filter(toks, x -> x IN {_STOP_SQL})) AS ns,
        len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
          AS na
      FROM t
    )
    SELECT doc_id,
      (n >= {_GOPHER_MIN_T} AND n <= {_GOPHER_MAX_T}) AS word_count,
      (tc >= {_GOPHER_MIN_ML} * n AND tc <= {_GOPHER_MAX_ML} * n)
        AS mean_word_len,
      ((nh + ne) * 1000 <= 100 * n) AS symbol_ratio,
      (na * 1000 >= 800 * n) AS alpha_words,
      (ns >= 2) AS stop_words,
      ((n >= {_GOPHER_MIN_T} AND n <= {_GOPHER_MAX_T})
       AND (tc >= {_GOPHER_MIN_ML} * n AND tc <= {_GOPHER_MAX_ML} * n)
       AND ((nh + ne) * 1000 <= 100 * n)
       AND (na * 1000 >= 800 * n)
       AND (ns >= 2)) AS keep
    FROM m ORDER BY doc_id
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality rules (Rae et al. 2021;
    operators/text.py gopher_rules): the cheap rule-based pre-filter a
    curation pipeline runs before any model-based scoring — word-count
    band, mean-word-length band, symbol ratio, alphabetic-word
    fraction, stopword presence — reported per rule plus the
    conjunction. Thresholds are per-mille integers cross-multiplied,
    so every boolean is bit-exact cross-engine with no division and
    no float boundary ties; the whole query is one scan of map-side
    codegen'd expressions (the 100 TB shape: this filter runs FIRST,
    so it must cost one pass and nothing else)."""
    from data_engineering_pipeline_spark.operators.text import (
        gopher_rules,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "text", tokens("text").alias("__toks"))
    rules = gopher_rules(
        "text",
        toks=F.col("__toks"),
        min_tokens=_GOPHER_MIN_T,
        max_tokens=_GOPHER_MAX_T,
        min_mean_len=_GOPHER_MIN_ML,
        max_mean_len=_GOPHER_MAX_ML,
    )
    return toked.select(
        "doc_id",
        *[rules[k].alias(k) for k in
          ("word_count", "mean_word_len", "symbol_ratio",
           "alpha_words", "stop_words", "keep")],
    ).orderBy("doc_id")


_OOV_V = 400

@_register(
    "text-oov-rate",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS w FROM t),
    v AS (
      SELECT w FROM (
        SELECT w, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, w) AS rn
        FROM ex GROUP BY w) WHERE rn <= {_OOV_V}
    )
    SELECT ex.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS oov_rate
    FROM ex LEFT JOIN v ON v.w = ex.w
    GROUP BY ex.doc_id ORDER BY ex.doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage scoring (operators/text.py oov_rate): each
    document's fraction of token occurrences outside the corpus'
    top-400 words — the tokenizer-pipeline noise filter (high-OOV
    docs are markup, wrong-language, or junk, and blow up into
    rare-piece sequences). The vocab cut is an ordered limit with a
    word tiebreak, so both engines keep the identical 400 words; the
    rate is an int/int IEEE division. One corpus explode, one
    broadcast membership join, one id groupBy."""
    from data_engineering_pipeline_spark.operators.text import oov_rate

    docs = load_table(spark, sf_dir, "documents")
    return oov_rate(docs, vocab_size=_OOV_V).orderBy("doc_id")
