"""Text-analysis operators: features/quality, language-ID, token
histogram, document fingerprinting.

All computation stays JVM-side (built-in pyspark.sql.functions — no
Python UDFs), so it whole-stage-codegens and scales linearly with input
splits; every query has a value-identical DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import engine_docs, tokens, tokens_sql

# BPE-ish subword pattern: letter runs, digit runs, single other glyphs.
SUBTOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "les", "une", "et", "est", "dans"],
    "es": ["el", "los", "una", "y", "es", "en"],
}


def _featurized(spark, sf_dir):
    """Per-doc token stats — shared subplan (single projection, no shuffle)."""
    docs = engine_docs(spark, sf_dir)
    w = tokens(F.col("text"))
    stop = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    return docs.select(
        "doc_id",
        "source",
        w.alias("w"),
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.length(F.regexp_replace(F.lower(F.trim("text")), r"\s", "")).alias(
            "n_nospace"
        ),
        F.size(F.regexp_extract_all(F.lower(F.trim("text")), F.lit(SUBTOKEN_RE), 0))
        .alias("n_subtokens"),
        F.size(F.filter(w, lambda t: t.isin(*STOPWORDS["en"]))).alias("n_stop"),
    )


def text_features(spark, sf_dir):
    """Quality features per document: token counts (whitespace + BPE-ish
    regex), distinct ratio, avg token length, stopword ratio, and a
    composite quality score in [0,1]."""
    f = _featurized(spark, sf_dir)
    nt = F.col("n_tokens").cast("double")
    out = f.select(
        "doc_id",
        "n_tokens",
        "n_subtokens",
        F.round(F.col("n_distinct") / nt, 4).alias("distinct_ratio"),
        F.round(F.col("n_nospace") / nt, 4).alias("avg_token_len"),
        F.round(F.col("n_stop") / nt, 4).alias("stopword_ratio"),
        F.round(
            F.least(nt / F.lit(100.0), F.lit(1.0)) * 0.4
            + (F.lit(1.0) - F.col("n_stop") / nt) * 0.3
            + (F.col("n_distinct") / nt) * 0.3,
            4,
        ).alias("quality_score"),
    )
    return out.orderBy("doc_id")


def _sql_stop_count(lang: str, w: str = "w") -> str:
    lst = ", ".join(f"'{s}'" for s in STOPWORDS[lang])
    return f"len(list_filter({w}, t -> t IN ({lst})))"


TEXT_FEATURES_SQL = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql()} AS w,
         length(regexp_replace(lower(trim(text)), '\\s', '', 'g')) AS n_nospace,
         len(regexp_extract_all(lower(trim(text)), '{SUBTOKEN_RE}')) AS n_subtokens
  FROM documents
)
SELECT doc_id,
       len(w) AS n_tokens,
       n_subtokens,
       ROUND(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) AS distinct_ratio,
       ROUND(n_nospace / CAST(len(w) AS DOUBLE), 4) AS avg_token_len,
       ROUND({_sql_stop_count("en")} / CAST(len(w) AS DOUBLE), 4) AS stopword_ratio,
       ROUND(least(len(w) / 100.0, 1.0) * 0.4
             + (1.0 - {_sql_stop_count("en")} / CAST(len(w) AS DOUBLE)) * 0.3
             + (len(list_distinct(w)) / CAST(len(w) AS DOUBLE)) * 0.3, 4)
         AS quality_score
FROM tok ORDER BY doc_id
"""


def lang_id(spark, sf_dir):
    """Stopword-profile language-ID heuristic (deterministic; the table's
    `lang` column is an independent label, not the target). Guess = the
    language whose stopword list hits most tokens; ties break by the
    fixed order en > de > es > fr; zero hits => 'und' (undetermined)."""
    docs = engine_docs(spark, sf_dir)
    w = tokens(F.col("text"))
    d = docs.select("doc_id", w.alias("w"))
    def stop_count(words):
        return F.size(F.filter(F.col("w"), lambda t: t.isin(*words)))

    for lang, words in STOPWORDS.items():
        d = d.withColumn(f"c_{lang}", stop_count(words))
    best = F.greatest(*[F.col(f"c_{x}") for x in STOPWORDS])
    guess = (
        F.when(best == 0, "und")
        .when(F.col("c_en") == best, "en")
        .when(F.col("c_de") == best, "de")
        .when(F.col("c_es") == best, "es")
        .otherwise("fr")
    )
    return (
        d.select(guess.alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_guess")
    )


LANG_ID_SQL = f"""
WITH tok AS (SELECT doc_id, {tokens_sql()} AS w FROM documents),
scored AS (
  SELECT doc_id,
         {_sql_stop_count("en")} AS c_en, {_sql_stop_count("de")} AS c_de,
         {_sql_stop_count("fr")} AS c_fr, {_sql_stop_count("es")} AS c_es
  FROM tok
),
guessed AS (
  SELECT CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
              WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
              WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
              WHEN c_es = greatest(c_en, c_de, c_fr, c_es) THEN 'es'
              ELSE 'fr' END AS lang_guess
  FROM scored
)
SELECT lang_guess, COUNT(*) AS n_docs FROM guessed
GROUP BY lang_guess ORDER BY lang_guess
"""


def token_histogram(spark, sf_dir):
    """Corpus-level token frequency top-20 (explode -> partial-agg counts;
    Catalyst plans a map-side combine before the single shuffle)."""
    docs = engine_docs(spark, sf_dir)
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


TOKEN_HISTOGRAM_SQL = f"""
SELECT token, COUNT(*) AS cnt
FROM (SELECT unnest({tokens_sql()}) AS token FROM documents)
GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
"""


def fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over whitespace-normalized lowered text
    plus a coarse length bucket — the join key for exact dedup at scale."""
    docs = engine_docs(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        (F.floor(F.length(norm) / 64) * 64).cast("long").alias("len_bucket"),
    ).orderBy("doc_id")


FINGERPRINT_SQL = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       CAST(floor(length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) / 64)
            * 64 AS BIGINT) AS len_bucket
FROM documents ORDER BY doc_id
"""


# PII patterns — RE2-compatible (no lookaround) so Spark's Java regex and
# DuckDB's RE2 match the exact same spans.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\d{3}-\d{3}-\d{4}"
PII_URL_RE = r"https?://[^\s]+"


def pii_redaction(spark, sf_dir):
    """PII scrubbing for training corpora: count + redact emails, phone
    numbers, and URLs per document (regexp_count / regexp_replace — pure
    JVM, codegen'd, no shuffle; the filter is the only row reducer). The
    corpus is augmented with deterministic synthetic PII on doc_id % 7 == 0
    (the raw testdata text is PII-free), identically in the oracle."""
    docs = engine_docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    pii = F.concat(
        F.col("text"), F.lit(" contact user"), did,
        F.lit("@mail.example.com or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" see https://site.example/page/"), did)
    t = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, pii).otherwise(F.col("text"))
        .alias("text"))
    cleaned = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[EMAIL]"),
            PII_URL_RE, "[URL]"),
        PII_PHONE_RE, "[PHONE]")
    out = t.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE_RE)).alias("n_phone"),
        F.regexp_count(F.col("text"), F.lit(PII_URL_RE)).alias("n_url"),
        F.length(cleaned).alias("clean_len"),
    )
    return (out.filter(
        (F.col("n_email") + F.col("n_phone") + F.col("n_url")) > 0)
        .orderBy("doc_id"))


PII_REDACTION_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com or call 555-'
                || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' see https://site.example/page/' || CAST(doc_id AS VARCHAR)
         ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_email,
       len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS n_phone,
       len(regexp_extract_all(text, '{PII_URL_RE}')) AS n_url,
       length(regexp_replace(regexp_replace(regexp_replace(
                text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                '{PII_URL_RE}', '[URL]', 'g'),
                '{PII_PHONE_RE}', '[PHONE]', 'g')) AS clean_len
FROM aug
WHERE len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
      + len(regexp_extract_all(text, '{PII_PHONE_RE}'))
      + len(regexp_extract_all(text, '{PII_URL_RE}')) > 0
ORDER BY doc_id
"""


# BPE-style pre-tokenizer (GPT-2 shape, RE2-compatible: no lookaround, so
# Spark's Java regex and DuckDB's RE2 split identically): contraction
# suffixes, space-attached letter runs, digit runs, punctuation runs.
# Applied to lowered text; counts approximate LLM token budgets far better
# than whitespace words (punctuation and digits tokenize separately).
BPE_RE = r"'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ']+"


def token_count_bpe(spark, sf_dir):
    """Per-source token budgets: whitespace words vs BPE-ish pre-tokens
    (regexp_count — pure JVM, codegen'd; one partial-agg shuffle)."""
    docs = engine_docs(spark, sf_dir)
    lower = F.lower(F.trim("text"))
    return (docs.select(
                "source",
                F.size(tokens(F.col("text"))).alias("ws"),
                F.regexp_count(lower, F.lit(BPE_RE)).alias("bpe"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ws").alias("ws_tokens"),
                 F.sum("bpe").alias("bpe_tokens"),
                 F.round(F.sum("bpe") / F.sum("ws"), 4).alias("bpe_per_word"))
            .orderBy("source"))


_BPE_SQL_RE = BPE_RE.replace("'", "''")

TOKEN_COUNT_BPE_SQL = f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len({tokens_sql()})) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(lower(trim(text)), '{_BPE_SQL_RE}')))
            AS BIGINT) AS bpe_tokens,
       ROUND(SUM(len(regexp_extract_all(lower(trim(text)), '{_BPE_SQL_RE}')))
             / CAST(SUM(len({tokens_sql()})) AS DOUBLE), 4) AS bpe_per_word
FROM documents GROUP BY source ORDER BY source
"""


def _bigrams_col():
    """Adjacent-token bigrams as 'w[i] w[i+1]' strings. SQL twin keeps
    byte-identical slicing: Spark slice(w,1,n-1)/slice(w,2,n-1) ==
    DuckDB w[1:len(w)-1]/w[2:] (1-based inclusive)."""
    w = F.col("w")
    n = F.size(w)
    return F.zip_with(F.slice(w, 1, n - 1), F.slice(w, 2, n - 1),
                      lambda x, y: F.concat_ws(" ", x, y))


_BIGRAMS_SQL = ("list_transform(list_zip(w[1:len(w)-1], w[2:]), "
                "p -> p[1] || ' ' || p[2])")


def repetition_score(spark, sf_dir):
    """Repetition quality filter: per-source duplicate-bigram mass
    (1 - distinct/total over all bigrams in the source). Integer sums of
    per-doc counts keep the division exact cross-engine; the per-doc map
    stage is JVM array functions, the rollup one partial-agg shuffle."""
    docs = engine_docs(spark, sf_dir)
    d = docs.select("source", tokens(F.col("text")).alias("w"))
    b = d.select("source", _bigrams_col().alias("b"))
    agg = (b.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size("b")).alias("n_bigrams"),
                F.sum(F.size(F.array_distinct("b"))).alias("n_distinct")))
    return (agg.select(
        "source", "n_docs", "n_bigrams",
        F.round(F.lit(1.0) - F.col("n_distinct")
                / F.col("n_bigrams").cast("double"), 4)
        .alias("dup_bigram_frac"))
        .orderBy("source"))


REPETITION_SCORE_SQL = f"""
WITH tok AS (SELECT source, {tokens_sql()} AS w FROM documents),
bg AS (SELECT source, {_BIGRAMS_SQL} AS b FROM tok)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(b)) AS BIGINT) AS n_bigrams,
       ROUND(1.0 - SUM(len(list_distinct(b)))
             / CAST(SUM(len(b)) AS DOUBLE), 4) AS dup_bigram_frac
FROM bg GROUP BY source ORDER BY source
"""


def corpus_top_bigrams(spark, sf_dir):
    """Corpus-level n-gram statistics: top-50 bigrams by frequency
    (count desc, bigram asc tiebreak — fully deterministic). Explode ->
    partial-agg shuffle; row volume is token count, never collected."""
    docs = engine_docs(spark, sf_dir)
    d = docs.select(tokens(F.col("text")).alias("w"))
    bg = d.select(F.explode(_bigrams_col()).alias("bigram"))
    return (bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("bigram"))
            .limit(50))


CORPUS_TOP_BIGRAMS_SQL = f"""
WITH tok AS (SELECT {tokens_sql()} AS w FROM documents),
bg AS (SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM tok)
SELECT bigram, COUNT(*) AS n FROM bg
GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
"""


TFIDF_TOP_K = 5
TFIDF_SCALE = 1_000_000  # integer-scaled reciprocal doc frequency


def tfidf_top_terms(spark, sf_dir):
    """Per-language distinctive terms: top-{k} by an integer TF-IDF
    proxy — term count within the language x (SCALE // corpus doc
    frequency). Integer arithmetic end-to-end (no log, no division
    remainder), so both engines rank identically; ties break on the
    term itself.

    100 TB shape: one explode -> partial-agg per (lang, term); the
    corpus doc-frequency table is another partial-agg and joins on
    term (both sides pre-aggregated, so the join input is vocabulary-
    sized, not token-sized); final top-k is a per-language window over
    vocabulary rows."""
    from pyspark.sql import Window

    docs = engine_docs(spark, sf_dir).select("doc_id", "lang", "text")
    toks = docs.select("doc_id", "lang",
                       F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    scored = (tf.join(df_, "term")
              .withColumn("score",
                          F.col("tf") * F.expr(
                              f"{TFIDF_SCALE}L div df")))
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("term"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TFIDF_TOP_K)
            .select("lang", "rnk", "term", "tf", "df",
                    F.col("score").cast("long").alias("score"))
            .orderBy("lang", "rnk"))


TFIDF_TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({tokens_sql()}) AS term FROM documents
),
tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
scored AS (
  SELECT tf.lang, tf.term, tf.tf, df.df,
         tf.tf * ({TFIDF_SCALE} // df.df) AS score
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT lang, term, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT lang, rnk, term, tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score
FROM ranked WHERE rnk <= {TFIDF_TOP_K} ORDER BY lang, rnk
"""


# Gopher-style quality-gate thresholds (Rae et al. 2021, "Scaling
# Language Models", table A1 — the public rule shapes, tuned to this
# corpus's size range). All comparisons cross-multiply so every rule is
# integer-exact in both engines.
QF_MIN_TOKENS, QF_MAX_TOKENS = 30, 10_000
QF_MIN_AWL, QF_MAX_AWL = 3, 8       # mean word length in [3, 8]
QF_MIN_STOP = 2                     # >= 2 English stopword hits
QF_MAX_DUP_BG_PCT = 30              # duplicate-bigram mass <= 30%


def quality_filter_gopher(spark, sf_dir):
    """Gopher-style document quality gate: per-doc boolean rule columns
    (token-count bounds, mean-word-length bounds, stopword floor,
    duplicate-bigram ceiling) and the composite keep flag a curation
    pipeline would filter on.

    100 TB shape: one narrow projection per document — no shuffle, no
    UDFs, whole-stage codegen end-to-end; the orderBy exists only for
    the deterministic oracle compare. Exactness: every rule is an
    integer cross-multiplication (no ratio division), so the engines
    cannot disagree on a boundary document."""
    docs = engine_docs(spark, sf_dir)
    w = tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        w.alias("w"),
        F.length(F.regexp_replace(F.lower(F.trim("text")), r"\s", ""))
        .alias("n_nospace"),
    )
    mid = base.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        "n_nospace",
        F.size(F.filter(F.col("w"), lambda t: t.isin(*STOPWORDS["en"])))
        .alias("n_stop"),
        _bigrams_col().alias("b"),  # materialized once, sized twice below
    )
    f = mid.select(
        "doc_id", "n_tokens", "n_nospace", "n_stop",
        F.size("b").alias("n_bg"),
        F.size(F.array_distinct("b")).alias("n_dbg"),
    )
    nt = F.col("n_tokens")
    ok_len = (nt >= QF_MIN_TOKENS) & (nt <= QF_MAX_TOKENS)
    ok_wl = (F.col("n_nospace") >= nt * QF_MIN_AWL) & (
        F.col("n_nospace") <= nt * QF_MAX_AWL)
    ok_stop = F.col("n_stop") >= QF_MIN_STOP
    ok_rep = (F.col("n_bg") - F.col("n_dbg")) * 100 <= \
        F.col("n_bg") * QF_MAX_DUP_BG_PCT
    return f.select(
        "doc_id", "n_tokens",
        ok_len.alias("ok_len"),
        ok_wl.alias("ok_wordlen"),
        ok_stop.alias("ok_stop"),
        ok_rep.alias("ok_rep"),
        (ok_len & ok_wl & ok_stop & ok_rep).alias("keep"),
    ).orderBy("doc_id")


QUALITY_FILTER_SQL = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql()} AS w,
         length(regexp_replace(lower(trim(text)), '\\s', '', 'g')) AS n_nospace
  FROM documents
),
f AS (
  SELECT doc_id, len(w) AS n_tokens, n_nospace,
         {_sql_stop_count("en")} AS n_stop,
         len({_BIGRAMS_SQL}) AS n_bg,
         len(list_distinct({_BIGRAMS_SQL})) AS n_dbg
  FROM tok
)
SELECT doc_id, n_tokens,
       (n_tokens >= {QF_MIN_TOKENS} AND n_tokens <= {QF_MAX_TOKENS}) AS ok_len,
       (n_nospace >= n_tokens * {QF_MIN_AWL}
        AND n_nospace <= n_tokens * {QF_MAX_AWL}) AS ok_wordlen,
       (n_stop >= {QF_MIN_STOP}) AS ok_stop,
       ((n_bg - n_dbg) * 100 <= n_bg * {QF_MAX_DUP_BG_PCT}) AS ok_rep,
       (n_tokens >= {QF_MIN_TOKENS} AND n_tokens <= {QF_MAX_TOKENS}
        AND n_nospace >= n_tokens * {QF_MIN_AWL}
        AND n_nospace <= n_tokens * {QF_MAX_AWL}
        AND n_stop >= {QF_MIN_STOP}
        AND (n_bg - n_dbg) * 100 <= n_bg * {QF_MAX_DUP_BG_PCT}) AS keep
FROM f ORDER BY doc_id
"""


def lm_quality_score(spark, sf_dir):
    """CCNet-style unigram-LM quality score (Wenzek et al. 2020: docs
    are ranked by their perplexity under a corpus LM; far-from-
    distribution text scores low): per-doc mean token log-probability
    under the corpus's own unigram distribution, plus the perplexity
    proxy exp(-mean).

    100 TB shape: one explode -> token-keyed partial agg builds the LM
    (vocabulary-sized result); the scoring join is token-keyed with a
    pre-aggregated build side, then one doc-keyed partial agg — the
    same two-shuffle skeleton as tfidf_top_terms, nothing collected."""
    docs = engine_docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    lm = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = lm.agg(F.sum("c").alias("n"))
    scored = (toks.join(lm, "t")
              .crossJoin(F.broadcast(total))
              .select("doc_id",
                      F.log(F.col("c") / F.col("n")).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg("lp"), 4).alias("avg_logprob"),
                 F.round(F.exp(-F.avg("lp")), 2).alias("ppl"))
            .orderBy("doc_id"))


LM_QUALITY_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({tokens_sql()}) AS t FROM documents),
lm AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM lm)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(ln(c / CAST(n AS DOUBLE))), 4) AS avg_logprob,
       ROUND(exp(-AVG(ln(c / CAST(n AS DOUBLE)))), 2) AS ppl
FROM toks JOIN lm USING (t), tot
GROUP BY doc_id ORDER BY doc_id
"""


REGISTRY = {
    "text_features": (text_features, TEXT_FEATURES_SQL),
    "lm_quality_score": (lm_quality_score, LM_QUALITY_SQL),
    "quality_filter_gopher": (quality_filter_gopher, QUALITY_FILTER_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_TOP_TERMS_SQL),
    "repetition_score": (repetition_score, REPETITION_SCORE_SQL),
    "corpus_top_bigrams": (corpus_top_bigrams, CORPUS_TOP_BIGRAMS_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "token_histogram": (token_histogram, TOKEN_HISTOGRAM_SQL),
    "token_count_bpe": (token_count_bpe, TOKEN_COUNT_BPE_SQL),
    "fingerprint": (fingerprint, FINGERPRINT_SQL),
    "pii_redaction": (pii_redaction, PII_REDACTION_SQL),
}
