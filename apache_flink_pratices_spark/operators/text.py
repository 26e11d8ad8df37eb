"""Text-analysis operators over the `documents` table.

Covers the reference's tokenizer pipeline (P2+A1: ``examples/word_count.py:
13-25,44-48`` — lower, whitespace split, per-key count) plus the
training-data-pipeline extensions: token counting, quality scoring,
document fingerprinting (rolling hash) and marker-based language ID.

Everything is built-in column expressions + higher-order functions —
JVM-side, no Python in the hot path. At 100 TB the only shuffle per query is
the final groupBy; per-document metrics are embarrassingly parallel map work.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_pratices_spark import artifacts
from apache_flink_pratices_spark.functions.hashing import MOD, md5_long, sql_md5_long
from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.registry import register

STOPWORDS = ("the", "a")

#: marker words for the toy language-ID heuristic (deterministic n-gram/
#: stopword-profile scoring; a real model would load per-language profiles)
LANG_MARKERS = {
    "en": ("the", "a", "fast"),
    "de": ("der", "die", "und"),
    "es": ("el", "la", "que"),
    "fr": ("le", "la", "et"),
    "zh": ("的", "了", "是"),
}


def tokens(col: str = "text") -> F.Column:
    """lower + whitespace split (word_count.py:17)."""
    return F.split(F.lower(F.col(col)), " ")


@register(
    "wordcount",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    doc="P2+A1: the reference's flagship word count — flat_map tokenizer + "
    "keyed count (word_count.py:13-25). Batch gives final per-key totals; "
    "streaming update-mode twin in streaming/wordcount.",
    bench=True,
    tags=("text", "aggregation"),
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split(lower(text), ' ') AS ws,
             length(text) AS n_chars_m
      FROM documents
    )
    SELECT doc_id, lang,
           len(ws) AS n_words,
           n_chars_m AS n_chars_measured,
           len(list_filter(ws, w -> w IN {STOPWORDS!r})) AS n_stopwords,
           CAST(len(list_filter(ws, w -> w IN {STOPWORDS!r})) AS DOUBLE) / len(ws) AS stopword_ratio,
           CAST(n_chars_m - (len(ws) - 1) AS DOUBLE) / len(ws) AS avg_word_len,
           least(1.0, len(ws) / 64.0)
             * (1.0 - CAST(len(list_filter(ws, w -> w IN {STOPWORDS!r})) AS DOUBLE) / len(ws))
             AS quality_score
    FROM t
    WHERE len(ws) > 0
    """,
    doc="Quality scoring: token count, stopword ratio, average word length, "
    "composite score — per-document map work, zero shuffles.",
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = tokens()
    t = d.select(
        "doc_id",
        "lang",
        ws.alias("ws"),
        F.length("text").alias("n_chars_m"),
    ).filter(F.size("ws") > 0)
    n_words = F.size("ws")
    n_stop = F.size(F.filter(F.col("ws"), lambda w: w.isin(*STOPWORDS)))
    stop_ratio = n_stop.cast("double") / n_words
    return t.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        F.col("n_chars_m").alias("n_chars_measured"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        ((F.col("n_chars_m") - (n_words - F.lit(1))).cast("double") / n_words).alias("avg_word_len"),
        (F.least(F.lit(1.0), n_words / F.lit(64.0)) * (F.lit(1.0) - stop_ratio)).alias("quality_score"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             unnest(string_split(lower(text), ' ')) AS w,
             generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(pos * ({sql_md5_long('w')} % {MOD})) % {MOD} AS BIGINT) AS fingerprint
    FROM words
    GROUP BY doc_id
    """,
    doc="Document fingerprinting: position-weighted rolling hash over tokens "
    "(order-sensitive content signature for dedup/provenance). Portable "
    "md5-derived 56-bit word hashes; both engines accumulate the weighted "
    "terms exactly (DECIMAL(38,0) in Spark, HUGEINT in DuckDB) before the "
    "final %MOD, so long documents cannot overflow int64 mid-sum.",
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select("doc_id", F.posexplode(tokens()).alias("pos0", "w"))
    # Accumulate as DECIMAL(38,0): terms grow as pos·1e9, so an int64 sum
    # would overflow past ~135k tokens while DuckDB (HUGEINT) would not.
    term = ((F.col("pos0") + 1) * (md5_long(F.col("w")) % MOD)).cast("decimal(38,0)")
    return (
        words.select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            (F.sum("term") % MOD).cast("long").alias("fingerprint"),
        )
    )


#: BPE-ish token pattern: alphabetic runs, digit runs, and single
#: non-alphanumeric marks — the character-class segmentation a byte-pair
#: tokenizer bottoms out at. Plain classes only, so Java regex (Spark) and
#: RE2 (DuckDB) agree exactly.
_BPEISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "token_count_bpeish",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '{_BPEISH}')) AS bpeish_tokens,
           CAST(length(text) AS DOUBLE)
             / len(regexp_extract_all(lower(text), '{_BPEISH}')) AS chars_per_token
    FROM documents
    WHERE length(text) > 0
    """,
    doc="Token counting two ways: whitespace tokens and a BPE-ish "
    "character-class segmentation (letter runs / digit runs / single "
    "marks), plus chars-per-token — the budget metric an LLM-data "
    "pipeline bins documents by. Pure per-row map, zero shuffles.",
    tags=("text", "tokens"),
)
def token_count_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bpeish = F.expr(f"size(regexp_extract_all(lower(text), '{_BPEISH}', 0))")
    return (
        d.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
            bpeish.alias("bpeish_tokens"),
            (F.length("text").cast("double") / bpeish).alias("chars_per_token"),
        )
    )


def _sql_marker_score(lang: str) -> str:
    markers = LANG_MARKERS[lang]
    return f"len(list_filter(ws, w -> w IN {markers!r}))"


@register(
    "lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {_sql_marker_score('en')} AS s_en,
             {_sql_marker_score('de')} AS s_de,
             {_sql_marker_score('es')} AS s_es,
             {_sql_marker_score('fr')} AS s_fr,
             {_sql_marker_score('zh')} AS s_zh
      FROM t
    )
    SELECT doc_id, lang,
           CASE GREATEST(s_en, s_de, s_es, s_fr, s_zh)
             WHEN 0 THEN 'und'
             WHEN s_en THEN 'en'
             WHEN s_de THEN 'de'
             WHEN s_es THEN 'es'
             WHEN s_fr THEN 'fr'
             ELSE 'zh' END AS pred_lang
    FROM scored
    """,
    doc="Language ID: deterministic marker-word profile scoring (argmax with "
    "fixed tie order en>de>es>fr>zh; 'und' when no marker hits).",
    tags=("text", "langid"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", tokens().alias("ws"))
    def marker_filter(markers: tuple[str, ...]):
        # NB: must be a 1-arg lambda — a 2-arg lambda would make F.filter
        # pass the element *index* as the second argument.
        return lambda w: w.isin(*markers)

    scores = {lang: F.size(F.filter(F.col("ws"), marker_filter(markers))) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, "und")
    for lang in ("en", "de", "es", "fr"):
        pred = pred.when(scores[lang] == best, lang)
    pred = pred.otherwise("zh")
    return t.select("doc_id", "lang", pred.alias("pred_lang"))


# --- TF-IDF top terms ------------------------------------------------------

TFIDF_TOP_K = 5


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, w AS term, COUNT(*) AS tf
      FROM words WHERE w <> '' GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             CAST(t.tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / d.df
               AS score
      FROM tf t JOIN df d ON d.term = t.term
    )
    SELECT doc_id, term, tf, df, score, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rn
          FROM scored)
    WHERE rn <= {TFIDF_TOP_K}
    """,
    doc=f"Top-{TFIDF_TOP_K} discriminative terms per document by TF-IDF "
    "with *linear* IDF (tf·n_docs/df): IEEE division is correctly rounded "
    "so both engines produce bit-identical scores, whereas libm ln() is "
    "not and a log-IDF would hash-diverge at the ULP level. The ranking "
    "for fixed tf is identical (both IDFs are monotone in df). df is a "
    "broadcast-sized vocabulary table; the per-doc window is "
    "doc-partitioned, so parallelism scales with the corpus.",
    bench=True,
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    # corpus-cardinality scalar: one count action, then a plan literal —
    # the same role as a trained IDF table's row count (model state),
    # not a per-row driver loop.
    n_docs = d.count()
    # NO persist on tf, by measurement (r15, VERDICT r14 #1a): the r14
    # persist ("one tokenize pass is the floor") was driver-measured
    # SLOWER — 1.441 → 2.183 s at a stable 18% spread — and the r15
    # same-box A/B under the driver recipe confirmed it loses even with
    # AQE-coalesced cache builds (no-persist 0.914 s @ cal 0.982 vs
    # persist 1.041 s @ cal 0.874, spreads 32/13%): the materialization
    # barrier before the broadcast join costs more than the second
    # pipelined tokenize pass saves (guide §1.1 — the measurement
    # outranks the ideal plan; same verdict as build_inverted_index's
    # rejected persist).
    tf = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # optimizer-chosen join: auto-broadcast at this SF (plan-audited), but
    # an open-vocabulary 100 TB corpus can outgrow the broadcast threshold
    # and must be allowed to fall back to a shuffle join
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        ((F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rn")
    )


# --- repetition-based quality filters (Gopher-style) -----------------------

#: keep thresholds for the repetition filter (Rae et al., "Scaling Language
#: Models: ... Gopher" §A1.1-style repetition signals, re-tuned to the
#: synthetic corpus so the filter splits it non-trivially: keeps ~43%)
REP_MIN_DISTINCT_RATIO = 0.45
REP_MAX_TOP_WORD_FRAC = 0.18
REP_MAX_DUP_BIGRAM_FRAC = 0.05


def _repetition_metrics(t: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_distinct, top_word_cnt, n_dup_bigrams) for a
    ``(doc_id, ws)`` token-list frame — vectorized Arrow ``mapInPandas``.

    All four metrics are integer counts over the JVM-produced token list,
    so Python hash counting is exactly the HOF arithmetic (no floats, no
    collation: tokens arrive as the same UTF-8 strings the expressions
    compare). Bigrams dedupe as (w_i, w_{i+1}) tuples — equivalent to the
    twin's ``concat(w_i, ' ', w_{i+1})`` strings because tokens are
    split on ' ' and therefore never contain one. Counter/max is O(n)
    per row; the twin's ``filter-per-distinct`` top-word scan is
    O(n·distinct) and interpreted per element."""
    import pandas as pd

    def fn(batches):
        from collections import Counter

        for pdf in batches:
            if len(pdf) == 0:
                continue
            n_words, n_distinct, top_cnt, dup_bg = [], [], [], []
            for ws in pdf["ws"]:
                n = len(ws)
                c = Counter(ws)
                n_words.append(n)
                n_distinct.append(len(c))
                # empty token list → 0, matching the HOF twin's
                # array_max(empty) = null coalesced by the callers'
                # size(ws) > 0 pre-filter; without the guard a stray
                # empty row would crash the Python worker (max() of an
                # empty sequence) instead of degrading (ADVICE r14)
                top_cnt.append(max(c.values()) if n else 0)
                if n >= 2:
                    dup_bg.append(
                        (n - 1) - len({(ws[i], ws[i + 1]) for i in range(n - 1)})
                    )
                else:
                    dup_bg.append(0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_words": pd.array(n_words, dtype="int32"),
                    "n_distinct": pd.array(n_distinct, dtype="int32"),
                    "top_word_cnt": pd.array(top_cnt, dtype="int32"),
                    "n_dup_bigrams": pd.array(dup_bg, dtype="int32"),
                }
            )

    return t.select("doc_id", "ws").mapInPandas(
        fn,
        "doc_id bigint, n_words int, n_distinct int, "
        "top_word_cnt int, n_dup_bigrams int",
    )


def _repetition_metrics_expr(t: DataFrame) -> DataFrame:
    """Retained higher-order-function twin of :func:`_repetition_metrics`
    — the cross-engine formulation the DuckDB oracle mirrors (pinned
    bit-equal in tests/test_text_pipeline.py)."""
    return t.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
        F.expr(
            "array_max(transform(array_distinct(ws), "
            "d -> size(filter(ws, w -> w = d))))"
        ).alias("top_word_cnt"),
        F.expr(
            "CASE WHEN size(ws) >= 2 THEN size(ws) - 1 - size(array_distinct("
            "transform(sequence(1, size(ws) - 1), "
            "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))))) "
            "ELSE 0 END"
        ).alias("n_dup_bigrams"),
    )


@register(
    "quality_repetition",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id, len(ws) AS n_words,
             len(list_distinct(ws)) AS n_distinct,
             list_max(list_transform(list_distinct(ws),
                                     d -> len(list_filter(ws, w -> w = d)))) AS top_word_cnt,
             CASE WHEN len(ws) >= 2
                  THEN len(ws) - 1 - len(list_distinct(list_transform(
                         generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1])))
                  ELSE 0 END AS n_dup_bigrams
      FROM t WHERE len(ws) > 0
    )
    SELECT doc_id, n_words,
           CAST(n_distinct AS DOUBLE) / n_words AS distinct_word_ratio,
           CAST(top_word_cnt AS DOUBLE) / n_words AS top_word_frac,
           CASE WHEN n_words >= 2
                THEN CAST(n_dup_bigrams AS DOUBLE) / (n_words - 1)
                ELSE CAST(0 AS DOUBLE) END AS dup_bigram_frac,
           (CAST(n_distinct AS DOUBLE) / n_words >= {REP_MIN_DISTINCT_RATIO}
            AND CAST(top_word_cnt AS DOUBLE) / n_words <= {REP_MAX_TOP_WORD_FRAC}
            AND (CASE WHEN n_words >= 2
                      THEN CAST(n_dup_bigrams AS DOUBLE) / (n_words - 1)
                      ELSE CAST(0 AS DOUBLE) END) <= {REP_MAX_DUP_BIGRAM_FRAC}) AS keep
    FROM m
    """,
    doc="Gopher-style repetition quality filters: distinct-word ratio, "
    "most-frequent-word fraction, duplicate-bigram fraction, and the "
    "composite keep/drop verdict. Map-only (ZERO shuffles), so at 100 TB "
    "it is embarrassingly parallel: tokenization stays a JVM expression "
    "(split/lower/filter — the cross-engine string semantics the oracle "
    "mirrors) and the four integer counts run in ONE vectorized Arrow "
    "kernel per token list — O(n_words) per row via hash counting, where "
    "the retained higher-order-function twin pays an INTERPRETED "
    "O(n_words × n_distinct) top-word scan (r14: that scan was the "
    "query's hot loop; kernel pinned bit-equal to the twin in "
    "tests/test_text_pipeline.py).",
    bench=True,
    tags=("text", "quality", "repetition", "curation"),
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), w -> w <> '')").alias("ws"),
    ).filter(F.size("ws") > 0)
    m = _repetition_metrics(t)
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_words")
    top_frac = F.col("top_word_cnt").cast("double") / F.col("n_words")
    dup_bg = F.when(
        F.col("n_words") >= 2,
        F.col("n_dup_bigrams").cast("double") / (F.col("n_words") - 1),
    ).otherwise(F.lit(0.0))
    return m.select(
        "doc_id",
        "n_words",
        distinct_ratio.alias("distinct_word_ratio"),
        top_frac.alias("top_word_frac"),
        dup_bg.alias("dup_bigram_frac"),
        (
            (distinct_ratio >= REP_MIN_DISTINCT_RATIO)
            & (top_frac <= REP_MAX_TOP_WORD_FRAC)
            & (dup_bg <= REP_MAX_DUP_BIGRAM_FRAC)
        ).alias("keep"),
    )


# --- PII detection / redaction ----------------------------------------------

#: detector patterns — plain character classes and bounded repeats only, so
#: Java regex (Spark) and RE2 (DuckDB) agree exactly. Replacement order is
#: email -> phone -> ip: earlier replacements insert no digits/dots, so
#: later patterns cannot match inside a placeholder.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PII_PHONE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
PII_IPV4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

_SQL_PII_ENRICH = (
    "text || ' contact user' || doc_id || '@' || source || "
    "'.example.com tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
    "' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || "
    "CAST(doc_id % 250 AS VARCHAR) || '.7'"
)


@register(
    "pii_redaction",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id, {_SQL_PII_ENRICH} AS body FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(body, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(body, '{PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(body, '{PII_IPV4}')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(
             body, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g') AS redacted
    FROM enriched
    """,
    doc="PII detection and redaction: per-document counts and masked text "
    "for email / phone / IPv4 patterns. The synthetic corpus carries no "
    "PII, so each document is first deterministically enriched with "
    "key-derived contact strings (making detection verifiable); the "
    "detector regexes use only character classes and bounded repeats so "
    "Java regex and RE2 agree. Pure per-row JVM map work, zero shuffles "
    "— at 100 TB this is the same embarrassingly parallel scrub pass a "
    "real pipeline runs before training.",
    tags=("text", "pii", "curation"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com tel +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".7"),
    )
    enriched = d.select("doc_id", body.alias("body"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("body"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IPV4,
        "<IP>",
    )
    return enriched.select(
        "doc_id",
        F.regexp_count(F.col("body"), F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("body"), F.lit(PII_PHONE)).alias("n_phones"),
        F.regexp_count(F.col("body"), F.lit(PII_IPV4)).alias("n_ips"),
        redacted.alias("redacted"),
    )


# --- context-window chunking ------------------------------------------------

#: chunking geometry: each chunk holds CHUNK_TOKENS BPE-ish tokens and
#: consecutive chunks overlap by CHUNK_TOKENS - CHUNK_STRIDE tokens (the
#: sliding-context layout retrieval/embedding pipelines feed models with)
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "doc_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '{_BPEISH}')) AS n_tokens
      FROM documents WHERE length(text) > 0
    ),
    chunked AS (
      SELECT doc_id, n_tokens,
             unnest(generate_series(0,
               CASE WHEN n_tokens <= {CHUNK_TOKENS} THEN 0
                    ELSE (n_tokens - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
               END)) AS chunk_id
      FROM toks
    )
    SELECT doc_id, n_tokens, chunk_id,
           chunk_id * {CHUNK_STRIDE} AS tok_start,
           least(chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n_tokens) AS tok_end,
           least(chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n_tokens)
             - chunk_id * {CHUNK_STRIDE} AS chunk_tokens
    FROM chunked
    """,
    doc=f"Context-window chunking: split each document into "
    f"{CHUNK_TOKENS}-token chunks with stride {CHUNK_STRIDE} (overlap "
    f"{CHUNK_TOKENS - CHUNK_STRIDE}) over the BPE-ish token stream — the "
    "retrieval/embedding-pipeline layout. Pure map + explode with integer "
    "arithmetic only, zero shuffles; chunk count per doc is "
    "ceil((n-W)/S)+1 so output size is linear in corpus tokens.",
    tags=("text", "chunking", "curation"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tokens = F.expr(f"size(regexp_extract_all(lower(text), '{_BPEISH}', 0))")
    toks = d.filter(F.length("text") > 0).select(
        "doc_id", n_tokens.alias("n_tokens")
    )
    last_chunk = F.when(
        F.col("n_tokens") <= CHUNK_TOKENS, F.lit(0)
    ).otherwise(
        F.expr(
            f"(n_tokens - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE}"
        )
    )
    chunked = toks.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), last_chunk)).alias("chunk_id"),
    )
    tok_start = F.col("chunk_id") * CHUNK_STRIDE
    tok_end = F.least(tok_start + CHUNK_TOKENS, F.col("n_tokens"))
    return chunked.select(
        "doc_id",
        "n_tokens",
        "chunk_id",
        tok_start.alias("tok_start"),
        tok_end.alias("tok_end"),
        (tok_end - tok_start).alias("chunk_tokens"),
    )


# --- BPE merge candidates --------------------------------------------------

BPE_TOP_MERGES = 20


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    pairs AS (
      SELECT ws[i] AS left_tok, ws[i+1] AS right_tok
      FROM docs, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
      WHERE len(ws) >= 2 AND ws[i] <> '' AND ws[i+1] <> ''
    ),
    counted AS (
      SELECT left_tok, right_tok, COUNT(*) AS pair_count
      FROM pairs GROUP BY left_tok, right_tok
    )
    SELECT left_tok, right_tok, pair_count, rn
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pair_count DESC,
                                       left_tok, right_tok) AS rn
          FROM counted)
    WHERE rn <= {BPE_TOP_MERGES}
    """,
    doc=f"BPE-style merge candidates: the {BPE_TOP_MERGES} most frequent "
    "adjacent token pairs over the corpus — the statistic one round of "
    "byte-pair-encoding tokenizer training merges on. The pair explode is "
    "map work; the count is wordcount-shaped with map-side combine; only "
    "the final top-k ranks globally, over the (bounded) distinct-pair "
    "table, with TakeOrdered semantics — no full sort of the corpus.",
    tags=("text", "tokenizer"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    ws = tokens()
    pairs = F.expr(
        "filter(transform(sequence(1, size(ws) - 1), "
        "i -> struct(element_at(ws, i) AS left_tok, element_at(ws, i + 1) AS right_tok)), "
        "p -> p.left_tok <> '' AND p.right_tok <> '')"
    )
    counted = (
        d.select(ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.left_tok", "p.right_tok")
        .groupBy("left_tok", "right_tok")
        .agg(F.count("*").alias("pair_count"))
    )
    w = Window.orderBy(F.desc("pair_count"), F.asc("left_tok"), F.asc("right_tok"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BPE_TOP_MERGES)
        .select("left_tok", "right_tok", "pair_count", "rn")
    )


# --- BPE tokenizer apply (fixed piece table) --------------------------------

#: The FIXED subword piece inventory a BPE training run produced (every
#: single byte-class character, then the multi-character merge results in
#: merge order). Production pipelines tokenize with a frozen table like
#: this one; bpe_merge_candidates above is the statistic that GROWS such a
#: table, bpe_encode below is the apply. Ids are positional: singles
#: first, then the multi-char pieces in table order.
BPE_SINGLES = tuple("abcdefghijklmnopqrstuvwxyz0123456789")
BPE_MULTI = (
    # 2-char merge results
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "or", "ta", "te", "ow", "le", "st", "ar", "al", "ro", "ue",
    "qu", "sc", "ba", "da", "pa", "ma", "sm", "sl", "gr", "bl",
    "ur", "um", "ol", "om", "ab", "ag", "as", "ha", "jo", "ke",
    # 3-char merge results
    "the", "ing", "ort", "que", "val", "tab", "row", "ash", "ast",
    "ine", "ter", "der", "rge", "ust", "olu", "sma", "tch", "ect",
    "ream", "indo", "lumn",
)
#: piece -> id over the whole inventory (singles then multi, positional)
BPE_PIECE_IDS = {p: i for i, p in enumerate(BPE_SINGLES + BPE_MULTI)}
if len(BPE_PIECE_IDS) != len(BPE_SINGLES) + len(BPE_MULTI):
    raise RuntimeError("BPE piece table contains duplicates")
BPE_MAX_PIECE_LEN = max(len(p) for p in BPE_MULTI)
#: out-of-vocabulary characters consume one char with a portable
#: md5-derived id (same derivation both engines) — small modulus keeps
#: fingerprint terms well inside int64
BPE_UNK_MOD = 100_003


def bpe_encode_word_with(
    w: str, piece_ids: dict[str, int], max_piece_len: int
) -> tuple[list[str], list[int], int]:
    """Greedy longest-match-first subword encode of ONE word against an
    ARBITRARY piece table (round 13: parametrized so the trained table
    from :func:`bpe_train` drives the same kernel as the frozen
    inventory): at each position take the longest piece that matches
    (unique per length — two distinct equal-length strings cannot both
    prefix the same position); characters outside the table consume one
    char as an UNK piece with an md5-derived id. Returns
    ``(pieces, ids, n_unk)``."""
    import hashlib

    pieces: list[str] = []
    ids: list[int] = []
    n_unk = 0
    pos, n = 0, len(w)
    while pos < n:
        for ln in range(min(max_piece_len, n - pos), 0, -1):
            cand = w[pos : pos + ln]
            pid = piece_ids.get(cand)
            if pid is not None:
                pieces.append(cand)
                ids.append(pid)
                pos += ln
                break
        else:
            ch = w[pos]
            pieces.append(ch)
            ids.append(
                int(hashlib.md5(ch.encode()).hexdigest()[:14], 16) % BPE_UNK_MOD
            )
            n_unk += 1
            pos += 1
    return pieces, ids, n_unk


def bpe_encode_word(w: str) -> tuple[list[str], list[int], int]:
    """Greedy encode against the FIXED frozen piece table — the
    deterministic contract both engines and the pure-Python pin in
    tests/test_bpe_encode.py implement independently (see
    :func:`bpe_encode_word_with` for the parametrized kernel)."""
    return bpe_encode_word_with(w, BPE_PIECE_IDS, BPE_MAX_PIECE_LEN)


def bpe_word_fingerprint(ids: list[int]) -> int:
    """Position-weighted rolling hash of a word's id sequence: proves the
    EXACT sequence (not just the count) matches cross-engine."""
    return sum((j + 1) * pid for j, pid in enumerate(ids)) % MOD


def _bpe_encode_batches_with(piece_ids: dict[str, int], max_piece_len: int):
    """Arrow-batched kernel factory over DISTINCT words for an ARBITRARY
    piece table: one pure-Python greedy encode per vocabulary entry,
    never per token instance."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            enc = [
                bpe_encode_word_with(w, piece_ids, max_piece_len)
                for w in pdf["w"]
            ]
            yield pd.DataFrame(
                {
                    "w": pdf["w"].to_numpy(),
                    "word_fp": [bpe_word_fingerprint(ids) for _, ids, _ in enc],
                    "n_pieces": [len(ids) for _, ids, _ in enc],
                    "n_unk": [n_unk for _, _, n_unk in enc],
                }
            )

    return fn


#: the frozen-table kernel (bpe_encode / token_budget_plan_exact)
_bpe_encode_batches = _bpe_encode_batches_with(BPE_PIECE_IDS, BPE_MAX_PIECE_LEN)


def _sql_bpe_pieces() -> str:
    return ", ".join(
        f"('{p}', {i})" for p, i in sorted(BPE_PIECE_IDS.items(), key=lambda kv: kv[1])
    )


#: The PIECE-TABLE-AGNOSTIC tail of the word-level BPE encode (round 13:
#: split out so the trained-table twin reuses the identical greedy
#: machinery): assumes a ``pieces(piece, id)`` CTE exists; runs docs ->
#: position-carrying ``words`` -> distinct words -> greedy
#: longest-match-first recursive encode -> ``wenc`` (one row per
#: distinct word with its piece count / sequence fingerprint / UNK
#: count).
SQL_BPE_ENCODE_TAIL = f"""
    docs AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    words AS (
      SELECT doc_id, i AS wpos, ws[i] AS w
      FROM docs, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
      WHERE ws[i] <> ''
    ),
    dw AS (SELECT DISTINCT w FROM words),
    hits AS (
      SELECT d.w, g.pos, p.piece, CAST(p.id AS BIGINT) AS id,
             CAST(0 AS BIGINT) AS unk, len(p.piece) AS pl
      FROM dw d,
           LATERAL (SELECT unnest(generate_series(1, len(d.w))) AS pos) g,
           pieces p
      WHERE substr(d.w, g.pos, len(p.piece)) = p.piece
    ),
    fallb AS (
      SELECT d.w, g.pos, substr(d.w, g.pos, 1) AS piece,
             CAST(('0x' || substr(md5(substr(d.w, g.pos, 1)), 1, 14)) AS BIGINT)
               % {BPE_UNK_MOD} AS id,
             CAST(1 AS BIGINT) AS unk, 0 AS pl
      FROM dw d, LATERAL (SELECT unnest(generate_series(1, len(d.w))) AS pos) g
    ),
    best AS (
      SELECT w, pos, piece, id, unk
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY w, pos
                                         ORDER BY pl DESC) AS rn
            FROM (SELECT * FROM hits UNION ALL SELECT * FROM fallb))
      WHERE rn = 1
    ),
    enc(w, pos, j, fp, n_unk) AS (
      SELECT w, 1, CAST(0 AS BIGINT), CAST(0 AS HUGEINT), CAST(0 AS BIGINT)
      FROM dw
      UNION ALL
      SELECT e.w, e.pos + len(b.piece), e.j + 1,
             e.fp + (e.j + 1) * b.id, e.n_unk + b.unk
      FROM enc e JOIN best b ON b.w = e.w AND b.pos = e.pos
      WHERE e.pos <= len(e.w)
    ),
    wenc AS (
      SELECT w, j AS n_pieces, CAST(fp % {MOD} AS BIGINT) AS word_fp, n_unk
      FROM enc WHERE pos > len(w)
    )
"""

#: The full FROZEN-table rendering: the fixed piece VALUES + the shared
#: tail. Used by the bpe_encode oracle and the exact token-budget plan's
#: oracle (curation.py), so the two can never disagree on the encoding.
#: Callers prepend ``WITH RECURSIVE``.
SQL_BPE_WORD_CTES = f"""
    pieces(piece, id) AS (VALUES {_sql_bpe_pieces()}),
    {SQL_BPE_ENCODE_TAIL}
"""


def bpe_doc_token_counts_of(d: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens): exact per-document BPE token counts for
    ANY ``(doc_id, text)`` frame — the chain-closing count source shared
    by downstream budget planning (token_budget_plan_exact). Same
    distinct-word Arrow kernel as bpe_encode, minus the position
    bookkeeping the fingerprint needs."""
    words = (
        d.select("doc_id", F.explode(tokens()).alias("w"))
        .filter(F.col("w") != "")
    )
    enc = words.select("w").distinct().mapInPandas(
        _bpe_encode_batches, "w string, word_fp long, n_pieces long, n_unk long"
    )
    return (
        words.join(enc.select("w", "n_pieces"), "w")
        .groupBy("doc_id")
        .agg(F.sum("n_pieces").cast("long").alias("n_bpe_tokens"))
    )


@register(
    "bpe_encode",
    oracle=f"""
    WITH RECURSIVE {SQL_BPE_WORD_CTES}
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_pieces) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(e.n_unk) AS BIGINT) AS n_unk_pieces,
           CAST(SUM(CAST(t.wpos * e.word_fp AS DECIMAL(38,0))) % {MOD}
                AS BIGINT) AS ids_fingerprint
    FROM words t JOIN wenc e USING (w)
    GROUP BY t.doc_id
    """,
    doc="Real BPE tokenizer APPLY (VERDICT r11 #3): encode every document "
    "against the FIXED frozen piece table with greedy longest-match-first "
    "(the SentencePiece-style apply of a trained merge inventory), "
    "closing the approximate link in the token-accounting chain "
    "(token_count_bpeish estimates; this tokenizes). The expensive "
    "per-string Python work runs ONCE PER DISTINCT WORD in an "
    "Arrow-batched mapInPandas kernel — the token stream itself never "
    "enters Python: instances join back to the encoded vocabulary by "
    "word (vocabulary-sized build side at natural-language scale) and "
    "aggregate JVM-side. Emits per-doc word/BPE-token/UNK counts plus a "
    "position-weighted rolling hash of the full id sequence, so the "
    "cross-engine check pins the EXACT ids, not just counts. Shuffles: "
    "one distinct over (short) words, the join back, the final per-doc "
    "groupBy — no corpus-sized Python stage at any scale.",
    bench=True,
    tags=("text", "tokenizer", "llm-pipeline"),
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = (
        d.select("doc_id", F.posexplode(tokens()).alias("wpos0", "w"))
        .filter(F.col("w") != "")
        .select("doc_id", (F.col("wpos0") + 1).alias("wpos"), "w")
    )
    enc = words.select("w").distinct().mapInPandas(
        _bpe_encode_batches, "w string, word_fp long, n_pieces long, n_unk long"
    )
    # no forced broadcast on enc: distinct words are vocabulary-bounded on
    # natural text (Catalyst auto-broadcasts here), but an adversarial
    # 100 TB corpus can exceed broadcast size and AQE must stay free to
    # pick a shuffle join — same stance as quality_token_rarity's freq
    joined = words.join(enc, "w")
    term = (F.col("wpos") * F.col("word_fp")).cast("decimal(38,0)")
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
        F.sum("n_unk").cast("long").alias("n_unk_pieces"),
        (F.sum(term) % MOD).cast("long").alias("ids_fingerprint"),
    )


# --- BPE tokenizer TRAINING (iterative top-pair merge loop) ------------------
#: merge rounds the registered trainer runs (the oracle unrolls exactly
#: this many stages, so keep it small enough for a generated-SQL oracle)
BPE_TRAIN_MERGES = 10
#: a pair below this corpus count never merges (stops the loop early on
#: tiny corpora instead of learning noise merges both engines must agree
#: on anyway — count >= 2 is the smallest non-degenerate threshold)
BPE_TRAIN_MIN_COUNT = 2


def _merge_pair_col(syms: F.Column, left: str, right: str) -> F.Column:
    """Greedy left-to-right non-overlapping merge of the adjacent pair
    (left, right) inside one symbol array — pure column expressions (an
    ``aggregate`` fold with an (out, skip) accumulator), so the per-round
    re-segmentation stays JVM-side. HOF lambdas evaluate interpreted per
    element, which is fine here: the frame is the DISTINCT-WORD table
    (vocabulary-bounded at any corpus scale) and words are short."""
    merged = F.lit(left + right)
    n = F.size(syms)

    def step(acc: F.Column, i: F.Column) -> F.Column:
        s_i = F.element_at(syms, i)
        # try_element_at: i+1 runs past the array on the last position and
        # ANSI element_at would throw; NULL == 'x' is NULL -> no match
        is_match = (
            (i < n)
            & (s_i == F.lit(left))
            & (F.try_element_at(syms, i + 1) == F.lit(right))
        )
        return (
            F.when(
                acc["skip"],
                F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")),
            )
            .when(
                is_match,
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(True).alias("skip"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(s_i)).alias("out"),
                    F.lit(False).alias("skip"),
                )
            )
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit(False).alias("skip")
    )
    # words are non-empty, so sequence(1, n) never hits the descending
    # sequence(1, 0) == [1, 0] surprise
    return F.aggregate(
        F.sequence(F.lit(1), n), init, step, lambda acc: acc["out"]
    )


def bpe_train_merges(d: DataFrame) -> list[tuple[str, str, int]]:
    """LEARN a BPE merge table over a ``(doc_id, text)`` corpus: the
    classic iterative loop (Sennrich et al. 2016) — count ALL adjacent
    symbol pairs weighted by word frequency, merge the most frequent pair
    everywhere (greedy left-to-right non-overlapping), repeat. Returns
    the merge sequence ``[(left, right, pair_count), ...]`` in learned
    order. Ties break deterministically: highest count, then
    lexicographically smallest (left, right) — reproducible across
    engines, partitionings and runs.

    Scale shape (the ``kmeans_fit`` bounded-iteration precedent): the
    corpus is scanned ONCE to build the distinct-word count table
    (vocabulary-bounded at any corpus size — Heaps' law); every merge
    round then runs entirely on that vocabulary-sized frame — a pair
    count with map-side combine whose shuffle carries distinct-pair
    rows, a 1-row TakeOrdered argmax (never a full sort), and a map-only
    re-segmentation — so 100 TB costs one tokenize pass plus N
    vocabulary-sized rounds. Per-round ``localCheckpoint`` truncates the
    growing lineage exactly like ``connected_components``."""
    words = d.select(F.explode(tokens()).alias("w")).filter(F.col("w") != "")
    # EAGER localCheckpoints, kept deliberately (optimization r14): the
    # "obvious" lazy-checkpoint rewrite (eager=False, argmax job
    # materializes each round's re-segmentation as a side effect, one job
    # per round instead of two) was built and MEASURED SLOWER — subset
    # bench min 4.447 s vs 3.185 s baseline (spread 8%/16%, cal-comparable
    # boxes) — so the separate per-round materialization job is cheaper
    # on this plan shape than fusing the fold into the argmax's first
    # stage (guide §1.1: verify the "ideal" plan empirically).
    seg = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select("w", "cnt", F.split("w", "").alias("syms"))
        .localCheckpoint()
    )
    pair_struct = F.expr(
        "transform(sequence(1, size(syms) - 1), i -> struct("
        "element_at(syms, i) AS ls, element_at(syms, i + 1) AS rs))"
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(BPE_TRAIN_MERGES):
        top = (
            seg.filter(F.size("syms") >= 2)
            .select("cnt", F.explode(pair_struct).alias("p"))
            .groupBy("p.ls", "p.rs")
            .agg(F.sum("cnt").cast("long").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("ls"), F.asc("rs"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["pc"] < BPE_TRAIN_MIN_COUNT:
            break
        ls, rs, pc = top[0]["ls"], top[0]["rs"], int(top[0]["pc"])
        merges.append((ls, rs, pc))
        new_seg = seg.select(
            "w", "cnt", _merge_pair_col(F.col("syms"), ls, rs).alias("syms")
        ).localCheckpoint()
        seg.unpersist()
        seg = new_seg
    seg.unpersist()
    return merges


def trained_bpe_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, str, int]]:
    """The learned BPE merge table served from a write-once JSON
    artifact (VERDICT r13 #2: ``bpe_encode_trained`` re-ran the whole
    train loop per invocation — a deterministic function of (corpus,
    BPE_TRAIN_MERGES, BPE_TRAIN_MIN_COUNT, source), i.e. exactly the
    derived-data shape ``trained_classifier_weights`` and ``trained_ivf_centroids`` cache;
    keying and publishing: apache_flink_pratices_spark/artifacts.py — the
    trainer, ``tokens``, ``_merge_pair_col`` and the BPE constants all
    live in this module). The merge list is
    bounded by BPE_TRAIN_MERGES (a few hundred rows at any corpus scale),
    so the JSON stays tiny; ``bpe_train`` itself remains a LIVE train
    query — this serving path exists for every downstream consumer of
    the learned tokenizer (``bpe_encode_trained`` today)."""
    key = artifacts.key(
        sf_dir,
        (sys.modules[__name__],),
        BPE_TRAIN_MERGES,
        BPE_TRAIN_MIN_COUNT,
        "bpe_merges",
    )

    def build() -> dict:
        merges = bpe_train_merges(load(spark, sf_dir, "documents"))
        return {"merges": [[ls, rs, pc] for ls, rs, pc in merges]}

    obj = artifacts.json_artifact(
        "bpe_merges",
        key,
        build,
        valid=lambda o: isinstance(o.get("merges"), list)
        and all(
            isinstance(m, list) and len(m) == 3 for m in o.get("merges", [])
        ),
    )
    return [(str(ls), str(rs), int(pc)) for ls, rs, pc in obj["merges"]]


def learned_piece_ids(
    merges: list[tuple[str, str, int]], singles: tuple[str, ...] | str
) -> dict[str, int]:
    """Positional piece table from a learned merge sequence: singles
    first, then each merge's concatenation in learned order (duplicates
    keep their FIRST id — two different merge paths can produce the same
    string, e.g. a+bc and ab+c both yielding 'abc')."""
    out: dict[str, int] = {}
    for p in list(singles) + [ls + rs for ls, rs, _ in merges]:
        out.setdefault(p, len(out))
    return out


def _sql_bpe_train_parts() -> tuple[str, str]:
    """(CTE body, final merge-sequence SELECT) for the DuckDB twin of the
    whole training loop, UNROLLED: one generated CTE chain per merge
    round (pair count -> deterministic argmax -> greedy non-overlapping
    re-segmentation). Split so the trained-table ENCODE oracle
    (bpe_encode_trained) can compose the training CTEs with the shared
    greedy-encode tail. The greedy left-to-right
    rule is windowed instead of folded: consecutive match positions only
    occur for self-pairs (left == right, a run of 3+), and within each
    run of consecutive matches exactly the odd-indexed ones merge — so
    match runs group by ``i - ROW_NUMBER()`` and select on parity, then a
    LAG drops the consumed right-hand symbols. An empty best table (no
    pair reaches BPE_TRAIN_MIN_COUNT) left-joins as NULL and the round becomes an
    identity re-segmentation — exactly the Spark loop's early break.

    seg{r} and best{r} are each referenced TWICE (the next round's pair
    count + re-segmentation; the final union) and DuckDB inlines plain
    CTEs, so without ``AS MATERIALIZED`` the chain re-evaluates
    exponentially (2^rounds scans of seg0 — measured: a 10-round oracle
    ran past 10 minutes inlined, sub-second materialized)."""
    parts = [
        """
    wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    seg0 AS MATERIALIZED (
      SELECT w, cnt,
             list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
      FROM wc
    )"""
    ]
    for r in range(1, BPE_TRAIN_MERGES + 1):
        p = r - 1
        parts.append(f"""
    pc{r} AS (
      SELECT u.ls, u.rs, CAST(SUM(s.cnt) AS BIGINT) AS pc
      FROM seg{p} s,
           LATERAL (SELECT s.syms[g.i] AS ls, s.syms[g.i + 1] AS rs
                    FROM (SELECT unnest(generate_series(1, len(s.syms) - 1))
                          AS i) g) u
      WHERE len(s.syms) >= 2
      GROUP BY u.ls, u.rs
    ),
    best{r} AS MATERIALIZED (
      SELECT ls, rs, pc
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pc DESC, ls, rs) AS rn
            FROM pc{r} WHERE pc >= {BPE_TRAIN_MIN_COUNT})
      WHERE rn = 1
    ),
    exp{r} AS (
      SELECT s.w, s.cnt, u.i, s.syms[u.i] AS sym, b.ls AS mls, b.rs AS mrs,
             (b.ls IS NOT NULL AND u.i < len(s.syms)
              AND s.syms[u.i] = b.ls AND s.syms[u.i + 1] = b.rs) AS m
      FROM seg{p} s LEFT JOIN best{r} b ON TRUE,
           LATERAL (SELECT unnest(generate_series(1, len(s.syms))) AS i) u
    ),
    mrk{r} AS (
      SELECT *, CASE WHEN m THEN i - ROW_NUMBER() OVER
                     (PARTITION BY w, m ORDER BY i) END AS rgrp
      FROM exp{r}
    ),
    sel{r} AS (
      SELECT w, cnt, i, sym, mls, mrs,
             m AND (ROW_NUMBER() OVER (PARTITION BY w, rgrp ORDER BY i)
                    % 2 = 1) AS sel
      FROM mrk{r}
    ),
    emt{r} AS (
      SELECT w, cnt, i,
             CASE WHEN sel THEN mls || mrs ELSE sym END AS out_sym,
             COALESCE(LAG(sel) OVER (PARTITION BY w ORDER BY i), FALSE)
               AS prev_sel
      FROM sel{r}
    ),
    seg{r} AS MATERIALIZED (
      SELECT w, ANY_VALUE(cnt) AS cnt,
             list(out_sym ORDER BY i) FILTER (WHERE NOT prev_sel) AS syms
      FROM emt{r} GROUP BY w
    )""")
    finals = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, ls AS left_sym, "
        f"rs AS right_sym, pc AS pair_count, ls || rs AS new_piece "
        f"FROM best{r}"
        for r in range(1, BPE_TRAIN_MERGES + 1)
    )
    return ",".join(parts), finals


def _sql_bpe_train() -> str:
    ctes, finals = _sql_bpe_train_parts()
    return "WITH" + ctes + f"\n    {finals}"


@register(
    "bpe_train",
    oracle=_sql_bpe_train(),
    doc=f"BPE tokenizer TRAINING (VERDICT r12 #2 — the last stand-in in "
    "the tokenizer chain): the iterative top-pair merge loop that LEARNS "
    "a merge table (Sennrich et al. 2016), closing the mine -> train -> "
    "apply -> count -> budget chain (bpe_merge_candidates mines one "
    f"round's statistic; this runs {BPE_TRAIN_MERGES} rounds and commits "
    "a merge each). Emits the learned merge sequence with per-merge "
    "corpus pair counts; ties break (count DESC, left, right) so the "
    "sequence is bit-reproducible across engines. Spark shape: ONE "
    "corpus tokenize pass builds the distinct-word count table; each "
    "round is vocabulary-bounded — map-side-combined pair counts, a "
    "1-row TakeOrdered argmax, and a JVM-side fold re-segmentation "
    "(zero Python stages anywhere). The oracle unrolls the identical "
    "loop as generated per-round CTE stages. tests/test_bpe_train.py "
    "pins the loop to an independent pure-Python trainer, pins "
    "greedy-encode-with-learned-table against a reference encode, and "
    "hypothesis-checks merge-order determinism + the non-increasing "
    "pair-count invariant.",
    bench=True,
    tags=("text", "tokenizer", "llm-pipeline", "training"),
)
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    merges = bpe_train_merges(d)
    rows = [(i + 1, ls, rs, pc, ls + rs) for i, (ls, rs, pc) in enumerate(merges)]
    return spark.createDataFrame(
        rows,
        "merge_rank long, left_sym string, right_sym string, "
        "pair_count long, new_piece string",
    )


def _sql_bpe_encode_trained() -> str:
    """Oracle composing TRAIN with APPLY: the unrolled training CTEs
    produce the merge sequence, the learned pieces table derives from it
    (corpus singles in lexicographic order, then merge results in
    learned order; duplicate strings keep their first-occurrence rank —
    the exact learned_piece_ids construction), and the shared greedy
    longest-match tail encodes every document against it."""
    ctes, finals = _sql_bpe_train_parts()
    return f"""
    WITH RECURSIVE {ctes},
    tsingles AS (
      SELECT DISTINCT substr(w, g.pos, 1) AS piece
      FROM wc, LATERAL (SELECT unnest(generate_series(1, length(w)))
                        AS pos) g
    ),
    sgl AS (SELECT piece, ROW_NUMBER() OVER (ORDER BY piece) AS pos
            FROM tsingles),
    nsgl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sgl),
    mseq AS ({finals}),
    seqp AS (
      SELECT piece, CAST(pos AS BIGINT) AS pos FROM sgl
      UNION ALL
      SELECT m.new_piece, n.n + m.merge_rank FROM mseq m CROSS JOIN nsgl n
    ),
    firsts AS (SELECT piece, MIN(pos) AS fpos FROM seqp GROUP BY piece),
    pieces AS MATERIALIZED (
      SELECT piece, ROW_NUMBER() OVER (ORDER BY fpos) - 1 AS id FROM firsts
    ),
    {SQL_BPE_ENCODE_TAIL}
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_pieces) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(e.n_unk) AS BIGINT) AS n_unk_pieces,
           CAST(SUM(CAST(t.wpos * e.word_fp AS DECIMAL(38,0))) % {MOD}
                AS BIGINT) AS ids_fingerprint
    FROM words t JOIN wenc e USING (w)
    GROUP BY t.doc_id
    """


@register(
    "bpe_encode_trained",
    oracle=_sql_bpe_encode_trained(),
    doc="The tokenizer chain composed END-TO-END: train the merge table "
    "on the corpus (bpe_train's exact loop), build the positional piece "
    "inventory from it (corpus alphabet first, then merge results in "
    "learned order — learned_piece_ids), and encode every document "
    "against the LEARNED table with the same greedy "
    "longest-match-first distinct-word Arrow kernel as bpe_encode, "
    "pinning the exact id sequences via the position-weighted "
    "fingerprint. The oracle recomputes training AND application in one "
    "composed query, so the full mine -> train -> apply chain is "
    "value-hash-checked cross-engine with no frozen stand-in anywhere. "
    "Scale shape: the merge table is served from a write-once JSON "
    "artifact (trained_bpe_merges — VERDICT r13 #2; keyed by corpus + "
    "config + module source, pinned bit-equal to a live train), so "
    "steady-state invocations pay apply only: a bounded alphabet "
    "collect, then bpe_encode's plan (vocabulary-sized Python, "
    "instances join back and aggregate JVM-side).",
    bench=True,
    tags=("text", "tokenizer", "llm-pipeline", "training", "composition"),
)
def bpe_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # merge table served from the write-once artifact (VERDICT r13 #2);
    # pinned bit-equal to a live bpe_train_merges run in
    # tests/test_bpe_train.py, so the apply path costs apply only
    merges = trained_bpe_merges(spark, sf_dir)
    words = (
        d.select("doc_id", F.posexplode(tokens()).alias("wpos0", "w"))
        .filter(F.col("w") != "")
        .select("doc_id", (F.col("wpos0") + 1).alias("wpos"), "w")
    )
    # the corpus alphabet: a bounded collect (distinct characters), the
    # singles tier of the learned inventory. Deliberately derived from
    # the token-INSTANCE stream, not a shared distinct-word frame: the
    # explode is map-side-combined straight down to the alphabet (the
    # partial-distinct aggregate collapses each partition to ~|alphabet|
    # rows before any exchange), so nothing corpus-sized shuffles — and
    # the r14 optimization pass MEASURED the "share one persisted
    # distinct-word frame for alphabet + encode" rewrite at +0.4 s
    # steady-state (1.20 → 1.60 s phase-timed A/B at sf0.1: caching the
    # tiny frame costs more than recomputing the fused pipeline).
    chars = sorted(
        r["ch"]
        for r in words.select(
            F.explode(F.split("w", "")).alias("ch")
        ).distinct().collect()
    )
    table = learned_piece_ids(merges, tuple(chars))
    max_len = max(len(p) for p in table)
    enc = words.select("w").distinct().mapInPandas(
        _bpe_encode_batches_with(table, max_len),
        "w string, word_fp long, n_pieces long, n_unk long",
    )
    joined = words.join(enc, "w")
    term = (F.col("wpos") * F.col("word_fp")).cast("decimal(38,0)")
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
        F.sum("n_unk").cast("long").alias("n_unk_pieces"),
        (F.sum(term) % MOD).cast("long").alias("ids_fingerprint"),
    )


# --- unigram-LM rarity score (perplexity proxy) ----------------------------


@register(
    "quality_token_rarity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    toks2 AS (SELECT doc_id, word FROM toks WHERE word <> ''),
    freq AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks2 GROUP BY word
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks2)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(CAST(total.n AS DOUBLE) / f.cnt
                         AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS mean_rarity
    FROM toks2 t JOIN freq f USING (word) CROSS JOIN total
    GROUP BY t.doc_id
    """,
    doc="Unigram-LM quality score (perplexity proxy) with exact cross-"
    "engine arithmetic: rarity of token w = total_tokens / count(w) (an "
    "int64/int64 division — IEEE-identical in both engines, unlike a "
    "transcendental log-prob), and a document scores the decimal-summed "
    "mean rarity of its tokens. Two passes over the token stream: corpus "
    "frequencies (bounded by vocabulary, broadcast back) then a per-doc "
    "aggregate - the same shape a trained unigram LM scorer runs at "
    "100 TB, with the model table as the broadcast side.",
    tags=("text", "quality", "lm"),
)
def quality_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(tokens()).alias("word"))
        .filter(F.col("word") != "")
    )
    freq = toks.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    # corpus token total = sum(cnt) over the vocabulary-bounded freq
    # table, as a 1-row aggregate broadcast-cross-joined back — NOT a
    # toks.count() action, which re-tokenized the whole corpus a third
    # time (VERDICT r4 #2). Both freq branches share one shuffle
    # exchange (ReusedExchange, plan-audited), so the corpus is
    # scanned exactly twice: once to build freq, once for the per-doc
    # aggregate.
    total = freq.agg(F.sum("cnt").alias("corpus_n"))
    rarity = F.col("corpus_n").cast("double") / F.col("cnt")
    # no forced broadcast on freq: at this SF Catalyst auto-broadcasts
    # the small frequency table (plan-audited), but a 100 TB corpus
    # vocabulary can exceed broadcast size — AQE then legally falls back
    # to a shuffle join, which a hint would forbid
    return (
        toks.join(freq.crossJoin(F.broadcast(total)), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            (F.sum(rarity.cast("decimal(25,6)")).cast("double") / F.count("*")).alias(
                "mean_rarity"
            ),
        )
    )


#: Gopher-rule thresholds (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", Table A1 — public
#: heuristics). Word-count lower bound adapted 50→40 so the synthetic
#: corpus (mean ~50 words/doc) exercises both branches of the rule.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 40, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2


def _gopher_metrics() -> dict[str, F.Column]:
    """The four Gopher rule metrics + pass flag over a tokenized ``ws``
    column — shared by quality_gopher_rules (per-doc flags) and
    source_quality_report (per-source aggregation), so the gate and the
    dashboard can never disagree on a rule."""
    n_words = F.size("ws").cast("long")
    total_chars = F.aggregate(
        "ws", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_wl = total_chars.cast("double") / n_words.cast("double")
    n_alpha = F.size(F.filter(F.col("ws"), lambda w: w.rlike("[a-z]")))
    alpha_ratio = n_alpha.cast("double") / n_words.cast("double")
    n_stop_distinct = F.size(
        F.array_distinct(F.filter(F.col("ws"), lambda w: w.isin(*STOPWORDS)))
    )
    r_wc = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_mwl = (mean_wl >= GOPHER_MIN_MWL) & (mean_wl <= GOPHER_MAX_MWL)
    r_alpha = alpha_ratio >= GOPHER_MIN_ALPHA_RATIO
    r_stop = n_stop_distinct >= GOPHER_MIN_STOPWORDS
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "alpha_ratio": alpha_ratio,
        "r_wc": r_wc,
        "r_mwl": r_mwl,
        "r_alpha": r_alpha,
        "r_stop": r_stop,
        "passes": r_wc & r_mwl & r_alpha & r_stop,
    }



@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(length(w)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_word_len,
             CAST(SUM(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS alpha_ratio,
             COUNT(DISTINCT CASE WHEN w IN ('the', 'a') THEN w END)
               AS n_stop_distinct
      FROM words GROUP BY doc_id
    )
    SELECT doc_id, n_words, mean_word_len, alpha_ratio,
           CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AS BIGINT) AS rule_word_count,
           CAST(mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                AS BIGINT) AS rule_mean_word_len,
           CAST(alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO} AS BIGINT)
             AS rule_alpha_ratio,
           CAST(n_stop_distinct >= {GOPHER_MIN_STOPWORDS} AS BIGINT)
             AS rule_stopwords,
           CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
                AND n_stop_distinct >= {GOPHER_MIN_STOPWORDS}
                AS BIGINT) AS passes_gopher
    FROM m
    """,
    doc="Gopher-ruleset quality filter (the standard pretraining document "
    "gate): per-document word count, mean word length, alphabetic-word "
    "ratio and distinct-stopword rules, each emitted as a 0/1 flag plus "
    "the conjunctive pass bit. All four rules are array expressions over "
    "the tokenized text — pure map work, ZERO shuffles at any corpus "
    "size (the plan has no exchange at all); the repetition-family "
    "rules of the full ruleset live in quality_repetition. Flags are "
    "BIGINT 0/1 rather than BOOLEAN so the cross-engine value-hash "
    "never depends on boolean encoding.",
    tags=("text", "quality", "llm-pipeline"),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules_frame(load(spark, sf_dir, "documents"))


def gopher_rules_frame(d: DataFrame) -> DataFrame:
    """Gopher-rule flags for any ``(doc_id, text)`` frame — split out so
    composed pipelines (corpus_pipeline_e2e) gate an already-loaded,
    cached corpus frame instead of re-scanning documents."""
    ws = tokens()
    t = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") > 0)
    m = _gopher_metrics()
    n_words, mean_wl, alpha_ratio = m["n_words"], m["mean_word_len"], m["alpha_ratio"]
    r_wc, r_mwl, r_alpha, r_stop = m["r_wc"], m["r_mwl"], m["r_alpha"], m["r_stop"]
    return t.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_ratio.alias("alpha_ratio"),
        r_wc.cast("long").alias("rule_word_count"),
        r_mwl.cast("long").alias("rule_mean_word_len"),
        r_alpha.cast("long").alias("rule_alpha_ratio"),
        r_stop.cast("long").alias("rule_stopwords"),
        (r_wc & r_mwl & r_alpha & r_stop).cast("long").alias("passes_gopher"),
    )


#: bigram-PMI parameters: minimum joint count to stabilize the estimate,
#: and the output cap (deterministically tie-broken).
PMI_MIN_COUNT = 30
PMI_TOP_K = 50


@register(
    "bigram_pmi",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             string_split(lower(text), ' ') AS ws
      FROM documents
    ),
    toks AS (
      SELECT doc_id, ws[i] AS w, ws[i + 1] AS w2, i, len(ws) AS n
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
    bi AS (
      SELECT w AS w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM toks WHERE i < n GROUP BY w, w2
    ),
    btot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n_bi FROM bi)
    SELECT w1, w2, c2 AS pair_count,
           (CAST(c2 AS DOUBLE) / CAST(n_bi AS DOUBLE))
           / ( (CAST(u1.c AS DOUBLE) / CAST(n_uni AS DOUBLE))
             * (CAST(u2.c AS DOUBLE) / CAST(n_uni AS DOUBLE)) ) AS pmi_ratio
    FROM bi
      JOIN uni u1 ON u1.w = w1
      JOIN uni u2 ON u2.w = w2, tot, btot
    WHERE c2 >= {PMI_MIN_COUNT}
    ORDER BY pmi_ratio DESC, w1, w2
    LIMIT {PMI_TOP_K}
    """,
    doc="Collocation mining: top bigrams by pointwise mutual information "
    "with a minimum-count floor — the phrase-discovery pass a tokenizer/"
    "vocabulary pipeline runs over a corpus (the additive cousin of "
    "bpe_merge_candidates' frequency ranking). Everything after the "
    "tokenize is vocabulary-bounded: unigram and bigram count tables, "
    "two broadcast-sized joins, and two 1-row totals attached as "
    "broadcast literals — the corpus is scanned once and never "
    "re-shuffled. Emits the PMI RATIO p(w1,w2)/(p(w1)p(w2)) rather "
    "than its log: the ratio is a pure division chain over exact "
    "integer counts (bit-identical across engines), while log is a "
    "transcendental whose last ulp differs between Java's Math.log "
    "and DuckDB's libm — monotone-equivalent, so the ranking and the "
    "top-K cut are unchanged; ties break on (w1, w2).",
    tags=("text", "collocation", "llm-pipeline"),
)
def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = tokens()
    t = d.select(ws.alias("ws")).filter(F.size("ws") > 0)
    # one exploded pass yields both unigram and (token, next-token) rows
    toks = t.select(
        F.posexplode("ws").alias("i", "w"),
        F.col("ws"),
    ).select(
        "w",
        F.try_element_at("ws", F.col("i") + 2).alias("w2"),  # null at doc end
    )
    toks = toks.persist()
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    bi = (
        toks.filter(F.col("w2").isNotNull())
        .groupBy(F.col("w").alias("w1"), "w2")
        .agg(F.count("*").alias("c2"))
        .filter(F.col("c2") >= PMI_MIN_COUNT)
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    # the bigram total must range over ALL bigrams, not the floored set
    n_bi = (
        toks.filter(F.col("w2").isNotNull())
        .agg(F.count("*").alias("n_bi"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_2"))
    pmi = (
        (F.col("c2").cast("double") / F.col("n_bi").cast("double"))
        / (
            (F.col("c_1").cast("double") / F.col("n_uni").cast("double"))
            * (F.col("c_2").cast("double") / F.col("n_uni").cast("double"))
        )
    )
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .join(F.broadcast(n_uni))
        .join(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            F.col("c2").alias("pair_count"),
            pmi.alias("pmi_ratio"),
        )
        .orderBy(F.col("pmi_ratio").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


# --- bigram-LM perplexity quality scorer (VERDICT r11 #4) -------------------

#: fixed-point resolution for LM log-probs: micro-nats. The ONLY
#: transcendental in the whole query runs once per DISTINCT vocabulary
#: entry / bigram (bounded tables), is floored to an int64 at this
#: resolution there, and every corpus-sized accumulation after that is
#: exact integer arithmetic — so the cross-engine check cannot drift on
#: summed last-ulp log differences.
#:
#: Residual floor-boundary risk, quantified (round-12 self-review): both
#: engines evaluate ln() on the IDENTICAL double (the count division is
#: correctly rounded), but JVM Math.log and libm each guarantee only
#: ≤1 ulp — they can disagree when the true value sits within ~1 ulp of
#: their rounding boundary, and the floor then flips an nll entry by 1
#: iff 1e6·ln(r) also lies within that ~4e-9 absolute window of an
#: integer. Flip probability ≈ 4e-9 PER DISTINCT LM ENTRY per round:
#: ~4e-6 on this corpus (31-word vocabulary, <10^3 entries), and still
#: only ~4e-2 for a 10^7-bigram production vocabulary. A corpus where
#: that matters should build the nll table with a correctly-rounded ln
#: (e.g. decimal-module logs on the driver for a broadcastable LM);
#: the corpus-sized arithmetic stays exact either way.
LM_MICRO = 1_000_000


def _lm_nll_col(num: F.Column, den: F.Column) -> F.Column:
    """floor(1e6·ln(num/den)) as int64 — the ONE micro-nat quantization
    both LM scorers use (num ≥ den ≥ 1, so the value is non-negative)."""
    return F.floor(
        F.lit(float(LM_MICRO)) * F.log(num.cast("double") / den.cast("double"))
    ).cast("long")


def _lm_toks(d: DataFrame) -> DataFrame:
    """(doc_id, i, w, w2, n): the positional token/next-token stream both
    LM scorers run on (1-based i; w2 null at doc end)."""
    return (
        d.select("doc_id", tokens().alias("ws"))
        .select("doc_id", F.posexplode("ws").alias("i0", "w"), "ws")
        .select(
            "doc_id",
            (F.col("i0") + 1).alias("i"),
            "w",
            F.try_element_at("ws", F.col("i0") + 2).alias("w2"),
            F.size("ws").alias("n"),
        )
    )


def _lm_tables(train_toks: DataFrame):
    """(lm_bi, lm_uni, tot): the vocabulary-bounded bigram/unigram nll
    tables built from a training token stream — the ONE LM construction
    both scorers use (self-trained: the whole corpus; clean-reference:
    the Gopher-passing subset), so a count/quantization fix can never
    silently diverge them (round-12 self-review).

    lm_bi's next-token key is emitted as ``bw2`` (structurally distinct
    from the token stream's ``w2``): the scorers join lm_bi back against
    the very frame it derives from, and a same-named grouping key can
    share the parent's expression id — the classic AMBIGUOUS_SELF_JOIN
    fragility Spark 4.1's heuristics happen to resolve (ADVICE r12)."""
    uni = train_toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    tot = uni.agg(F.sum("c").alias("n_tot"))
    bi = (
        train_toks.filter(F.col("i") < F.col("n"))
        .groupBy(F.col("w").alias("w1"), "w2")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    ctx = bi.groupBy("w1").agg(F.sum("c2").alias("cx"))
    lm_bi = bi.join(ctx, "w1").select(
        "w1",
        F.col("w2").alias("bw2"),
        _lm_nll_col(F.col("cx"), F.col("c2")).alias("nll"),
    )
    lm_uni = uni.crossJoin(F.broadcast(tot)).select(
        "w", _lm_nll_col(F.col("n_tot"), F.col("c")).alias("nll")
    )
    # The LM tables are MODEL STATE (the same role as the trained
    # classifier weights) and the scorers join the corpus-sized token
    # stream against them — so they carry an explicit broadcast hint
    # (guide §3.1: size estimates after multi-aggregate subtrees are
    # unreliable; the r14 optimization pass measured the unhinted static
    # plan broadcasting the TOKEN-STREAM side — BuildLeft over the
    # i<n-filtered instance stream — because the un-materialized cache
    # under-estimates, i.e. the corpus side became the build side, the
    # exact inversion of the intended shape. With the hint: both scorer
    # joins build on the vocabulary-bounded side, measured 1.75 → 1.48 s
    # at sf0.1). A corpus whose bigram-TYPE table outgrows the broadcast
    # cap (8 GB / 512M rows) would drop this hint and shuffle-join —
    # that trade is documented at the registration site.
    return F.broadcast(lm_bi), F.broadcast(lm_uni), tot


@register(
    "quality_lm_perplexity",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    toks AS (
      SELECT doc_id, i, ws[i] AS w, ws[i + 1] AS w2, len(ws) AS n
      FROM docs, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
    ),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM uni),
    bi AS (
      SELECT w AS w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM toks WHERE i < n GROUP BY w, w2
    ),
    ctx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS cx FROM bi GROUP BY w1),
    lm_bi AS (
      SELECT b.w1, b.w2,
             CAST(FLOOR({LM_MICRO}.0 * ln(CAST(x.cx AS DOUBLE)
                                          / CAST(b.c2 AS DOUBLE)))
                  AS BIGINT) AS nll
      FROM bi b JOIN ctx x USING (w1)
    ),
    lm_uni AS (
      SELECT u.w,
             CAST(FLOOR({LM_MICRO}.0 * ln(CAST(t.n_tot AS DOUBLE)
                                          / CAST(u.c AS DOUBLE)))
                  AS BIGINT) AS nll
      FROM uni u CROSS JOIN tot t
    ),
    scored AS (
      SELECT t.doc_id, lu.nll
      FROM toks t JOIN lm_uni lu ON lu.w = t.w WHERE t.i = 1
      UNION ALL
      SELECT t.doc_id, lb.nll
      FROM toks t JOIN lm_bi lb ON lb.w1 = t.w AND lb.w2 = t.w2
      WHERE t.i < t.n
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_scored_tokens,
           CAST(SUM(nll) AS BIGINT) AS total_nll_micro_nats,
           CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS avg_nll_micro_nats
    FROM scored GROUP BY doc_id
    """,
    doc="CCNet-style LM perplexity quality score (VERDICT r11 #4): each "
    "document's average negative log-likelihood under a bigram LM with "
    "unigram start term, in fixed-point MICRO-NATS (perplexity = "
    "exp(avg/1e6), monotone-equivalent — the exp is deliberately NOT "
    "emitted: avg is an exact int/int->double division, identical in "
    "both engines, while 60k per-doc exp() calls would each risk a "
    "last-ulp cross-engine divergence). The LM is the corpus's own "
    "bigram/unigram count tables (the same construction bigram_pmi "
    "mines); ln() runs once per DISTINCT bigram/vocab entry, floored to "
    "int64 micro-nats THERE, so all corpus-sized accumulation is exact "
    "integer arithmetic. Plan: one tokenize pass persisted, "
    "vocabulary-bounded LM tables broadcast back onto it (explicit "
    "hint since r14 — the unhinted static plan measurably broadcast "
    "the TOKEN-STREAM side instead, because multi-aggregate subtree "
    "size estimates are unreliable; guide §3.1), one per-doc "
    "aggregate; zero corpus-sized shuffles beyond the count-table "
    "build. A corpus whose bigram-type table outgrows the broadcast "
    "cap would drop the hint and shuffle-join.",
    bench=True,
    tags=("text", "quality", "lm", "llm-pipeline"),
)
def quality_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = _lm_toks(d).persist()
    lm_bi, lm_uni, _tot = _lm_tables(toks)
    first = toks.filter(F.col("i") == 1).join(lm_uni, "w").select("doc_id", "nll")
    rest = (
        toks.filter(F.col("i") < F.col("n"))
        .join(
            lm_bi,
            (F.col("w") == F.col("w1")) & (F.col("w2") == F.col("bw2")),
        )
        .select("doc_id", "nll")
    )
    return (
        first.unionByName(rest)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_scored_tokens"),
            F.sum("nll").cast("long").alias("total_nll_micro_nats"),
            (F.sum("nll").cast("double") / F.count("*")).alias(
                "avg_nll_micro_nats"
            ),
        )
    )


def _register_lm_perplexity_ref() -> None:
    from apache_flink_pratices_spark.registry import get_spec

    gopher = get_spec("quality_gopher_rules").oracle

    @register(
        "quality_lm_perplexity_ref",
        oracle=f"""
        WITH gop AS ({gopher}),
        clean AS (SELECT doc_id FROM gop WHERE passes_gopher = 1),
        docs AS (
          SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
        ),
        toks AS (
          SELECT doc_id, i, ws[i] AS w, ws[i + 1] AS w2, len(ws) AS n
          FROM docs, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        ),
        tr AS (SELECT t.* FROM toks t JOIN clean c ON c.doc_id = t.doc_id),
        uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY w),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM uni),
        bi AS (
          SELECT w AS w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
          FROM tr WHERE i < n GROUP BY w, w2
        ),
        ctx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS cx FROM bi GROUP BY w1),
        lm_bi AS (
          SELECT b.w1, b.w2,
                 CAST(FLOOR({LM_MICRO}.0 * ln(CAST(x.cx AS DOUBLE)
                                              / CAST(b.c2 AS DOUBLE)))
                      AS BIGINT) AS nll
          FROM bi b JOIN ctx x USING (w1)
        ),
        lm_uni AS (
          SELECT u.w,
                 CAST(FLOOR({LM_MICRO}.0 * ln(CAST(t.n_tot AS DOUBLE)
                                              / CAST(u.c AS DOUBLE)))
                      AS BIGINT) AS nll
          FROM uni u CROSS JOIN tot t
        ),
        oov AS (
          SELECT CAST(FLOOR({LM_MICRO}.0 * ln(CAST(n_tot AS DOUBLE)))
                      AS BIGINT) AS oov_nll
          FROM tot
        ),
        scored AS (
          SELECT t.doc_id, COALESCE(lu.nll, o.oov_nll) AS nll,
                 CASE WHEN lu.nll IS NULL THEN 1 ELSE 0 END AS is_oov
          FROM toks t LEFT JOIN lm_uni lu ON lu.w = t.w CROSS JOIN oov o
          WHERE t.i = 1
          UNION ALL
          SELECT t.doc_id, COALESCE(lb.nll, o.oov_nll) AS nll,
                 CASE WHEN lb.nll IS NULL THEN 1 ELSE 0 END AS is_oov
          FROM toks t
            LEFT JOIN lm_bi lb ON lb.w1 = t.w AND lb.w2 = t.w2
            CROSS JOIN oov o
          WHERE t.i < t.n
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_scored_tokens,
               CAST(SUM(nll) AS BIGINT) AS total_nll_micro_nats,
               CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS avg_nll_micro_nats,
               CAST(SUM(is_oov) AS BIGINT) AS n_oov_tokens
        FROM scored GROUP BY doc_id
        """,
        doc="The TRUE CCNet construction (round 12): the bigram LM is "
        "trained on the CLEAN REFERENCE SUBSET only (documents passing "
        "the Gopher gate — CCNet trains on Wikipedia and scores the "
        "crawl) and then scores EVERY document; quality_lm_perplexity "
        "above is the self-trained variant. Tokens whose bigram/unigram "
        "never occurs in the clean subset take a deterministic max-"
        "surprise OOV penalty (nll = ln(n_train_tokens) — probability "
        "1/N) and are counted in n_oov_tokens, so reference-unlike "
        "documents score high both through rare transitions AND through "
        "outright OOV mass. Same fixed-point micro-nat contract as the "
        "self-trained scorer (one ln per distinct LM entry, exact "
        "integer accumulation); the Gopher gate is the registered "
        "operator's exact expressions by shared frame/oracle, so the "
        "two queries can never disagree on what 'clean' means. Plan: "
        "one tokenize pass persisted, the train subset is a semi-join "
        "of it, LM tables vocabulary-bounded, left joins back with a "
        "broadcast 1-row OOV scalar — zero corpus-sized shuffles beyond "
        "the count-table build.",
        tags=("text", "quality", "lm", "llm-pipeline", "composition"),
    )
    def quality_lm_perplexity_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = load(spark, sf_dir, "documents")
        clean = (
            gopher_rules_frame(d)
            .filter(F.col("passes_gopher") == 1)
            .select("doc_id")
        )
        toks = _lm_toks(d).persist()
        tr = toks.join(clean, "doc_id")
        lm_bi, lm_uni, tot = _lm_tables(tr)
        # fail LOUDLY on an empty clean subset (round-12 self-review):
        # with zero Gopher-passing docs n_tot is NULL, oov_nll would be
        # NULL, and every score would silently degrade to NULL while
        # the oracle degrades identically — an all-NULL quality ranking
        # with a green replica row. A reference-less scorer is a
        # configuration error, not a result. One tiny aggregate job at
        # construction (the same eager-probe stance as artifacts.probe).
        if tot.first()["n_tot"] is None:
            raise RuntimeError(
                "quality_lm_perplexity_ref: no documents pass the Gopher "
                "gate on this corpus — the clean-reference LM is empty"
            )
        oov = tot.select(
            _lm_nll_col(F.col("n_tot"), F.lit(1)).alias("oov_nll")
        )
        is_oov = F.when(F.col("nll").isNull(), 1).otherwise(0)
        scored_nll = F.coalesce(F.col("nll"), F.col("oov_nll"))
        first = (
            toks.filter(F.col("i") == 1)
            .join(lm_uni, "w", "left")
            .crossJoin(F.broadcast(oov))
            .select("doc_id", scored_nll.alias("nll"), is_oov.alias("is_oov"))
        )
        rest = (
            toks.filter(F.col("i") < F.col("n"))
            .join(
                lm_bi,
                (F.col("w") == F.col("w1")) & (F.col("w2") == F.col("bw2")),
                "left",
            )
            .crossJoin(F.broadcast(oov))
            .select("doc_id", scored_nll.alias("nll"), is_oov.alias("is_oov"))
        )
        return (
            first.unionByName(rest)
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("long").alias("n_scored_tokens"),
                F.sum("nll").cast("long").alias("total_nll_micro_nats"),
                (F.sum("nll").cast("double") / F.count("*")).alias(
                    "avg_nll_micro_nats"
                ),
                F.sum("is_oov").cast("long").alias("n_oov_tokens"),
            )
        )


_register_lm_perplexity_ref()


# --- per-source quality dashboard -------------------------------------------
@register(
    "source_quality_report",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, source, lang, string_split(lower(text), ' ') AS ws
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(ws) AS w FROM docs WHERE len(ws) > 0
    ),
    m AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(CASE WHEN w IN {STOPWORDS!r} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_stop,
             CAST(SUM(length(w)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_word_len,
             CAST(SUM(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS alpha_ratio,
             COUNT(DISTINCT CASE WHEN w IN {STOPWORDS!r} THEN w END)
               AS n_stop_distinct
      FROM toks GROUP BY doc_id
    ),
    flagged AS (
      SELECT d.source, d.lang, m.n_words, m.n_stop,
             CAST(m.n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                  AND m.mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                  AND m.alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
                  AND m.n_stop_distinct >= {GOPHER_MIN_STOPWORDS}
                  AS BIGINT) AS passes
      FROM m JOIN docs d USING (doc_id)
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words_total,
           CAST(SUM(n_stop) AS BIGINT) AS n_stopwords_total,
           CAST(SUM(n_words) AS DOUBLE) / COUNT(*) AS words_per_doc,
           CAST(SUM(n_stop) AS DOUBLE) / SUM(n_words) AS stopword_ratio,
           CAST(SUM(passes) AS BIGINT) AS n_gopher_pass,
           CAST(SUM(passes) AS DOUBLE) / COUNT(*) AS gopher_pass_rate
    FROM flagged
    GROUP BY source, lang
    """,
    doc="Per-(source, lang) corpus quality dashboard — the provenance "
    "report a curation pipeline publishes per crawl/source before "
    "deciding mixing weights: document counts, token volume, stopword "
    "density and the Gopher-gate pass rate (rule expressions shared with "
    "quality_gopher_rules via _gopher_metrics, so gate and report cannot "
    "drift apart). Scale shape: ONE corpus scan — all per-document "
    "metrics are map-side array expressions over the tokenized text, the "
    "only shuffle carries |source|x|lang| partial-aggregate rows, and "
    "every ratio is a single division of two exactly-aggregated integers "
    "(bit-identical across engines).",
    tags=("text", "quality", "curation", "llm-pipeline"),
)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("source", "lang", tokens().alias("ws")).filter(F.size("ws") > 0)
    m = _gopher_metrics()
    n_stop = F.size(F.filter(F.col("ws"), lambda w: w.isin(*STOPWORDS))).cast("long")
    per_doc = t.select(
        "source",
        "lang",
        m["n_words"].alias("n_words"),
        n_stop.alias("n_stop"),
        m["passes"].cast("long").alias("passes"),
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words_total"),
        F.sum("n_stop").alias("n_stopwords_total"),
        (F.sum("n_words").cast("double") / F.count("*")).alias("words_per_doc"),
        (F.sum("n_stop").cast("double") / F.sum("n_words")).alias("stopword_ratio"),
        F.sum("passes").alias("n_gopher_pass"),
        (F.sum("passes").cast("double") / F.count("*")).alias("gopher_pass_rate"),
    )


# --- linear quality classifier: TRAINED weights (batch perceptron) ----------
#: batch-perceptron epochs the fit runs (the oracle unrolls exactly this
#: many stages); convergence inside the budget makes later epochs no-ops
#: in BOTH engines, so the unroll is always safe
CLF_EPOCHS = 4


def _clf_feats_col() -> F.Column:
    """Binary bag-of-words features: distinct non-empty tokens. NULL text
    must mean an EMPTY feature set (score = bias), never a NULL score
    (review pass r6)."""
    return F.coalesce(
        F.array_distinct(F.filter(tokens(), lambda w: w != "")),
        F.array().cast("array<string>"),
    )


def classifier_fit_tables(d: DataFrame) -> tuple[DataFrame, int]:
    """TRAIN the linear quality classifier (VERDICT r12 #3 — the weights
    were an md5 stand-in): batch-perceptron epochs over the
    Gopher-pass bit as the label (the same clean/dirty split
    quality_lm_perplexity_ref trains its LM on) and binary bag-of-words
    features. Per epoch: score every labeled document with the current
    integer weights, find the misclassified set (y·score <= 0 — zero
    counts as wrong, so epoch 1 updates on every document), and add
    ``sum(y over misclassified docs containing w)`` to each feature's
    weight and ``sum(y)`` to the bias. Labels ±1 and binary features
    keep every quantity int64-exact and order-independent — the
    fixed-point discipline the LM scorers use, applied to a gradient
    loop. Returns ``(weights DataFrame (w, wt) — nonzero rows only,
    bias int)``.

    Scale shape (kmeans_fit precedent): the exploded feature stream is
    built once and persisted; each epoch is one vocabulary-bounded
    left join back (AQE broadcasts while the weight table fits), a
    per-doc aggregate, and a vocabulary-bounded update aggregate — the
    only driver-side fetch is the 1-row (n_mis, sum_y) scalar. Training
    docs are those with >= 1 feature (an empty document carries no
    gradient signal on bag-of-words).
    """
    spark = d.sparkSession
    y = F.when(F.col("passes_gopher") == 1, F.lit(1)).otherwise(F.lit(-1))
    labels = gopher_rules_frame(d).select("doc_id", y.cast("long").alias("y"))
    fx = (
        d.select("doc_id", F.explode(_clf_feats_col()).alias("w"))
        .join(labels, "doc_id")
        .persist()
    )
    weights = spark.createDataFrame([], "w string, wt long").localCheckpoint()
    bias = 0
    for _ in range(CLF_EPOCHS):
        scored = (
            fx.join(weights, "w", "left")
            .groupBy("doc_id", "y")
            .agg(F.coalesce(F.sum("wt"), F.lit(0)).cast("long").alias("s"))
        )
        mis = (
            scored.filter(F.col("y") * (F.col("s") + F.lit(bias)) <= 0)
            .select("doc_id", F.col("y").alias("my"))
            .localCheckpoint()
        )
        stats = mis.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("my"), F.lit(0)).cast("long").alias("sy"),
        ).collect()[0]
        if stats["n"] == 0:  # converged: every further epoch is a no-op
            mis.unpersist()
            break
        upd = (
            fx.join(mis, "doc_id")
            .groupBy("w")
            .agg(F.sum("my").cast("long").alias("d"))
        )
        new_weights = (
            weights.join(upd, "w", "full")
            .select(
                "w",
                (
                    F.coalesce("wt", F.lit(0)) + F.coalesce("d", F.lit(0))
                ).cast("long").alias("wt"),
            )
            .filter(F.col("wt") != 0)
            .localCheckpoint()
        )
        bias += int(stats["sy"])
        weights.unpersist()
        mis.unpersist()
        weights = new_weights
    fx.unpersist()
    return weights, bias


def _sql_classifier_fit_ctes(gopher_oracle: str) -> str:
    """DuckDB twin of the training loop, UNROLLED one CTE chain per
    epoch (score -> misclassified -> per-feature update -> new weights/
    bias). Multiply-referenced stages are MATERIALIZED — DuckDB inlines
    plain CTEs, and each epoch references the previous weights twice
    (same exponential-blowup trap as the bpe_train oracle). The final
    weight table is w{CLF_EPOCHS} (zero rows kept — they sum
    identically) and bias b{CLF_EPOCHS}."""
    parts = [
        f"""
    gop AS ({gopher_oracle}),
    lab AS (
      SELECT doc_id, CAST(CASE WHEN passes_gopher = 1 THEN 1 ELSE -1 END
                          AS BIGINT) AS y
      FROM gop
    ),
    f AS (
      SELECT doc_id,
             COALESCE(list_distinct(list_filter(string_split(lower(text), ' '),
                                                w -> w <> '')), []) AS feats
      FROM documents
    ),
    fx AS MATERIALIZED (
      SELECT t.doc_id, u.w, l.y
      FROM f t JOIN lab l USING (doc_id),
           LATERAL (SELECT unnest(t.feats) AS w) u
    ),
    w0 AS (SELECT CAST(NULL AS VARCHAR) AS feature, CAST(0 AS BIGINT) AS wt
           WHERE false),
    b0 AS (SELECT CAST(0 AS BIGINT) AS b)"""
    ]
    for e in range(1, CLF_EPOCHS + 1):
        p = e - 1
        parts.append(f"""
    sc{e} AS (
      SELECT fx.doc_id, ANY_VALUE(fx.y) AS y,
             COALESCE(SUM(w.wt), 0) + ANY_VALUE(b.b) AS s
      FROM fx LEFT JOIN w{p} w ON w.feature = fx.w CROSS JOIN b{p} b
      GROUP BY fx.doc_id
    ),
    mis{e} AS MATERIALIZED (
      SELECT doc_id, y AS my FROM sc{e} WHERE y * s <= 0
    ),
    upd{e} AS (
      SELECT fx.w AS feature, CAST(SUM(m.my) AS BIGINT) AS d
      FROM fx JOIN mis{e} m USING (doc_id) GROUP BY fx.w
    ),
    w{e} AS MATERIALIZED (
      SELECT COALESCE(a.feature, u.feature) AS feature,
             CAST(COALESCE(a.wt, 0) + COALESCE(u.d, 0) AS BIGINT) AS wt
      FROM w{p} a FULL OUTER JOIN upd{e} u ON u.feature = a.feature
    ),
    b{e} AS MATERIALIZED (
      SELECT CAST(b.b + COALESCE((SELECT SUM(my) FROM mis{e}), 0) AS BIGINT)
               AS b
      FROM b{p} b
    )""")
    return "WITH" + ",".join(parts)


def trained_classifier_weights(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[str, int]], int]:
    """The trained classifier served from a write-once JSON artifact
    (self-review r13: fit and scorer each re-ran the full perceptron
    loop per invocation — a deterministic function of (corpus, config,
    source), i.e. exactly the derived-data shape trained_ivf_centroids
    caches; keying and publishing: apache_flink_pratices_spark/artifacts.py).
    The key names this whole module: the trainer, feature builder,
    labeler and its _gopher_metrics delegate, tokenizer, and every
    GOPHER_*/STOPWORDS constant live here, and the r13 function-list
    fingerprint silently MISSED the _gopher_metrics delegate twice
    (ADVICE r13). So any edit here costs one ~3 s retrain at bench
    scale. The learned weight table is vocabulary-bounded (Heaps' law),
    so the collect and the JSON stay small at any corpus scale; rows are
    sorted for a deterministic artifact."""
    key = artifacts.key(sf_dir, (sys.modules[__name__],), CLF_EPOCHS, "clf_weights")

    def build() -> dict:
        wdf, bias = classifier_fit_tables(load(spark, sf_dir, "documents"))
        rows = sorted((r["w"], int(r["wt"])) for r in wdf.collect())
        return {"weights": rows, "bias": bias}

    obj = artifacts.json_artifact(
        "clf_weights",
        key,
        build,
        valid=lambda o: isinstance(o.get("weights"), list)
        and isinstance(o.get("bias"), int),
    )
    return [(str(w), int(wt)) for w, wt in obj["weights"]], int(obj["bias"])


def _register_classifier() -> None:
    from apache_flink_pratices_spark.registry import get_spec

    gopher = get_spec("quality_gopher_rules").oracle
    ctes = _sql_classifier_fit_ctes(gopher)

    @register(
        "quality_classifier_fit",
        oracle=f"""
        {ctes}
        SELECT feature, wt AS weight FROM w{CLF_EPOCHS} WHERE wt <> 0
        UNION ALL
        SELECT '' AS feature, b AS weight FROM b{CLF_EPOCHS}
        """,
        doc=f"TRAIN the linear quality classifier (VERDICT r12 #3): "
        f"{CLF_EPOCHS} exact-integer batch-perceptron epochs over binary "
        "bag-of-words features with the Gopher-pass bit as the label "
        "(the gate's exact expressions by shared frame/oracle, so the "
        "labeler and the trainer can never disagree on 'clean'). Emits "
        "the learned nonzero weights plus the bias row (feature = '' — "
        "the tokenizer filters empty tokens, so no real feature can "
        "collide). The oracle unrolls the identical epochs as generated "
        "CTE stages; tests/test_classifier_fit.py pins the loop to an "
        "independent pure-Python perceptron, and the emitted table is "
        "served from a write-once artifact pinned bit-equal to a live "
        "fit (round 13 self-review). Spark shape: one persisted "
        "exploded-feature pass; per epoch a vocabulary-bounded weight "
        "join back (AQE-broadcastable), a per-doc aggregate and a "
        "vocabulary-bounded update — no corpus-sized driver fetch "
        "anywhere.",
        bench=True,
        tags=("text", "quality", "llm-pipeline", "classifier", "training"),
    )
    def quality_classifier_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
        rows, bias = trained_classifier_weights(spark, sf_dir)
        return spark.createDataFrame(
            rows + [("", bias)], "feature string, weight long"
        )

    @register(
        "quality_linear_classifier",
        oracle=f"""
        {ctes},
        sfx AS (
          SELECT t.doc_id, u.w
          FROM f t, LATERAL (SELECT unnest(t.feats) AS w) u
        ),
        fs AS (
          SELECT s.doc_id, CAST(SUM(w.wt) AS BIGINT) AS fs
          FROM sfx s JOIN w{CLF_EPOCHS} w ON w.feature = s.w
          GROUP BY s.doc_id
        )
        SELECT t.doc_id, CAST(len(t.feats) AS BIGINT) AS n_feats,
               CAST(COALESCE(fs.fs, 0) + b.b AS BIGINT) AS score,
               COALESCE(fs.fs, 0) + b.b >= 0 AS passes
        FROM f t LEFT JOIN fs USING (doc_id) CROSS JOIN b{CLF_EPOCHS} b
        """,
        doc="Model-based quality filtering, fasttext/DCLM-shaped — scored "
        "with the TRAINED weights since round 13 (VERDICT r12 #3; the "
        "md5 stand-in is gone, the same gap-closure shape as "
        "quality_lm_perplexity_ref): each document scores bias + sum of "
        "learned weights over its distinct tokens and thresholds at 0. "
        "Fit and scorer share trained_classifier_weights (the write-once "
        "artifact over classifier_fit_tables), so they can never diverge "
        "on what was learned and neither re-runs the training loop when "
        "the artifact exists. Scoring is one vocabulary-bounded "
        "broadcast-shaped join over the feature stream + a per-doc "
        "aggregate — at 100 TB the weight table ships as the broadcast "
        "side exactly like a loaded fasttext model, and the integer "
        "score is exact and order-independent.",
        tags=("text", "quality", "llm-pipeline", "classifier"),
    )
    def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = load(spark, sf_dir, "documents")
        rows, bias = trained_classifier_weights(spark, sf_dir)
        weights = spark.createDataFrame(rows, "w string, wt long")
        t = d.select("doc_id", _clf_feats_col().alias("feats"))
        fsum = (
            t.select("doc_id", F.explode("feats").alias("w"))
            .join(weights, "w")
            .groupBy("doc_id")
            .agg(F.sum("wt").cast("long").alias("fs"))
        )
        score = (F.coalesce("fs", F.lit(0)) + F.lit(bias)).cast("long")
        return t.join(fsum, "doc_id", "left").select(
            "doc_id",
            F.size("feats").cast("long").alias("n_feats"),
            score.alias("score"),
            (score >= 0).alias("passes"),
        )


_register_classifier()


# --- tokenizer vocabulary coverage ------------------------------------------
VOCAB_MIN_DF = 5  #: a token is in-vocabulary when its corpus count >= this


@register(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT source, w
      FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    vocab AS (SELECT w FROM tok GROUP BY w HAVING COUNT(*) >= {VOCAB_MIN_DF})
    SELECT t.source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (w)
    GROUP BY t.source
    """,
    doc="Tokenizer-fit diagnostic: per-source out-of-vocabulary rate "
    f"against the corpus-frequency vocabulary (count >= {VOCAB_MIN_DF}). "
    "Scale shape: the vocabulary is VOCABULARY-bounded (a few million rows "
    "at web scale regardless of corpus size — Heaps' law), built by one "
    "map-side-combinable count and then BROADCAST back over the token "
    "stream, so the scoring pass is a broadcast hash join with no shuffle "
    "of the corpus-sized token stream; per-source totals are a "
    "dimension-sized aggregate. The real-pipeline twin scores a trained "
    "tokenizer's vocab file instead of a corpus-derived one — same plan, "
    "the vocab table just arrives as a broadcast side input.",
    tags=("text", "tokens", "llm-pipeline"),
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select("source", F.explode(tokens()).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= VOCAB_MIN_DF)
        .select("w", F.lit(1).alias("hit"))
    )
    n_oov = F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).cast("long")
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            n_oov.alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )
