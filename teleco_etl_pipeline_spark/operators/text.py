"""Text-analysis operators for training-data pipelines (SURVEY.md §7.5).

Language-ID, quality scoring, token counting, and document
fingerprinting over the ``documents`` table — all as pure Catalyst
expressions (split / higher-order functions / regex / md5), so at
100 TB they run inside whole-stage codegen with zero Python in the
hot path and full column pruning (only ``text`` is read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.plans.registry import query
from teleco_etl_pipeline_spark.sources.tables import load_table

# Cross-engine rounding tie stabilizer (see plans/relational.py EPS).
EPS = 1e-9

# A deliberately tiny, deterministic stopword set (parity with the
# DuckDB oracle matters more than linguistic realism here; swap in a
# real list per language in production).
STOPWORDS = ("the", "a")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization: split(trim(text), '\\s+')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprint/dedup: lower + collapse spaces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array (no UDF):
    transform(sequence(0, size-n), i -> array_join(slice(toks,i+1,n))).

    Short arrays (size < n) yield an EMPTY array — guarded with a
    ``when``, because ``sequence(0, size-n)`` with a negative stop
    counts DOWN ([0, -1], step inferred −1) and the i = −1 element
    would crash ``slice`` with start 0 at runtime (matches the DuckDB
    oracles' ``WHERE len(toks) >= n`` semantics of dropping the doc).
    """
    spans = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )
    return F.when(F.size(toks) >= n, spans).otherwise(
        F.array().cast("array<string>")
    )


@query(
    "doc_token_stats",
    r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+'))       AS n_tokens,
           length(text)                                        AS n_chars_actual,
           ROUND(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
                 / len(regexp_split_to_array(trim(text), '\s+')) + 1e-9, 4) AS avg_token_len
    FROM documents
    """,
    doc="Token counting (whitespace tokenizer) + char stats — "
    "training-data size accounting at scale.",
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("double")
            / n_tok
            + EPS,
            4,
        ).alias("avg_token_len"),
    )


@query(
    "doc_quality_score",
    r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                 / len(toks) + 1e-9, 4)              AS stopword_ratio,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) + 1e-9, 4)
                                                     AS distinct_ratio,
           CASE WHEN len(toks) < 20 THEN 'too_short'
                WHEN ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) + 1e-9, 4) < 0.2
                     THEN 'repetitive'
                ELSE 'ok' END                        AS quality_bucket
    FROM t
    """,
    doc="Heuristic document quality scoring (length / stopword ratio / "
    "repetition) — the filter stage of an LLM data pipeline.",
)
def q_doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    d = d.select("doc_id", toks.alias("toks"))
    n_tok = F.size("toks")
    distinct_ratio = F.round(
        F.size(F.array_distinct("toks")).cast("double") / n_tok + EPS, 4
    )
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(
            F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS))).cast("double")
            / n_tok
            + EPS,
            4,
        ).alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        F.when(n_tok < 20, "too_short")
        .when(distinct_ratio < 0.2, "repetitive")
        .otherwise("ok")
        .alias("quality_bucket"),
    )


@query(
    "doc_lang_id",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id, lang AS lang_declared,
           CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                     / len(toks) >= 0.05 THEN 'en'
                WHEN len(list_filter(toks, x -> x = 'spark')) > 0 THEN 'tech'
                ELSE 'und' END AS lang_guess
    FROM t
    """,
    doc="N-gram/stopword-heuristic language ID. The rule is tiny on "
    "purpose — the point is a deterministic classifier evaluated "
    "identically by Spark and the oracle; production swaps in bigger "
    "marker tables via the same expressions.",
)
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", F.col("lang").alias("lang_declared"), tokens("text").alias("toks"))
    stop_ratio = (
        F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS))).cast("double")
        / F.size("toks")
    )
    has_spark = F.size(F.filter("toks", lambda x: x == "spark")) > 0
    return d.select(
        "doc_id",
        "lang_declared",
        F.when(stop_ratio >= 0.05, "en")
        .when(has_spark, "tech")
        .otherwise("und")
        .alias("lang_guess"),
    )


@query(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
    doc="Canonical document fingerprint: md5 over normalized text "
    "(lower + whitespace-collapse) — the exact-dedup key.",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(normalized_text("text")).alias("fingerprint"))


# BPE-ish pre-tokenization: letter runs, digit runs, and individual
# punctuation — the classic GPT-2-style pre-split shape (public
# knowledge) that BPE merge tables operate on.
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "doc_regex_tokens",
    r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+'))               AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_pretokens,
           len(regexp_extract_all(text, '[0-9]+'))                     AS digit_runs
    FROM documents
    """,
    doc="Token counting two ways: whitespace tokenizer + BPE-ish "
    "regex pre-tokenizer (letter runs / digit runs / punct) — the "
    "pre-split a BPE merge table consumes.",
)
def q_doc_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_SPLIT_PATTERN), 0)
        ).alias("bpe_pretokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)).alias(
            "digit_runs"
        ),
    )


# --- Document chunking ---------------------------------------------


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping fixed-size token windows —
    the context-length packing step of a training-data pipeline.

    Chunk k covers tokens [k·stride, k·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the last chunk is short rather
    than padded. Expressed as explode(sequence) over a per-row chunk
    count + slice/array_join — pure codegen, so at 100 TB the explode
    fan-out (~n_tokens/stride rows per doc) is the only cost and no
    text ever crosses a shuffle unless a downstream op asks for it.

    Output is one row per chunk with the token span and an md5 of the
    chunk text (byte-identical across engines) rather than the text
    itself — callers that need the text re-derive it from the span.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size("toks")
    num_chunks = (
        F.greatest(F.ceil((n - chunk_tokens) / F.lit(float(stride))), F.lit(0)) + 1
    )
    start = F.col("chunk_id") * stride
    chunk = F.slice("toks", start + 1, chunk_tokens)
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0).cast("long"), num_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            start.alias("start_token"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


@query(
    "doc_chunking",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             GREATEST(CAST(CEIL((len(toks) - 32) / 24.0) AS BIGINT), 0) + 1 AS num_chunks
      FROM t
    )
    SELECT doc_id,
           k AS chunk_id,
           k * 24 AS start_token,
           len(toks[k*24 + 1 : k*24 + 32]) AS n_chunk_tokens,
           md5(array_to_string(toks[k*24 + 1 : k*24 + 32], ' ')) AS chunk_md5
    FROM c, unnest(generate_series(0, num_chunks - 1)) AS u(k)
    """,
    doc="Overlapping token-window chunking (32-token windows, 8-token "
    "overlap) — context-length packing for training data; md5 per "
    "chunk proves byte-identical splits across engines.",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=32, overlap=8)


# --- PII redaction -------------------------------------------------
#
# Patterns deliberately restricted to syntax that Java regex (Spark)
# and RE2 (DuckDB) interpret identically: character classes, bounded
# repetition, \b word boundaries — no lookaround (RE2 has none).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("idnum", r"\b\d{6,}\b", "<ID>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace every PII pattern with its placeholder, in declaration
    order (email before phone before bare id runs, so a phone number
    inside an already-redacted email can't double-fire)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: Column | str) -> list[Column]:
    """One match-count column per PII pattern (n_email, n_phone,
    n_idnum) — `size(regexp_extract_all(...))`, pure codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.size(F.regexp_extract_all(c, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


@query(
    "doc_pii_redaction",
    r"""
    WITH seeded AS (
      -- The synthetic corpus contains no PII, so inject a
      -- deterministic email/phone into a keyed subset of documents —
      -- same trick as the multimodal oracle's synthetic payloads.
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com now'
                  WHEN doc_id % 5 = 0
                  THEN text || ' call 555-867-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
           len(regexp_extract_all(text, '\b\d{6,}\b')) AS n_idnum,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                 '\b\d{6,}\b', '<ID>', 'g')) AS clean_md5
    FROM seeded
    """,
    doc="PII scrubbing for corpus publication: regex redaction of "
    "emails/phones/id-runs with per-pattern match counts and an md5 "
    "over the redacted text proving byte-identical output across "
    "engines. All codegen'd regexp_replace — no UDF at 100 TB.",
)
def q_doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" call 555-867-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text")),
    )
    return seeded.select(
        "doc_id",
        *pii_counts("text"),
        F.md5(redact_pii("text")).alias("clean_md5"),
    )


@query(
    "top_ngrams",
    r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                   for i in generate_series(1, len(toks) - 2)])) AS shingle
      FROM tok WHERE len(toks) >= 3
    )
    SELECT shingle, COUNT(*) AS df
    FROM sh GROUP BY 1
    ORDER BY df DESC, shingle
    LIMIT 20
    """,
    doc="Corpus-level top-k n-gram document frequencies — the "
    "heavy-hitter count that feeds stop-shingle lists (the dedup "
    "guard) and corpus analytics. Partial counts combine map-side "
    "before the one shuffle on the shingle, and the LIMIT plans as "
    "TakeOrderedAndProject with a shingle tiebreak, so the global "
    "top-k never materializes a full sort at any corpus size.",
)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    parallelism = d.sparkSession.sparkContext.defaultParallelism
    toks = tokens("text")
    return (
        # Repartition first: CPU-bound explode over a few-file table
        # must not run on one core (see dedup._doc_shingles).
        d.repartition(parallelism, F.col("doc_id"))
        .select(toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(F.explode(shingles(F.col("toks"), 3)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("shingle"))
        .limit(20)
    )


# --- Repetition statistics (Gopher-style quality signals) ----------


def ngrams_all(toks: Column, n: int) -> Column:
    """ALL word n-gram occurrences (unlike :func:`shingles`, which
    de-duplicates) — repetition metrics need the multiplicity.
    Documents shorter than ``n`` tokens yield an empty array (guarded
    explicitly: ``sequence(0, size-n)`` would count DOWN for
    ``size < n`` and fabricate junk grams)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition signals in the style of the Gopher
    data-quality rules (Rae et al. 2021, public): fraction of
    duplicated words, characters claimed by the single most frequent
    bigram, and characters inside duplicated trigrams. Documents
    dominated by boilerplate or looping text score high and get
    ``repetition_flag = true``.

    Shape at 100 TB: words, bigrams and trigrams are exploded ONCE
    into a tagged (kind, gram) stream, so the whole computation is a
    single shuffle on (doc_id, kind, gram) with map-side partial
    counts, followed by a map-side-combinable re-agg down to doc_id.
    No per-doc quadratic work (contrast a naive
    ``filter(grams, g -> ...)`` per distinct gram), no Python.

    Char accounting: a bigram string "a b" carries one joining space,
    a trigram two — subtracted so fractions are over non-whitespace
    characters, with the denominator the total word characters. The
    top-bigram metric counts only bigrams occurring MORE THAN ONCE:
    in a short document the single most frequent bigram trivially
    claims a large fraction even with zero repetition, which would
    make the flag fire on length, not on looping text.
    """
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    toks = tokens("text")
    tagged = F.concat(
        F.transform(
            F.col("toks"), lambda w: F.struct(F.lit(1).alias("kind"), w.alias("gram"))
        ),
        F.transform(
            ngrams_all(F.col("toks"), 2),
            lambda g: F.struct(F.lit(2).alias("kind"), g.alias("gram")),
        ),
        F.transform(
            ngrams_all(F.col("toks"), 3),
            lambda g: F.struct(F.lit(3).alias("kind"), g.alias("gram")),
        ),
    )
    freq = (
        docs.repartition(parallelism, F.col("doc_id"))
        .select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(tagged).alias("t"))
        .select("doc_id", F.col("t.kind").alias("kind"), F.col("t.gram").alias("gram"))
        .groupBy("doc_id", "kind", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("glen", F.length("gram"))
    )
    is_word = F.col("kind") == 1
    per_doc = freq.groupBy("doc_id").agg(
        F.sum(F.when(is_word, F.col("cnt"))).alias("n_words"),
        F.sum(F.when(is_word, F.col("cnt") * F.col("glen"))).alias("word_chars"),
        F.coalesce(
            F.sum(F.when(is_word & (F.col("cnt") > 1), F.col("cnt"))), F.lit(0)
        ).alias("dup_words"),
        F.coalesce(
            F.max(
                F.when(
                    (F.col("kind") == 2) & (F.col("cnt") > 1),
                    F.col("cnt") * (F.col("glen") - 1),
                )
            ),
            F.lit(0),
        ).alias("top_bigram_chars"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("kind") == 3) & (F.col("cnt") > 1),
                    F.col("cnt") * (F.col("glen") - 2),
                )
            ),
            F.lit(0),
        ).alias("dup_trigram_chars"),
    )
    dup_word_frac = F.round(
        F.col("dup_words").cast("double") / F.col("n_words") + EPS, 4
    )
    top_bigram_char_frac = F.round(
        F.col("top_bigram_chars").cast("double") / F.col("word_chars") + EPS, 4
    )
    dup_trigram_char_frac = F.round(
        F.col("dup_trigram_chars").cast("double") / F.col("word_chars") + EPS, 4
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        dup_word_frac.alias("dup_word_frac"),
        top_bigram_char_frac.alias("top_bigram_char_frac"),
        dup_trigram_char_frac.alias("dup_trigram_char_frac"),
    ).withColumn(
        "repetition_flag",
        (F.col("dup_word_frac") > 0.6)
        | (F.col("top_bigram_char_frac") > 0.2)
        | (F.col("dup_trigram_char_frac") > 0.3),
    )


@query(
    "doc_repetition_stats",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ), g AS (
      SELECT doc_id, 1 AS kind, unnest(w) AS gram FROM t
      UNION ALL
      SELECT doc_id, 2 AS kind,
             unnest([array_to_string(w[i:i+1], ' ')
                     for i in generate_series(1, len(w) - 1)]) AS gram
      FROM t WHERE len(w) >= 2
      UNION ALL
      SELECT doc_id, 3 AS kind,
             unnest([array_to_string(w[i:i+2], ' ')
                     for i in generate_series(1, len(w) - 2)]) AS gram
      FROM t WHERE len(w) >= 3
    ), f AS (
      SELECT doc_id, kind, gram, length(gram) AS glen, COUNT(*) AS cnt
      FROM g GROUP BY doc_id, kind, gram
    ), d AS (
      SELECT doc_id,
        CAST(SUM(cnt) FILTER (WHERE kind = 1) AS BIGINT) AS n_words,
        SUM(cnt * glen) FILTER (WHERE kind = 1)          AS word_chars,
        COALESCE(SUM(cnt) FILTER (WHERE kind = 1 AND cnt > 1), 0) AS dup_words,
        COALESCE(MAX(cnt * (glen - 1)) FILTER (WHERE kind = 2 AND cnt > 1), 0)
                                                         AS top_bigram_chars,
        COALESCE(SUM(cnt * (glen - 2)) FILTER (WHERE kind = 3 AND cnt > 1), 0)
                                                         AS dup_trigram_chars
      FROM f GROUP BY doc_id
    )
    SELECT doc_id, n_words,
           dup_word_frac, top_bigram_char_frac, dup_trigram_char_frac,
           (dup_word_frac > 0.6 OR top_bigram_char_frac > 0.2
            OR dup_trigram_char_frac > 0.3) AS repetition_flag
    FROM (
      SELECT doc_id, n_words,
             ROUND(CAST(dup_words AS DOUBLE) / n_words + 1e-9, 4) AS dup_word_frac,
             ROUND(CAST(top_bigram_chars AS DOUBLE) / word_chars + 1e-9, 4)
                                                                  AS top_bigram_char_frac,
             ROUND(CAST(dup_trigram_chars AS DOUBLE) / word_chars + 1e-9, 4)
                                                                  AS dup_trigram_char_frac
      FROM d
    ) s
    """,
    doc="Gopher-style repetition quality signals (duplicated words, "
    "top-bigram char fraction, duplicated-trigram char fraction) — "
    "single tagged explode, one shuffle, no per-doc quadratic work.",
)
def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents"))


@query(
    "doc_wordshape_filter",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    )
    SELECT doc_id,
           n_words, mean_word_len, alpha_word_frac,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND alpha_word_frac > 0.8) AS keep
    FROM (
      SELECT doc_id,
             len(w) AS n_words,
             ROUND(CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
                        AS DOUBLE) / len(w) + 1e-9, 4) AS mean_word_len,
             ROUND(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                        AS DOUBLE) / len(w) + 1e-9, 4) AS alpha_word_frac
      FROM t
    ) s
    """,
    doc="Gopher-style word-shape gate (doc length, mean word length, "
    "alphabetic-word fraction) — zero-shuffle column expressions, "
    "whole-stage codegen end to end.",
)
def q_doc_wordshape_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", tokens("text").alias("w"))
    n_words = F.size("w")
    mean_word_len = F.round(
        F.aggregate(
            F.col("w"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / n_words
        + EPS,
        4,
    )
    alpha_word_frac = F.round(
        F.size(F.filter("w", lambda x: x.rlike("[A-Za-z]"))).cast("double")
        / n_words
        + EPS,
        4,
    )
    out = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_word_frac.alias("alpha_word_frac"),
    )
    return out.withColumn(
        "keep",
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("alpha_word_frac") > 0.8),
    )


@query(
    "bpe_pair_counts",
    r"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ), wf AS (
      SELECT w, COUNT(*) AS freq FROM words GROUP BY 1
    ), pairs AS (
      SELECT unnest([w[i:i+1] for i in generate_series(1, length(w) - 1)]) AS pair,
             freq
      FROM wf WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """,
    doc="BPE merge-table induction, step 1: corpus-weighted adjacent "
    "symbol-pair counts. The pair explode runs over the DISTINCT "
    "vocabulary (carrying word frequencies), not the raw token "
    "stream — the classic BPE-training trick that turns a "
    "trillion-token corpus into a million-row vocab before the "
    "expensive per-character work. Two shuffles (word freq, pair "
    "sum), both map-side combined; top-k is TakeOrderedAndProject.",
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    parallelism = d.sparkSession.sparkContext.defaultParallelism
    wf = (
        d.repartition(parallelism, F.col("doc_id"))
        .select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    char_pairs = F.transform(
        F.sequence(F.lit(0), F.length("w") - 2),
        lambda i: F.col("w").substr(i + 1, F.lit(2)),
    )
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(F.explode(char_pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
    )
    return pairs.orderBy(F.col("pair_count").desc(), F.col("pair")).limit(20)


@query(
    "doc_length_band_filter",
    r"""
    WITH b AS (
      SELECT ROUND(quantile_cont(length(text), 0.05) + 1e-9, 6) AS lo,
             ROUND(quantile_cont(length(text), 0.95) + 1e-9, 6) AS hi
      FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars_actual,
           (length(text) BETWEEN (SELECT lo FROM b) AND (SELECT hi FROM b)) AS keep
    FROM documents
    """,
    doc="Corpus-RELATIVE length filter: keep documents between the "
    "5th and 95th length percentile. Absolute length cutoffs go "
    "stale as a corpus mixes sources; the percentile bounds enter "
    "the plan as scalar subqueries, so this is one aggregate pass + "
    "one filter pass, no driver round-trip baked into the plan. "
    "Bounds are rounded on both engines before the comparison so an "
    "interpolation ulp cannot flip membership at the boundary.",
)
def q_doc_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.quantiles import (
        exact_percentiles,
        half_up,
    )

    d = load_table(spark, sf_dir, "documents")
    # Bounded-memory exact percentiles as driver literals (the r11
    # repo-wide sweep of the HBOS single-buffer pattern); half_up
    # replicates the engines' ROUND(x + 1e-9, 6) on the driver.
    lo_v, hi_v = exact_percentiles(d, F.length("text"), [0.05, 0.95])
    lo, hi = F.lit(half_up(lo_v + EPS, 6)), F.lit(half_up(hi_v + EPS, 6))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.length("text").between(lo, hi).alias("keep"),
    )


@query(
    "doc_oov_rate",
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ), vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
      ) QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, token) <= 20
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) + 1e-9, 4) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY doc_id
    """,
    doc="Vocabulary-coverage gate: per-document fraction of token "
    "occurrences outside the corpus top-K vocabulary (deterministic "
    "count-desc/token-asc ranking) — the tokenizer-fit signal that "
    "flags documents a fixed vocab would shred into rare pieces. "
    "The vocab is a top-K aggregate (tiny, broadcast into the "
    "probe join); the token stream shuffles once for the counts "
    "and once for the per-doc agg — at 100 TB the vocab table is "
    "materialized once per tokenizer release instead of refit.",
)
def q_doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    # top-K via orderBy+limit → TakeOrderedAndProject: every partition
    # keeps its local top-20 and the driver merges. A global
    # row_number window here would funnel the ENTIRE vocabulary
    # through one task to keep 20 rows.
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    marked = tok.join(F.broadcast(vocab), "token", "left")
    oov = F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.alias("n_oov"),
        F.round(oov.cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4).alias(
            "oov_rate"
        ),
    )


@query(
    "doc_langid_confusion",
    r"""
    WITH t AS (
      SELECT lang,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), pred AS (
      SELECT lang AS lang_declared,
             CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                       / len(toks) >= 0.05 THEN 'en'
                  WHEN len(list_filter(toks, x -> x = 'spark')) > 0 THEN 'tech'
                  ELSE 'und' END AS lang_guess
      FROM t
    ), cells AS (
      SELECT lang_declared, lang_guess, COUNT(*) AS n FROM pred GROUP BY 1, 2
    )
    SELECT lang_declared, lang_guess, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang_declared) + 1e-9, 4)
             AS recall_share,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang_guess) + 1e-9, 4)
             AS precision_share
    FROM cells
    ORDER BY lang_declared, lang_guess
    """,
    doc="Classifier evaluation as a first-class operator: the "
    "confusion matrix of declared vs lang-ID-predicted language, "
    "with per-cell recall share (row-normalized) and precision share "
    "(column-normalized) from window margins over the TINY cell "
    "aggregate — one corpus scan builds the cells, the metrics cost "
    "nothing more. The pattern generalizes to any categorical "
    "model-vs-label audit (quality gates, split leakage checks).",
)
def q_doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        F.col("lang").alias("lang_declared"), tokens("text").alias("toks")
    )
    stop_ratio = (
        F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS))).cast("double")
        / F.size("toks")
    )
    has_spark = F.size(F.filter("toks", lambda x: x == "spark")) > 0
    pred = d.select(
        "lang_declared",
        F.when(stop_ratio >= 0.05, "en")
        .when(has_spark, "tech")
        .otherwise("und")
        .alias("lang_guess"),
    )
    cells = pred.groupBy("lang_declared", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    return cells.select(
        "lang_declared",
        "lang_guess",
        "n",
        F.round(
            F.col("n") * 1.0
            / F.sum("n").over(Window.partitionBy("lang_declared"))
            + F.lit(1e-9),
            4,
        ).alias("recall_share"),
        F.round(
            F.col("n") * 1.0
            / F.sum("n").over(Window.partitionBy("lang_guess"))
            + F.lit(1e-9),
            4,
        ).alias("precision_share"),
    ).orderBy("lang_declared", "lang_guess")


def char_entropy(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document Shannon character entropy in exact integer
    micro-bits — the classic low-information filter (binary blobs,
    key-mash spam, and boilerplate repeats sit far from natural
    text's ~4 bits/char; cf. Gopher's quality heuristics,
    Rae et al. 2021 §A1.1).

    H = log2(n) − (Σ_c cnt·log2(cnt))/n is computed with every
    surprisal FLOOR-quantized to integer micro-bits ONCE per distinct
    count (the freq.py bigram-logprob pattern), so all sums are
    order-independent int64 and the result is engine-identical by
    construction. Scale shape: one explode + (doc, char) partial-agg
    reduce, then a doc-level fold — alphabet-bounded (≤ a few hundred
    rows per doc after the first combine), zero Python in the path.
    """
    chars = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    cc = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt").cast("long")
    return (
        cc.groupBy(id_col)
        .agg(
            n.alias("n_chars_seen"),
            F.count(F.lit(1)).cast("long").alias("distinct_chars"),
            F.expr(
                "CAST((CAST(FLOOR(log2(CAST(sum(cnt) AS DOUBLE)) * 1000000.0)"
                " AS BIGINT) * CAST(sum(cnt) AS BIGINT)"
                " - CAST(sum(cnt * CAST(FLOOR(log2(CAST(cnt AS DOUBLE))"
                " * 1000000.0) AS BIGINT)) AS BIGINT))"
                " div CAST(sum(cnt) AS BIGINT) AS BIGINT)"
            ).alias("entropy_ubits"),
        )
        .orderBy(id_col)
    )


@query(
    "doc_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ), cc AS (
      SELECT doc_id, ch, COUNT(*) AS cnt FROM chars
      WHERE ch <> '' GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_chars_seen,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           CAST((CAST(FLOOR(log2(CAST(SUM(cnt) AS DOUBLE)) * 1000000.0)
                   AS BIGINT) * CAST(SUM(cnt) AS BIGINT)
                 - CAST(SUM(cnt * CAST(FLOOR(log2(CAST(cnt AS DOUBLE))
                     * 1000000.0) AS BIGINT)) AS BIGINT))
                // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS entropy_ubits
    FROM cc GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Per-document Shannon character entropy (integer micro-bits, "
    "H = log2 n − Σ cnt·log2 cnt / n with floor-quantized "
    "surprisals — the freq.py exact-integer log pattern): the "
    "low-information corpus filter that catches binary junk, "
    "key-mash, and repeated boilerplate, which length/stopword "
    "heuristics miss. One explode + alphabet-bounded (doc,char) "
    "reduce; every sum int64, engine-identical by construction.",
)
def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_entropy(load_table(spark, sf_dir, "documents"))


# --- round-12 additions: Gopher rule filter + DSIR importance weights --------

# Gopher quality-rule constants (Rae et al. 2021 §A1.1, public):
# word-count band, mean-word-length band, symbol-to-word cap,
# bullet/ellipsis line caps, alphabetic-word floor, stop-word floor.
_GOPHER_WC_LO, _GOPHER_WC_HI = 50, 100_000
_GOPHER_MWL_LO, _GOPHER_MWL_HI = 3, 10
# Gopher's canonical stop list is ("the","be","to","of","and",
# "that","have","with"); the synthetic corpus vocabulary only
# contains a subset of English function words, so the rule is
# parameterized with the corpus-visible set (same >= 2 floor) —
# on real English text swap the canonical list back in.
_GOPHER_STOPS = ("the", "a", "and", "of", "to", "in", "is", "that")


@query(
    "doc_gopher_rules",
    r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             string_split(text, chr(10)) AS lines,
             length(regexp_replace(text, '\s', '', 'g')) AS nonspace,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3
               AS n_ellipsis
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(toks) AS wc,
             CASE WHEN len(toks) BETWEEN 50 AND 100000
                  THEN 0 ELSE 1 END AS f_wc,
             CASE WHEN 3 * len(toks) <= nonspace
                       AND nonspace <= 10 * len(toks)
                  THEN 0 ELSE 1 END AS f_mwl,
             CASE WHEN 10 * (n_hash + n_ellipsis) <= len(toks)
                  THEN 0 ELSE 1 END AS f_sym,
             CASE WHEN 10 * len(list_filter(lines,
                         x -> regexp_matches(x, '^[-*•]')))
                       <= len(lines)
                  THEN 0 ELSE 1 END AS f_bullet,
             CASE WHEN 10 * len(list_filter(lines,
                         x -> regexp_matches(x, '\.\.\.$')))
                       <= 3 * len(lines)
                  THEN 0 ELSE 1 END AS f_ell,
             CASE WHEN 5 * len(list_filter(toks,
                         x -> regexp_matches(x, '[a-zA-Z]')))
                       >= 4 * len(toks)
                  THEN 0 ELSE 1 END AS f_alpha,
             CASE WHEN (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'in') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'is') THEN 1 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END
                        ) >= 2
                  THEN 0 ELSE 1 END AS f_stop
      FROM t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
           CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
           CAST(SUM(f_sym) AS BIGINT) AS fail_symbol_ratio,
           CAST(SUM(f_bullet) AS BIGINT) AS fail_bullet_lines,
           CAST(SUM(f_ell) AS BIGINT) AS fail_ellipsis_lines,
           CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha_words,
           CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords,
           CAST(SUM(CASE WHEN f_wc + f_mwl + f_sym + f_bullet + f_ell
                              + f_alpha + f_stop = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM f
    """,
    doc="Gopher quality-rule report (Rae et al. 2021 Appendix A — "
    "the public rule set behind MassiveText): word-count band "
    "[50, 100k], mean word length [3, 10], symbol-to-word ratio "
    "(#/ellipsis) <= 0.1, bullet-start lines <= 10%, "
    "ellipsis-ending lines <= 30%, >= 80% words alphabetic, >= 2 "
    "distinct stop words. Every ratio test is cleared to EXACT "
    "INTEGER cross-multiplication (3*wc <= nonspace, 10*sym <= wc, "
    "5*alpha >= 4*wc ...) so no float threshold can split "
    "cross-engine; one scan, zero shuffles before the 1-row count "
    "fold — the whole filter is map-side codegen over split/"
    "regexp/length builtins, the C4/Gopher curation stage at any "
    "corpus size.",
)
def q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.sources.tables import ensure_min_splits

    # regex/split-heavy per-row work: apply the small-file cliff
    # guard (no-op at >= 1 split/core layouts) so the CPU-bound rule
    # projection runs core-wide, the split_token_jsd r11 fix class
    d = ensure_min_splits(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens("text")
    lines = F.split(F.col("text"), "\n")
    wc = F.size(toks)
    nonspace = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    n_hash = F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", ""))
    n_ell = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"\.\.\.", ""))
    ) / 3
    f_wc = F.when(
        wc.between(_GOPHER_WC_LO, _GOPHER_WC_HI), 0
    ).otherwise(1)
    f_mwl = F.when(
        (F.lit(_GOPHER_MWL_LO) * wc <= nonspace)
        & (nonspace <= F.lit(_GOPHER_MWL_HI) * wc),
        0,
    ).otherwise(1)
    f_sym = F.when(10 * (n_hash + n_ell) <= wc, 0).otherwise(1)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike("^[-*•]")))
    f_bullet = F.when(10 * n_bullet <= F.size(lines), 0).otherwise(1)
    n_ell_lines = F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.$")))
    f_ell = F.when(10 * n_ell_lines <= 3 * F.size(lines), 0).otherwise(1)
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]")))
    f_alpha = F.when(5 * n_alpha >= 4 * wc, 0).otherwise(1)
    n_stop = sum(
        F.when(F.array_contains(toks, s), 1).otherwise(0)
        for s in _GOPHER_STOPS
    )
    f_stop = F.when(n_stop >= 2, 0).otherwise(1)
    f = d.select(
        f_wc.alias("f_wc"),
        f_mwl.alias("f_mwl"),
        f_sym.alias("f_sym"),
        f_bullet.alias("f_bullet"),
        f_ell.alias("f_ell"),
        f_alpha.alias("f_alpha"),
        f_stop.alias("f_stop"),
    )
    allf = (
        F.col("f_wc")
        + F.col("f_mwl")
        + F.col("f_sym")
        + F.col("f_bullet")
        + F.col("f_ell")
        + F.col("f_alpha")
        + F.col("f_stop")
    )
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("f_wc").cast("long").alias("fail_word_count"),
        F.sum("f_mwl").cast("long").alias("fail_mean_word_len"),
        F.sum("f_sym").cast("long").alias("fail_symbol_ratio"),
        F.sum("f_bullet").cast("long").alias("fail_bullet_lines"),
        F.sum("f_ell").cast("long").alias("fail_ellipsis_lines"),
        F.sum("f_alpha").cast("long").alias("fail_alpha_words"),
        F.sum("f_stop").cast("long").alias("fail_stopwords"),
        F.sum(F.when(allf == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
    )


# DSIR hash-bucket count and smoothing (Xie et al. 2023, public):
# n-gram features hashed to a fixed bucket table; add-1 smoothing.
_DSIR_BUCKETS = 256
_DSIR_TOPK = 20


@query(
    "doc_dsir_importance",
    rf"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT)
               % {_DSIR_BUCKETS} AS bucket
      FROM tok
    ),
    bt AS (
      SELECT bucket,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
             COUNT(*) AS nc
      FROM b GROUP BY bucket
    ),
    tot AS (
      SELECT SUM(nt) AS tt, SUM(nc) AS tc FROM bt
    ),
    w AS (
      SELECT bucket,
             CAST(FLOOR(LN((nt + 1.0) / ((SELECT tt FROM tot)
                                         + {_DSIR_BUCKETS}))
                        * 1000000.0) AS BIGINT)
             - CAST(FLOOR(LN((nc + 1.0) / ((SELECT tc FROM tot)
                                           + {_DSIR_BUCKETS}))
                          * 1000000.0) AS BIGINT) AS micro
      FROM bt
    ),
    docw AS (
      SELECT b.doc_id,
             COUNT(*) AS n_tokens,
             SUM(w.micro) AS weight_microbits
      FROM b JOIN w USING (bucket)
      GROUP BY b.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(weight_microbits AS BIGINT) AS weight_microbits
    FROM docw
    ORDER BY weight_microbits DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """,
    doc="DSIR importance weights (Xie et al. 2023, Data Selection "
    "via Importance Resampling — public): rank raw documents by "
    "log p_target/p_raw under hashed unigram bucket models, target "
    "= the English slice. One token explode, one {B}-bucket reduce "
    "(B=256 — the model is CONSTANT-sized however large the "
    "corpus), per-bucket log-ratios floor-quantized to integer "
    "MICRO-units (the freq.py libm idiom: every downstream sum is "
    "exact integer, engine order can't perturb it), then a "
    "broadcast bucket-table join back onto the token stream and a "
    "per-doc integer fold; TakeOrdered top-k, never a global sort. "
    "The bucket hash is the shared md5 idiom "
    "(operators/sampling.hash_bucket), so splits/dedup/DSIR agree "
    "on hashing.",
)
def q_doc_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.sampling import hash_bucket
    from teleco_etl_pipeline_spark.sources.tables import ensure_min_splits

    d = ensure_min_splits(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )  # tokenize+explode+md5 is CPU-bound — cliff guard, no-op at scale
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(tokens("text")).alias("token"),
    )
    b = tok.select(
        "doc_id",
        "lang",
        hash_bucket("token", buckets=_DSIR_BUCKETS).alias("bucket"),
    ).localCheckpoint(eager=True)  # feeds the bucket model AND the scoring join
    bt = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
        F.count(F.lit(1)).alias("nc"),
    )
    tot = bt.agg(F.sum("nt").alias("tt"), F.sum("nc").alias("tc"))
    w = bt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.floor(
                F.log(
                    (F.col("nt") + 1.0)
                    / (F.col("tt") + F.lit(float(_DSIR_BUCKETS)))
                )
                * 1e6
            ).cast("long")
            - F.floor(
                F.log(
                    (F.col("nc") + 1.0)
                    / (F.col("tc") + F.lit(float(_DSIR_BUCKETS)))
                )
                * 1e6
            ).cast("long")
        ).alias("micro"),
    )
    docw = (
        b.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("micro").cast("long").alias("weight_microbits"),
        )
    )
    return docw.orderBy(
        F.desc("weight_microbits"), F.asc("doc_id")
    ).limit(_DSIR_TOPK)
