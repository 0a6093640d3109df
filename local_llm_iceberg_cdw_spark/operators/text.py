"""Text-analysis operators over the `documents` table.

The reference's north star (BASELINE.json) calls for LLM-training-data
pipeline operators beyond the reference's own NL→SQL surface.  These are
the per-document text statistics a curation pipeline runs at 100 TB:
token counting, quality scoring, language-ID heuristics, fingerprinting.

Everything here is built-in `pyspark.sql.functions` — JVM-side,
whole-stage-codegen'd, zero Python in the hot path.  Higher-order array
functions (`filter`, `transform`, `aggregate`) keep per-token logic
vectorized without a UDF.  Each op is embarrassingly parallel (no shuffle
at all until an explicit aggregate), so it scales linearly with input
splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import bind, let, spread_small_input
from . import QuerySpec

# Tiny marker-word lists for the language-ID heuristic. Deliberately simple
# and 100% SQL-expressible so the DuckDB oracle can replicate it exactly.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "una"),
    "de": ("der", "die", "und"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

TOKEN_SPLIT = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokenization as an array column (no UDF)."""
    return F.split(F.trim(col), TOKEN_SPLIT)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def normalized_text(col: Column) -> Column:
    """Whitespace-collapsed, lower-cased text for fingerprinting."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text.

    md5 (hex) is available verbatim in DuckDB → exact oracle parity; for
    a pure-Spark pipeline xxhash64 is cheaper (used in dedup.py keys).
    """
    return F.md5(normalized_text(col))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: token count, mean token length, stopword ratio,
    alpha ratio — the standard cheap filters before expensive dedup."""
    # `bind` routes the tokenization through a Generate node so the four
    # output columns share ONE split pass (4 inlined copies otherwise —
    # measured 2-3× slower at sf0.1).
    docs = bind(
        spread_small_input(load_table(spark, sf_dir, "documents")),
        tokens(F.col("text")),
        "toks",
    )
    toks = F.col("toks")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    # total token chars == text length minus all whitespace — a codegen'd
    # regexp pass instead of an interpreted higher-order fold
    total_tok_chars = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(total_tok_chars / n_tok, 6).alias("mean_token_len"),
        F.round(n_stop / n_tok, 6).alias("stopword_ratio"),
        F.round(n_alpha / F.length("text"), 6).alias("alpha_ratio"),
    )


def with_lang_guess(df: DataFrame, toks_name: str = "toks") -> DataFrame:
    """Attach the marker-word language guess (`q_lang_id` semantics:
    most marker hits wins, ties → LANG_MARKERS order, no hits → 'und')
    as ``lang_guess`` to a frame carrying a token-array column.  Shared
    by `q_lang_id` and the Naive-Bayes classifier label in curation.py."""

    def marker_match(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(x) for x in markers])
        return lambda t: F.array_contains(arr, t)

    # bind: each score feeds `greatest` + one CASE branch, so without it
    # every marker filter runs twice over the token array
    df = bind(
        df,
        F.array(
            *[
                F.size(F.filter(F.col(toks_name), marker_match(markers)))
                for markers in LANG_MARKERS.values()
            ]
        ),
        "_lang_scores",
    )
    scores = {
        lang: F.element_at(F.col("_lang_scores"), i + 1)
        for i, lang in enumerate(LANG_MARKERS)
    }
    best = F.greatest(*scores.values())
    guess = F.when(best == 0, "und")
    for lang in LANG_MARKERS:  # dict order = priority order
        guess = guess.when(scores[lang] == best, lang)
    return df.withColumn("lang_guess", guess).drop("_lang_scores")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: most marker hits wins, ties → priority
    order en > fr > es > de, no hits → 'und'."""
    docs = bind(
        spread_small_input(load_table(spark, sf_dir, "documents")),
        tokens(F.lower(F.col("text"))),
        "toks",
    )
    return with_lang_guess(docs).select("doc_id", "lang_guess", "lang")


def lang_guess_sql(toks_expr: str) -> str:
    """The DuckDB CASE expression equivalent of `with_lang_guess` over a
    token-array SQL expression (re-evaluated per score; DuckDB CSE
    handles the sharing)."""
    score_exprs = {
        lang: (
            f"len(list_filter({toks_expr}, "
            f"x -> x IN ({', '.join(repr(m) for m in markers)})))"
        )
        for lang, markers in LANG_MARKERS.items()
    }
    greatest = f"greatest({', '.join(score_exprs.values())})"
    whens = "\n           ".join(
        f"WHEN {expr} = {greatest} THEN '{lang}'" for lang, expr in score_exprs.items()
    )
    return f"""CASE WHEN {greatest} = 0 THEN 'und'
           {whens}
           END"""


def _lang_id_oracle() -> str:
    guess = lang_guess_sql(
        "regexp_split_to_array(trim(lower(text)), '\\s+')"
    )
    return f"""
    SELECT doc_id,
           {guess} AS lang_guess,
           lang
    FROM documents
    """


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


WINNOW_K = 3  # tokens per shingle
WINNOW_W = 4  # shingle-hashes per winnowing window


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme: per window of W
    consecutive k-shingle hashes keep the minimum; the distinct minima are
    the doc's fingerprint set).

    Rolling hash = md5 hex of each shingle; minima are lexicographic —
    identical across engines, so the op is exactly oracle-checkable.  All
    higher-order array functions, one pass, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    empty = F.array().cast("array<string>")

    base = spread_small_input(docs.select("doc_id", F.lower(F.col("text")).alias("lt")))

    # Each level is guarded (ANSI mode errors on element_at index 0;
    # sequence(1, x<1) would produce a descending garbage range) and
    # ``let``-bound so it evaluates exactly once per row.  Without the
    # binding, CollapseProject inlines the md5-shingle pipeline into every
    # window slice (measured 540 s vs ~8 s at sf0.1); a repartition
    # barrier instead serialized the hot stage onto one task and cost two
    # array shuffles (8.4 s) — ``let`` runs in 0.3 s with no exchange.
    def hashes_of(tk: Column) -> Column:
        n = F.size(tk)
        shingles = F.when(
            n >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), n - (WINNOW_K - 1)),
                lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j) for j in range(WINNOW_K)]),
            ),
        ).otherwise(empty)
        return F.transform(shingles, F.md5)

    def fp_of(h: Column) -> Column:
        m = F.size(h)
        minima = F.when(
            m >= WINNOW_W,
            F.transform(
                F.sequence(F.lit(1), m - (WINNOW_W - 1)),
                lambda j: F.array_min(F.slice(h, j, WINNOW_W)),
            ),
        ).otherwise(empty)
        return F.array_sort(F.array_distinct(minima))

    fp = let(tokens(F.col("lt")), lambda tk: let(hashes_of(tk), fp_of))
    # bind once: size() and the digest would otherwise each inline the
    # whole shingle→minima pipeline
    out = bind(base, fp, "fp")
    return out.select(
        "doc_id",
        F.size("fp").alias("n_fingerprints"),
        F.md5(F.array_join(F.col("fp"), "|")).alias("fingerprint_digest"),
    )


_WINNOWING_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {WINNOW_K + WINNOW_W - 1}
              THEN [md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    for i in range(1, len(toks) - {WINNOW_K - 1} + 1)]
              ELSE [] END AS hashes
  FROM t
), w AS (
  SELECT doc_id,
         list_sort(list_distinct(
           [list_min(hashes[j:j+{WINNOW_W - 1}]) for j in range(1, len(hashes) - {WINNOW_W - 1} + 1)]
         )) AS fp
  FROM sh
)
SELECT doc_id,
       CAST(len(fp) AS INT) AS n_fingerprints,
       md5(array_to_string(fp, '|')) AS fingerprint_digest
FROM w
"""


REP_NGRAM_N = 3  # word n-gram size for the intra-doc repetition signal
REP_THRESHOLD = 0.2  # duplicate-gram fraction above which a doc is flagged


def q_doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter (the Gopher-rules 'duplicate
    n-gram fraction', Rae et al. 2021 §A1.1): fraction of a doc's word
    3-grams that are repeats of an earlier 3-gram in the same doc.  The
    within-document complement of the cross-document dedup family —
    boilerplate/template spam shows up here before any corpus-wide join.

    Embarrassingly parallel: one tokenize pass, gram construction and
    distinct-count as higher-order array ops, zero shuffle, zero UDF."""
    docs = bind(
        spread_small_input(load_table(spark, sf_dir, "documents")),
        tokens(F.trim(F.lower(F.col("text")))),
        "toks",
    )
    toks = F.col("toks")
    n = F.size(toks)
    grams = F.when(
        n >= REP_NGRAM_N,
        F.transform(
            F.sequence(F.lit(1), n - (REP_NGRAM_N - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(REP_NGRAM_N)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # bind: n_grams, the distinct count, and the ratio all reference the
    # gram array — without it each output column re-runs the transform
    docs = bind(docs, grams, "grams")
    n_g = F.size(F.col("grams"))
    n_d = F.size(F.array_distinct(F.col("grams")))
    ratio = F.when(n_g > 0, F.round((n_g - n_d) / n_g, 6)).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_g.cast("long").alias("n_grams"),
        n_d.cast("long").alias("n_distinct_grams"),
        ratio.alias("repetition_ratio"),
        (ratio > REP_THRESHOLD).alias("is_repetitive"),
    )


_REPETITION_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {REP_NGRAM_N}
              THEN [array_to_string(toks[i:i+{REP_NGRAM_N - 1}], ' ')
                    for i in range(1, len(toks) - {REP_NGRAM_N - 1} + 1)]
              ELSE [] END AS grams
  FROM t
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
       CASE WHEN len(grams) > 0
            THEN round((len(grams) - len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE), 6)
            ELSE 0.0 END AS repetition_ratio,
       (CASE WHEN len(grams) > 0
             THEN round((len(grams) - len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE), 6)
             ELSE 0.0 END) > {REP_THRESHOLD} AS is_repetitive
FROM g
"""


# Composite keep/drop gate thresholds (Gopher-rules shape, Rae et al. 2021
# §A1.1, simplified to the signals computable in one pass here).
QF_MIN_TOKENS, QF_MAX_TOKENS = 10, 100_000
QF_MIN_MEAN_TOKEN_LEN, QF_MAX_MEAN_TOKEN_LEN = 2.0, 12.0
QF_MIN_STOPWORD_RATIO = 0.02
QF_MIN_ALPHA_RATIO = 0.5


def with_quality_flags(docs: DataFrame) -> DataFrame:
    """Attach the keep/drop gate columns to a ``documents``-shaped frame:
    the five per-rule booleans, their conjunction ``keep``, and the bound
    ``toks``/``grams`` arrays (so downstream consumers — the e2e pipeline
    — reuse the SAME tokenization pass instead of re-splitting).

    Single pass, zero shuffle: token stats, stopword/alpha ratios and the
    duplicate-3-gram fraction all come off one tokenization (``bind``)
    and plain string expressions; thresholds are module constants so both
    engines evaluate the identical comparisons on IEEE doubles."""
    docs = bind(docs, tokens(F.trim(F.lower(F.col("text")))), "toks")
    toks = F.col("toks")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    total_tok_chars = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    grams = F.when(
        n_tok >= REP_NGRAM_N,
        F.transform(
            F.sequence(F.lit(1), n_tok - (REP_NGRAM_N - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(REP_NGRAM_N)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    docs = bind(docs, grams, "grams")
    n_g = F.size(F.col("grams"))
    rep = F.when(
        n_g > 0, (n_g - F.size(F.array_distinct(F.col("grams")))) / n_g
    ).otherwise(F.lit(0.0))

    ok_len = (n_tok >= QF_MIN_TOKENS) & (n_tok <= QF_MAX_TOKENS)
    mean_len = total_tok_chars / n_tok
    ok_mean = (mean_len >= QF_MIN_MEAN_TOKEN_LEN) & (mean_len <= QF_MAX_MEAN_TOKEN_LEN)
    ok_stop = (n_stop / n_tok) >= QF_MIN_STOPWORD_RATIO
    ok_alpha = (n_alpha / F.length("text")) >= QF_MIN_ALPHA_RATIO
    ok_rep = rep <= REP_THRESHOLD
    return docs.select(
        "*",
        ok_len.alias("ok_length"),
        ok_mean.alias("ok_mean_token_len"),
        ok_stop.alias("ok_stopwords"),
        ok_alpha.alias("ok_alpha"),
        ok_rep.alias("ok_repetition"),
        (ok_len & ok_mean & ok_stop & ok_alpha & ok_rep).alias("keep"),
    )


def q_quality_filter_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's keep/drop gate: every per-document quality
    rule as an explicit boolean plus the conjunction — the auditable form
    (a pipeline logs WHY a doc was dropped, not just that it was).
    See ``with_quality_flags`` for the single-pass construction."""
    docs = with_quality_flags(
        spread_small_input(load_table(spark, sf_dir, "documents"))
    )
    return docs.select(
        "doc_id",
        "ok_length",
        "ok_mean_token_len",
        "ok_stopwords",
        "ok_alpha",
        "ok_repetition",
        "keep",
    )


_QF_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), g AS (
  SELECT doc_id, text, toks,
         CASE WHEN len(toks) >= {REP_NGRAM_N}
              THEN [array_to_string(toks[i:i+{REP_NGRAM_N - 1}], ' ')
                    for i in range(1, len(toks) - {REP_NGRAM_N - 1} + 1)]
              ELSE [] END AS grams
  FROM t
), m AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(toks) AS mean_len,
         CAST(len(list_filter(toks, x -> x IN
           ({', '.join(repr(s) for s in STOPWORDS)}))) AS DOUBLE) / len(toks) AS stop_ratio,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / length(text) AS alpha_ratio,
         CASE WHEN len(grams) > 0
              THEN (len(grams) - len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE)
              ELSE 0.0 END AS rep
  FROM g
)
SELECT doc_id,
       n_tok >= {QF_MIN_TOKENS} AND n_tok <= {QF_MAX_TOKENS} AS ok_length,
       mean_len >= {QF_MIN_MEAN_TOKEN_LEN} AND mean_len <= {QF_MAX_MEAN_TOKEN_LEN}
         AS ok_mean_token_len,
       stop_ratio >= {QF_MIN_STOPWORD_RATIO} AS ok_stopwords,
       alpha_ratio >= {QF_MIN_ALPHA_RATIO} AS ok_alpha,
       rep <= {REP_THRESHOLD} AS ok_repetition,
       (n_tok >= {QF_MIN_TOKENS} AND n_tok <= {QF_MAX_TOKENS})
         AND (mean_len >= {QF_MIN_MEAN_TOKEN_LEN} AND mean_len <= {QF_MAX_MEAN_TOKEN_LEN})
         AND stop_ratio >= {QF_MIN_STOPWORD_RATIO}
         AND alpha_ratio >= {QF_MIN_ALPHA_RATIO}
         AND rep <= {REP_THRESHOLD} AS keep
FROM m
"""


# --- BPE-ish token estimation -----------------------------------------------
# A GPT-style pre-tokenizer split (letter runs | single digits | single
# punctuation) plus a chars-per-piece subword estimate — the standard cheap
# proxy for "how many BPE tokens will this doc cost" before a real
# tokenizer pass.  Alpha runs cost ceil(len/4) pieces (~4 chars/token for
# English BPE vocabularies); digits and punctuation cost 1 each.
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
BPE_CHARS_PER_PIECE = 4


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace count vs regex pre-token count vs BPE piece estimate —
    the three token budgets a pipeline tracks (storage rows, pre-token
    stream, model-context cost).  One regexp pass bound once; the piece
    estimate is a higher-order fold over the (small) per-doc token list,
    embarrassingly parallel, zero shuffle."""
    docs = bind(
        spread_small_input(load_table(spark, sf_dir, "documents")),
        F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RE), 0),
        "pre_toks",
    )
    piece_cost = lambda t: (  # noqa: E731 — HOF lambda
        F.when(
            t.rlike("^[A-Za-z]+$"),
            F.ceil(F.length(t) / F.lit(float(BPE_CHARS_PER_PIECE))),
        )
        .otherwise(F.lit(1))
        .cast("long")
    )
    est = F.aggregate(
        F.transform(F.col("pre_toks"), piece_cost),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        F.size("pre_toks").cast("long").alias("n_pre_tokens"),
        est.alias("est_bpe_tokens"),
    )


_BPE_SQL = rf"""
WITH p AS (
  SELECT doc_id, text, regexp_extract_all(text, '{BPE_SPLIT_RE}') AS pre_toks
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(pre_toks) AS BIGINT) AS n_pre_tokens,
       CAST(coalesce(list_sum(list_transform(pre_toks,
              t -> CASE WHEN regexp_matches(t, '^[A-Za-z]+$')
                        THEN CAST(ceil(length(t) / {float(BPE_CHARS_PER_PIECE)}) AS BIGINT)
                        ELSE 1 END)), 0) AS BIGINT) AS est_bpe_tokens
FROM p
"""


def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — estimated BPE pieces per
    whitespace word, the multilingual tokenizer-audit metric: a
    tokenizer trained on English typically fragments other scripts
    into many more pieces per word, silently inflating their context
    cost and shrinking their effective training share.  A mixture
    planner reads this table next to `mixture_weights` to budget in
    MODEL tokens rather than raw words.  Output: per lang — docs,
    whitespace words, estimated BPE pieces (the `token_count_bpe`
    estimator), fertility = pieces/word, and mean pieces per doc.

    Determinism: integer sums; the two ratios are single divisions of
    exact integers rounded to 6 (no float folds anywhere).

    Scale shape: one regexp pass per doc (narrow, zero shuffle — the
    piece estimate is a higher-order fold over the per-doc token list)
    then ONE map-side-combined aggregation keyed by lang."""
    docs = bind(
        spread_small_input(load_table(spark, sf_dir, "documents")),
        F.regexp_extract_all(F.col("text"), F.lit(BPE_SPLIT_RE), 0),
        "pre_toks",
    )
    piece_cost = lambda t: (  # noqa: E731 — HOF lambda
        F.when(
            t.rlike("^[A-Za-z]+$"),
            F.ceil(F.length(t) / F.lit(float(BPE_CHARS_PER_PIECE))),
        )
        .otherwise(F.lit(1))
        .cast("long")
    )
    est = F.aggregate(
        F.transform(F.col("pre_toks"), piece_cost),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        docs.select(
            "lang",
            token_count(F.col("text")).cast("long").alias("ws"),
            est.alias("bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("n_ws_tokens"),
            F.sum("bpe").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_ws_tokens",
            "n_bpe_tokens",
            F.round(F.col("n_bpe_tokens") / F.col("n_ws_tokens"), 6).alias(
                "fertility"
            ),
            F.round(F.col("n_bpe_tokens") / F.col("n_docs"), 6).alias(
                "bpe_per_doc"
            ),
        )
        .orderBy("lang")
    )


_FERTILITY_SQL = rf"""
WITH p AS (
  SELECT lang,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws,
         CAST(coalesce(list_sum(list_transform(
                regexp_extract_all(text, '{BPE_SPLIT_RE}'),
                t -> CASE WHEN regexp_matches(t, '^[A-Za-z]+$')
                          THEN CAST(ceil(length(t) / {float(BPE_CHARS_PER_PIECE)}) AS BIGINT)
                          ELSE 1 END)), 0) AS BIGINT) AS bpe
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE), 6) AS fertility,
       round(CAST(sum(bpe) AS DOUBLE) / count(*), 6) AS bpe_per_doc
FROM p
GROUP BY lang
ORDER BY lang
"""


def q_doc_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup: per (source, lang) doc counts and size stats."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.sum(token_count(F.col("text"))).alias("total_tokens"),
        )
        .orderBy("source", "lang")
    )


BPE_MERGE_TOP_N = 20


def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration's pair statistics: corpus-frequency of
    every adjacent character pair inside words, ranked — the argmax is
    the merge a BPE learner would apply next (the op a distributed
    tokenizer-training loop runs per merge, with the symbol table
    updated between rounds).

    Scale shape: words explode narrowly; the pair count is one map-side-
    combined hash aggregate whose RESULT is bounded by the symbol
    alphabet squared (≤ |Σ|² rows regardless of corpus size — for
    byte-level BPE ≤ 64k).  The top-N head comes from
    ``orderBy().limit()`` (TakeOrderedAndProject — a distributed
    per-partition top-N + driver merge, no single-partition sort); the
    rank comes from a triangular self-join over that bounded head, so
    the plan contains no global window at all."""
    docs = load_table(spark, sf_dir, "documents")
    word = F.explode(tokens(F.col("text"))).alias("word")
    pairs = (
        docs.select(word)
        .filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.substring(F.col("word"), i, F.lit(2)),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    head = (
        pairs.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(BPE_MERGE_TOP_N)
        .localCheckpoint(eager=True)  # 20 rows; both self-join sides branch off it
    )
    # rank within the bounded head via triangular self-join (rank = 1 +
    # rows ordered strictly before) — N^2 on <= TOP_N rows, no window,
    # so no single-partition sort appears anywhere in the plan
    h2 = head.select(F.col("pair").alias("p2"), F.col("n_occurrences").alias("n2"))
    before = (F.col("n2") > F.col("n_occurrences")) | (
        (F.col("n2") == F.col("n_occurrences")) & (F.col("p2") < F.col("pair"))
    )
    return (
        head.join(h2, before, "left")
        .groupBy("pair", "n_occurrences")
        .agg((F.count("p2") + 1).cast("long").alias("rank"))
    )


_BPE_MERGE_SQL = rf"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents
), pairs AS (
  SELECT substr(word, i.i, 2) AS pair
  FROM words CROSS JOIN (SELECT unnest(range(1, 10000)) AS i) i
  WHERE len(word) >= 2 AND i.i <= len(word) - 1
), counted AS (
  SELECT pair, count(*) AS n_occurrences FROM pairs GROUP BY pair
)
SELECT pair, n_occurrences, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS rank
      FROM counted)
WHERE rank <= {BPE_MERGE_TOP_N}
"""


# --- Gopher-rules document filter (Rae et al. 2021, §A.1.1) ----------------

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_signals(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Gopher rule signals + `passes_gopher` over any (doc_id, text)
    relation — shared by the batch op and the streaming intake gate
    (``streaming.jobs.quality_gate_stream``), so the stream's flags are
    batch-oracle-checked by construction (the events-ops pattern).
    ``carry`` names extra input columns to pass through unchanged (the
    stream carries its Bloom flag this way — one projection, no
    stateful self-join)."""
    docs = bind(docs, tokens(F.lower(F.col("text"))), "toks")
    toks = F.col("toks")
    n_words = F.size(toks)
    mean_len = F.round(
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_words, 4
    )
    n_hash = F.length(F.col("text")) - F.length(F.regexp_replace(F.col("text"), r"#", ""))
    n_ellipsis = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\.\.\."), 0))
    symbol_ratio = F.round((n_hash + n_ellipsis) / n_words, 4)
    frac_alpha = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / n_words, 4
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr)).cast("long")
    out = docs.select(
        "doc_id",
        *carry,
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        frac_alpha.alias("frac_alpha_words"),
        n_stop.alias("n_stop_distinct"),
    )
    passes = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN)
        & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("frac_alpha_words") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("n_stop_distinct") >= GOPHER_MIN_STOPWORDS)
    )
    return out.withColumn("passes_gopher", passes)


def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition-free rule set as one narrow pass: word-count
    bounds, mean-word-length bounds, symbol-to-word ratio (# and …),
    fraction of words with an alphabetic character, and the ≥2-distinct-
    stopwords requirement — `passes_gopher` is their conjunction.  Every
    rule evaluates on the ROUNDED signal so the flag is consistent with
    the emitted columns in both engines (the `bigram_logprob` rule).

    Scale shape: no data-dependent shuffle — one projection of
    higher-order array expressions over the token array (whole-stage
    codegen, no Python), embarrassingly parallel at any corpus size (the
    only exchange is spread_small_input's toy-scale file spread).  The
    `bind` inside ``gopher_signals`` routes tokenization through a
    Generate node so the five signals share ONE split pass (the
    `text_quality` trick).  No orderBy: the parity compare is
    order-insensitive and a global sort would be the op's only exchange
    (text_quality convention)."""
    return gopher_signals(spread_small_input(load_table(spark, sf_dir, "documents")))


_GOPHER_STOPLIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

_GOPHER_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
               / len(toks), 4) AS mean_word_len,
         round(CAST(length(text) - length(replace(text, '#', ''))
                    + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
               / len(toks), 4) AS symbol_word_ratio,
         round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / len(toks), 4) AS frac_alpha_words,
         CAST(len(list_filter(list_distinct(toks),
                              x -> list_contains({_GOPHER_STOPLIST_SQL}, x)))
              AS BIGINT) AS n_stop_distinct
  FROM t
)
SELECT s.*,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
       AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})
       AND symbol_word_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
       AND frac_alpha_words >= {GOPHER_MIN_ALPHA_FRAC}
       AND n_stop_distinct >= {GOPHER_MIN_STOPWORDS} AS passes_gopher
FROM s ORDER BY doc_id
"""


# --- BM25 ranked retrieval (Robertson/Spärck Jones; Lucene idf form) --------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_K1_PLUS_1 = 2.2  # spelled as ONE literal in both engines (never 1+k1)
BM25_ONE_MINUS_B = 0.25
BM25_QUERY_TERMS = ("spark", "window", "merge", "vector")
BM25_TOP = 25


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query-term set — the
    classic sparse-retrieval scorer (and the standard hybrid-search
    complement to the dense `cosine_topk`/`semantic_search_docs`
    family): ``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with the Lucene idf ``ln(1 + (N−df+0.5)/(df+0.5))``.

    Fold-exactness: each per-(doc,term) score quantizes to
    DECIMAL(30,12) before the per-doc sum (the `unigram_logprob_quality`
    ln rule) and every composite constant (k1+1, 1−b) is spelled as ONE
    literal in both engines; ordering is on the ROUNDED score with
    doc_id as the total-order tiebreak.

    Scale shape: the corpus never explodes on its full token stream —
    tokens are pre-filtered to the tiny query set with a higher-order
    ``filter`` (JVM codegen), so the explode is ∝ query-term
    occurrences; the narrow ``(doc_id, dl, qtoks)`` projection is
    eagerly checkpointed so the corpus TEXT is tokenized exactly once
    (it otherwise feeds three consumers — tf, df, stats — and the plan
    re-runs the split per consumer, measured 3 corpus passes); tf
    aggregates map-side on (doc, term); df and the N/avgdl stats are
    term-dimension/1-row broadcasts; top-k is a TakeOrdered, never a
    global sort."""
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    base = (
        docs.select("doc_id", tokens(F.trim(F.lower(F.col("text")))).alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.filter("toks", lambda x: x.isin(*BM25_QUERY_TERMS)).alias("qtoks"),
        )
        .localCheckpoint(eager=True)  # feeds tf, df, and the stats scalar
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = (
        base.select("doc_id", "dl", F.explode("qtoks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(BM25_ONE_MINUS_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    score_t = (idf * (F.col("tf") * F.lit(BM25_K1_PLUS_1)) / norm).cast(
        "decimal(30,12)"
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", score_t.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("s").cast("double"), 6).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
_BM25_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         len(t) AS dl,
         list_filter(t, x -> x IN ({_BM25_TERMS_SQL})) AS q
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents)
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM base
), tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, dl, unnest(q) AS term FROM base)
  GROUP BY doc_id, dl, term
), dfq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
)
SELECT doc_id,
       round(CAST(sum(CAST(
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         * (tf * {BM25_K1_PLUS_1})
         / (tf + {BM25_K1} * ({BM25_ONE_MINUS_B} + {BM25_B} * dl / avgdl))
         AS DECIMAL(30,12))) AS DOUBLE), 6) AS bm25,
       CAST(count(*) AS BIGINT) AS n_terms_matched
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP}
"""


# --- RAG context packing: budget-bounded, source-capped assembly ------------

RAG_TOKEN_BUDGET = 600   # context-window token budget
RAG_PER_SOURCE_CAP = 3   # diversity cap: max passages per source


def q_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window assembly for RAG serving: take the BM25 retrieval
    pool (`bm25_topk`), enforce a per-source diversity cap (≤ 3 passages
    from any one source), then fill the token budget in relevance order
    and truncate at the first overflow — the deterministic greedy
    packing every serving stack runs between retrieval and the prompt.
    Output: the packed context manifest (rank, doc, source, tokens,
    running total, score).

    Prefix-truncation semantics (stop at the first doc that would
    overflow) rather than skip-and-continue bin packing: the former is
    a window cumulative sum — one bounded-frame pass — while the latter
    is inherently sequential; production context builders truncate.

    Scale shape: everything after the retrieval TakeOrdered runs on the
    ≤ 25-row pool — two WindowGroupLimit-bounded windows (source cap,
    global rank) and one running-sum window over the bounded frame.
    Per-query cost is O(|pool| log |pool|), independent of corpus
    size."""
    pool = q_bm25_topk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok")
    )
    enriched = pool.join(docs, "doc_id")
    src_w = Window.partitionBy("source").orderBy(F.desc("bm25"), F.asc("doc_id"))
    capped = enriched.withColumn("src_rank", F.row_number().over(src_w)).filter(
        F.col("src_rank") <= RAG_PER_SOURCE_CAP
    )
    rank_w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    cum_w = rank_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        capped.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .withColumn("cum_tokens", F.sum("n_tok").over(cum_w).cast("long"))
        .filter(F.col("cum_tokens") <= RAG_TOKEN_BUDGET)
        .select("rank", "doc_id", "source", "n_tok", "cum_tokens", "bm25")
        .orderBy("rank")
    )


def _rag_pack_sql() -> str:
    return f"""
WITH pool AS ({{bm25}}),
enriched AS (
  SELECT pool.doc_id, pool.bm25, d.source,
         CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT) AS n_tok
  FROM pool JOIN documents d USING (doc_id)
), capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY bm25 DESC, doc_id ASC) AS src_rank
    FROM enriched)
  WHERE src_rank <= {RAG_PER_SOURCE_CAP}
), ranked AS (
  SELECT doc_id, source, n_tok, bm25,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT)
           AS rank
  FROM capped
), packed AS (
  SELECT rank, doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY rank
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens,
         bm25
  FROM ranked
)
SELECT rank, doc_id, source, n_tok, cum_tokens, bm25
FROM packed WHERE cum_tokens <= {RAG_TOKEN_BUDGET}
ORDER BY rank
""".replace("{bm25}", _BM25_SQL)


# --- Hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine --------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
RRF_QUERY_VEC = 0  # the dense query: embedding of vec_id 0
RRF_SHORTLIST = 25  # per-ranker shortlist depth (= BM25_TOP)
RRF_TOP = 15


def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse the BM25 lexical ranking (`bm25_topk`) with a
    dense cosine ranking against one query embedding via reciprocal-rank
    fusion ``Σ 1/(k + rank)`` — the production pattern for combining
    sparse and dense retrieval without score calibration (ranks, not
    raw scores, are fused, so the two scorers' incomparable scales never
    meet).

    Determinism: both shortlists order by (ROUNDED score desc, doc_id)
    — a total order — and the RRF contribution ``1/(60+rank)`` is exact
    double arithmetic on small integers, identical in both engines; a
    doc missing from one shortlist contributes 0 from that ranker.

    Scale shape: each ranker reduces to a TakeOrdered SHORTLIST before
    any fusion work, so the rank windows run over ≤25 rows (bounded,
    model-sized — never a corpus-wide global sort); the fusion is a
    full-outer join of two 25-row frames.  The dense side is
    `dense_shortlist`: exact below DENSE_SHORTLIST_BRUTE_MAX_ROWS corpus
    rows (bit-identical to the oracle's brute-force shortlist), the IVF
    cell probe beyond, so the O(corpus)-per-query top-k physically
    cannot run at scale; the fusion stage is unchanged either way."""
    from .similarity import dense_shortlist

    bm = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_r = (
        q_bm25_topk(spark, sf_dir)
        .select("doc_id", "bm25")
        .withColumn("bm25_rank", F.row_number().over(bm).cast("long"))
        .select("doc_id", "bm25_rank")
    )
    cos_short = dense_shortlist(spark, sf_dir, RRF_QUERY_VEC, RRF_SHORTLIST).select(
        F.col("vec_id").alias("doc_id"), "cosine"
    )
    cw = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    cos_r = cos_short.withColumn(
        "cosine_rank", F.row_number().over(cw).cast("long")
    ).select("doc_id", "cosine_rank")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("cosine_rank")), F.lit(0.0)),
        8,
    )
    return (
        bm_r.join(cos_r, "doc_id", "full_outer")
        .select("doc_id", "bm25_rank", "cosine_rank", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(RRF_TOP)
    )


def _hybrid_rrf_sql() -> str:
    from .similarity import _sql_dot

    return rf"""
WITH bmr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT)
           AS bm25_rank
  FROM ({_BM25_SQL})
), q AS (
  SELECT embedding AS qv,
         sqrt({_sql_dot('embedding', 'embedding')}) AS qn
  FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}
), cshort AS (
  SELECT vec_id AS doc_id,
         round({_sql_dot('q.qv', 'embedding')}
               / (q.qn * sqrt({_sql_dot('embedding', 'embedding')})), 6)
           AS cosine
  FROM embeddings, q WHERE vec_id != {RRF_QUERY_VEC}
  ORDER BY cosine DESC, doc_id ASC LIMIT {RRF_SHORTLIST}
), cr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT)
           AS cosine_rank
  FROM cshort
)
SELECT doc_id, bm25_rank, cosine_rank,
       round(coalesce(1.0 / ({RRF_K} + bm25_rank), 0.0)
             + coalesce(1.0 / ({RRF_K} + cosine_rank), 0.0), 8) AS rrf_score
FROM bmr FULL OUTER JOIN cr USING (doc_id)
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {RRF_TOP}
"""


# --- Pairwise source-vocabulary overlap --------------------------------------


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap of the distinct-term vocabularies of every source
    pair — the corpus-diagnostics matrix behind mixture design (sources
    with near-identical vocabularies add tokens, not diversity; cf. the
    distributional `source_divergence`, which compares term FREQUENCIES
    where this compares term SETS).

    All-integer arithmetic until one final division → exact in both
    engines.  Scale shape: one (source, term) distinct (term-keyed
    shuffle, map-side combined), then all joins are VOCABULARY-dimension
    — the term-keyed self-join's candidate space is Σ_t (#sources with
    t)², bounded by |vocab|·|S|², never corpus-sized; per-source sizes
    ride in as a broadcast dimension; the source-pair aggregate has
    |S|·(|S|−1)/2 groups."""
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(
            "source",
            F.explode(tokens(F.trim(F.lower(F.col("text"))))).alias("term"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds sizes AND the pair join
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    a = vocab.select(F.col("source").alias("src_a"), "term")
    b = vocab.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n_terms").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n_terms").alias("n_b")))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


_SOURCE_VOCAB_SQL = r"""
WITH vocab AS (
  SELECT DISTINCT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_terms FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM vocab a JOIN vocab b USING (term)
  WHERE a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, n_common,
       sa.n_terms AS n_a, sb.n_terms AS n_b,
       round(CAST(n_common AS DOUBLE) / (sa.n_terms + sb.n_terms - n_common), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


# --- Word-entropy quality score ---------------------------------------------

ENTROPY_LOW_NORM = 0.5  # normalized-entropy floor below which a doc is flagged


def q_word_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the word distribution — the
    information-theoretic repetitiveness filter (a gibberish or
    boilerplate doc that repeats a few tokens scores near 0; natural
    prose scores near its distinct-word ceiling).  Complements the
    count-based `doc_repetition_ratio` (duplicate 3-gram fraction): that
    catches repeated PHRASES, entropy catches degenerate token
    DISTRIBUTIONS (e.g. one word 500 times has zero duplicate trigram
    variety but also zero entropy).

    ``H = ln(dl) − Σ c·ln(c) / dl`` over per-word counts c (the
    factored form needs ONE pass over the count table and no per-row
    p=c/dl division); ``h_norm = H / ln(n_distinct)`` ∈ [0,1] is the
    scale-free score the keep/drop threshold reads.

    Fold-exactness: each c·ln(c) term quantizes to DECIMAL(30,12)
    before the per-doc sum (the `unigram_logprob_quality` ln rule);
    dl and n_distinct fold as exact integers; the flag compares the
    ROUNDED h_norm so both engines threshold the same value.

    Degenerate case: a doc that is ONE token repeated dl>1 times has
    true entropy 0 (h_norm has no defined ceiling — ln(1)=0 — so it is
    reported as 0.0) and IS flagged low_entropy: the maximally
    repetitive document must not escape the repetitiveness filter the
    entropy motivates (r10 had it exempt via the n_distinct>1 guard).
    A single-token doc (dl==1) carries no repetition evidence and is
    not flagged.

    Scale shape: explode → two map-side-combined aggregations keyed by
    (doc_id, word) then doc_id — entropy state is 3 scalars per doc,
    never a per-doc vocabulary vector; no window, no Python."""
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            "doc_id",
            F.explode(tokens(F.trim(F.lower(F.col("text"))))).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cd = F.col("c").cast("double")
    per = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("dl"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum((cd * F.log(cd)).cast("decimal(30,12)")).alias("sclnc"),
    )
    h = F.log(F.col("dl").cast("double")) - F.col("sclnc").cast("double") / F.col(
        "dl"
    ).cast("double")
    h_norm = F.when(
        F.col("n_distinct") > 1,
        F.round(h / F.log(F.col("n_distinct").cast("double")), 6),
    ).otherwise(F.lit(0.0))
    return per.select(
        "doc_id",
        "dl",
        "n_distinct",
        F.round(h, 6).alias("h_word"),
        h_norm.alias("h_norm"),
    ).select(
        "*",
        (
            ((F.col("n_distinct") > 1) & (F.col("h_norm") < ENTROPY_LOW_NORM))
            | ((F.col("n_distinct") == 1) & (F.col("dl") > 1))
        )
        .cast("int")
        .alias("low_entropy"),
    )


_ENTROPY_SQL = rf"""
WITH counts AS (
  SELECT doc_id, term, count(*) AS c
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents)
  GROUP BY doc_id, term
), per AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS dl,
         CAST(count(*) AS BIGINT) AS n_distinct,
         sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(30,12))) AS sclnc
  FROM counts GROUP BY doc_id
), scored AS (
  SELECT doc_id, dl, n_distinct,
         round(ln(CAST(dl AS DOUBLE)) - CAST(sclnc AS DOUBLE) / CAST(dl AS DOUBLE), 6) AS h_word,
         CASE WHEN n_distinct > 1
              THEN round((ln(CAST(dl AS DOUBLE)) - CAST(sclnc AS DOUBLE) / CAST(dl AS DOUBLE))
                         / ln(CAST(n_distinct AS DOUBLE)), 6)
              ELSE 0.0 END AS h_norm
  FROM per
)
SELECT doc_id, dl, n_distinct, h_word, h_norm,
       CAST((n_distinct > 1 AND h_norm < {ENTROPY_LOW_NORM})
            OR (n_distinct = 1 AND dl > 1) AS INT) AS low_entropy
FROM scored
"""


# --- Multi-iteration BPE training loop --------------------------------------

BPE_TRAIN_ITERS = 3


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three BPE-training iterations learned end-to-end in ONE
    declarative plan — the iterative extension of `bpe_merge_step` (one
    iteration's statistics) into an actual training loop: count adjacent
    symbol pairs → take the argmax merge → APPLY it to the symbol table
    → repeat with the updated symbols, three times, with the argmax as
    an in-plan broadcast scalar (no driver loop, no collect — contrast
    `kmeans_converged`, whose M-state must round-trip the driver).

    Symbols ride in a delimited string form (``<a><b><c>``): the
    delimiters make the merge a plain ``replace('<a><b>' → '<ab>')``
    that can never match across symbol boundaries, and both engines'
    replace() is leftmost-non-overlapping, so consecutive overlaps
    (``aaa`` under merge ``a+a``) resolve identically (``<aa><a>``) —
    exactly the greedy left-to-right pass a BPE trainer applies.

    Scale shape: the ONLY corpus-scale stage is the initial word-
    frequency aggregation (the classic tokenizer-training reduction —
    BPE trains on word counts, never on the raw corpus); every
    iteration then runs on the vocabulary-bounded (word, wc, syms)
    table: pair counts are ≤ |Σ|² rows, the argmax is a TakeOrdered
    over them, the merge applies as a narrow projection under a
    broadcast 1-row scalar, and a per-iteration localCheckpoint keeps
    the unrolled lineage O(1)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .withColumn("syms", F.regexp_replace("word", "(.)", "<$1>"))
        # vocabulary-bounded; the corpus never re-enters the loop
        .localCheckpoint(eager=True)
    )

    def pair_counts(wdf: DataFrame) -> DataFrame:
        arr = F.split(F.expr("trim(BOTH '<>' FROM syms)"), "><")
        pair_at = lambda i: F.concat(  # noqa: E731
            F.lit("<"),
            F.element_at(arr, i),
            F.lit("><"),
            F.element_at(arr, i + 1),
            F.lit(">"),
        )
        pairs = F.when(
            F.size(arr) >= 2,
            F.transform(F.sequence(F.lit(1), F.size(arr) - 1), pair_at),
        ).otherwise(F.array().cast("array<string>"))
        return (
            wdf.select("wc", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("wc").alias("n"))
        )

    merges = []
    wdf = words
    for it in range(1, BPE_TRAIN_ITERS + 1):
        best = (
            pair_counts(wdf)
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .select(
                F.lit(it).cast("long").alias("iteration"),
                F.col("pair").alias("merge"),
                F.replace(F.col("pair"), F.lit("><"), F.lit("")).alias(
                    "new_symbol"
                ),
                F.col("n").cast("long").alias("pair_count"),
            )
            .localCheckpoint(eager=True)  # 1 row; feeds apply + output
        )
        merges.append(best)
        wdf = (
            wdf.crossJoin(F.broadcast(best.select("merge", "new_symbol")))
            .withColumn(
                "syms", F.replace(F.col("syms"), F.col("merge"), F.col("new_symbol"))
            )
            .drop("merge", "new_symbol")
            .localCheckpoint(eager=True)  # vocab-bounded; O(1) lineage
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("iteration")


def _bpe_train_sql() -> str:
    word_cte = r"""
words AS (
  SELECT word, count(*) AS wc,
         regexp_replace(word, '(.)', '<\1>', 'g') AS syms
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        FROM documents)
  GROUP BY word
)"""
    stages = [word_cte.strip()]
    prev = "words"
    for i in range(1, BPE_TRAIN_ITERS + 1):
        stages.append(
            f"""p{i} AS (
  SELECT pair, sum(wc) AS n
  FROM (SELECT wc, '<' || s[i.i] || '><' || s[i.i + 1] || '>' AS pair
        FROM (SELECT wc, string_split(trim(syms, '<>'), '><') AS s
              FROM {prev}) w
        CROSS JOIN LATERAL unnest(range(1, len(s))) AS i(i)
        WHERE len(s) >= 2)
  GROUP BY pair
), b{i} AS (
  SELECT pair, replace(pair, '><', '') AS new_symbol, n
  FROM p{i} ORDER BY n DESC, pair ASC LIMIT 1
), w{i} AS (
  SELECT wc, replace(syms, b{i}.pair, b{i}.new_symbol) AS syms
  FROM {prev} CROSS JOIN b{i}
)"""
        )
        prev = f"w{i}"
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS iteration, pair AS merge, new_symbol,"
        f" CAST(n AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, BPE_TRAIN_ITERS + 1)
    )
    return "WITH " + ",\n".join(stages) + "\n" + selects + "\nORDER BY iteration"


# --- Zipf power-law fit per source ------------------------------------------

ZIPF_TOP_R = 100  # bounded rank head per source (fixture vocab ≈ 31 terms)


def q_zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf power-law fit: closed-form OLS of ``ln(freq)`` on
    ``ln(rank)`` over the top-``ZIPF_TOP_R`` terms — natural text follows
    ``freq ∝ rank^(-s)`` with s ≈ 1, so a source whose fitted slope (or
    R²) deviates sharply is synthetic/boilerplate/spam — the
    corpus-statistics health check next to `source_divergence` (KL) and
    `vocab_coverage` (head mass).

    Determinism: ranks come from a ``row_number`` over the total order
    (freq DESC, term ASC); both ``ln`` inputs are exactly-representable
    integer counts; every per-row product quantizes to DECIMAL(30,12)
    before the fold (the `unigram_logprob_quality` ln rule) and the
    closed-form slope/intercept/R² are spelled identically in both
    engines over the double-cast sums.

    Scale shape: term frequencies aggregate map-side on (source, term);
    the rank head is a WindowGroupLimit over ≤ TOP_R rows per source
    (rank ≤ k partially evaluates map-side, no full sort); the five OLS
    moments are one grouped aggregation over the bounded head.  Nothing
    downstream of the frequency agg is ∝ corpus size."""
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    terms = docs.select(
        "source", F.explode(tokens(F.trim(F.lower(F.col("text"))))).alias("term")
    )
    freq = terms.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("double").alias("freq")
    )
    w = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("term"))
    ranked = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ZIPF_TOP_R)
        .select("source", F.col("rank").cast("double").alias("rnk"), "freq")
    )
    x = F.log(F.col("rnk"))
    y = F.log(F.col("freq"))

    def q30(c: Column) -> Column:
        return c.cast("decimal(30,12)")

    sums = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q30(x)).cast("double").alias("sx"),
        F.sum(q30(y)).cast("double").alias("sy"),
        F.sum(q30(x * y)).cast("double").alias("sxy"),
        F.sum(q30(x * x)).cast("double").alias("sxx"),
        F.sum(q30(y * y)).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = num / den
    return sums.select(
        "source",
        n.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((num * num) / (den * (n * syy - sy * sy)), 6).alias("r2"),
    ).orderBy("source")


_ZIPF_SQL = rf"""
WITH t AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
), f AS (
  SELECT source, term, CAST(count(*) AS DOUBLE) AS freq
  FROM t GROUP BY source, term
), r AS (
  SELECT source, freq, CAST(rank AS DOUBLE) AS rnk
  FROM (SELECT source, term, freq,
               row_number() OVER (PARTITION BY source
                                  ORDER BY freq DESC, term ASC) AS rank
        FROM f)
  WHERE rank <= {ZIPF_TOP_R}
), s AS (
  SELECT source,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(ln(rnk) AS DECIMAL(30,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ln(freq) AS DECIMAL(30,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(ln(rnk) * ln(freq) AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(ln(rnk) * ln(rnk) AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(ln(freq) * ln(freq) AS DECIMAL(30,12))) AS DOUBLE) AS syy
  FROM r GROUP BY source
)
SELECT source,
       CAST(n AS BIGINT) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s ORDER BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "bpe_train_merges": QuerySpec(
        q_bpe_train_merges,
        _bpe_train_sql(),
        "three BPE-training iterations in one plan: pair counts -> "
        "argmax merge -> apply to the symbol table -> repeat (in-plan "
        "broadcast scalars, no driver loop)",
    ),
    "zipf_slope_fit": QuerySpec(
        q_zipf_slope_fit,
        _ZIPF_SQL,
        "per-source Zipf power-law OLS fit (slope/intercept/R² over the "
        "ranked frequency head)",
    ),
    "word_entropy_quality": QuerySpec(
        q_word_entropy_quality,
        _ENTROPY_SQL,
        "per-doc word-distribution Shannon entropy + normalized score + "
        "low-entropy flag (repetitiveness filter)",
    ),
    "bm25_topk": QuerySpec(
        q_bm25_topk,
        _BM25_SQL,
        "BM25 top-k sparse retrieval (Lucene idf, decimal-quantized folds)",
    ),
    "rag_context_pack": QuerySpec(
        q_rag_context_pack,
        _rag_pack_sql(),
        "RAG context assembly: source-capped, token-budget-truncated "
        "greedy packing of the retrieval pool",
    ),
    "source_vocab_overlap": QuerySpec(
        q_source_vocab_overlap,
        _SOURCE_VOCAB_SQL,
        "pairwise source-vocabulary Jaccard overlap (exact, term-keyed join)",
    ),
    "hybrid_rrf_search": QuerySpec(
        q_hybrid_rrf_search,
        _hybrid_rrf_sql(),
        "reciprocal-rank fusion of BM25 and dense-cosine shortlists",
    ),
    "gopher_quality_rules": QuerySpec(
        q_gopher_quality_rules,
        _GOPHER_SQL,
        "Gopher rule-set document filter (word/length/symbol/alpha/stopword "
        "bounds, shuffle-free)",
    ),
    "bpe_merge_step": QuerySpec(
        q_bpe_merge_step,
        _BPE_MERGE_SQL,
        "one BPE merge iteration: ranked adjacent-pair corpus frequencies",
    ),
    "token_count": QuerySpec(
        q_token_count,
        r"""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
               CAST(length(text) AS INT) AS n_chars_computed
        FROM documents
        """,
        "whitespace token counting (no UDF)",
    ),
    "text_quality": QuerySpec(
        q_text_quality,
        rf"""
        WITH toks AS (
          SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t
          FROM documents
        )
        SELECT doc_id,
               CAST(len(t) AS INT) AS n_tokens,
               round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(t), 6)
                 AS mean_token_len,
               round(CAST(len(list_filter(t, x -> lower(x) IN
                 ({', '.join(repr(s) for s in STOPWORDS)}))) AS DOUBLE) / len(t), 6)
                 AS stopword_ratio,
               round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS alpha_ratio
        FROM toks
        """,
        "quality scoring: token stats, stopword & alpha ratios",
    ),
    "lang_id": QuerySpec(q_lang_id, _lang_id_oracle(), "marker-word language ID"),
    "doc_fingerprint": QuerySpec(
        q_fingerprint,
        r"""
        SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
        """,
        "md5 fingerprint of normalized text",
    ),
    "winnowing_fingerprint": QuerySpec(
        q_winnowing_fingerprint, _WINNOWING_SQL, "MOSS winnowing fingerprint set"
    ),
    "doc_repetition_ratio": QuerySpec(
        q_doc_repetition_ratio,
        _REPETITION_SQL,
        "Gopher-style duplicate 3-gram fraction per document (intra-doc repetition filter)",
    ),
    "quality_filter_decision": QuerySpec(
        q_quality_filter_decision,
        _QF_SQL,
        "composite keep/drop gate: per-rule booleans + conjunction (auditable curation filter)",
    ),
    "token_count_bpe": QuerySpec(
        q_token_count_bpe,
        _BPE_SQL,
        "BPE-ish token budget: regex pre-tokens + chars-per-piece subword estimate",
    ),
    "tokenizer_fertility_by_lang": QuerySpec(
        q_tokenizer_fertility_by_lang,
        _FERTILITY_SQL,
        "per-language tokenizer fertility (BPE pieces per whitespace "
        "word) — the multilingual context-cost audit",
    ),
    "doc_stats_by_source": QuerySpec(
        q_doc_stats_by_source,
        r"""
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(n_chars), 6) AS avg_chars,
               CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens
        FROM documents GROUP BY source, lang ORDER BY source, lang
        """,
        "corpus rollup by source/lang",
    ),
}
