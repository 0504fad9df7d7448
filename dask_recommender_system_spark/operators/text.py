"""Text-analysis operators over the `documents` table (north-star X3 +
training-data-pipeline text ops: language-ID, quality scoring, token
counting, fingerprinting). SURVEY.md §2.9.

Everything is built-in `pyspark.sql.functions` (JVM, codegen'd) — tokenizing
100 TB of text must not cross into Python. Tokenization convention shared
with the DuckDB oracles: split trimmed text on `\\s+`.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must
# resolve via function globals (PEP 563 string annotations)
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..data import load_table, spread
from ..registry import checkpoint, query

# Shared tokenizer expression (Spark + DuckDB twins). Lazy: Column
# construction needs an active SparkContext.
def TOKENS() -> F.Column:
    return F.split(F.trim(F.col("text")), r"\s+")


ORACLE_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LEN({ORACLE_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(LEN(list_distinct({ORACLE_TOKENS})) AS BIGINT) AS n_distinct_tokens,
           ROUND(CAST(list_sum(list_transform({ORACLE_TOKENS}, t -> LENGTH(t))) AS DOUBLE)
                 / LEN({ORACLE_TOKENS}), 6) AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: per-document text statistics — char count, token count, distinct
    tokens, mean token length. Array higher-order functions keep this one
    narrow map stage: no shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    tok_lens = F.transform(TOKENS(), lambda t: F.length(t))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(TOKENS()).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(TOKENS())).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.aggregate(tok_lens, F.lit(0), lambda a, x: a + x).cast("double")
            / F.size(TOKENS()),
            6,
        ).alias("avg_token_len"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
           CAST(LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
               AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (alpha runs | digit runs | single punctuation) — the pre-tokenizer
    shape GPT-style BPE vocabularies assume. Pure regex, JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(TOKENS()).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)
            )
        )
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately shared verbatim with the oracle SQL.
LANG_MARKERS = {
    "de": ["der", "die", "und", "ist", "nicht"],
    "en": ["the", "and", "of", "to", "in"],
    "fr": ["le", "la", "et", "les", "des"],
    "sl": ["je", "na", "se", "da", "ne"],
}


def _oracle_lang_scores() -> str:
    cases = []
    for lang, words in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        cases.append(
            f"CAST(LEN(list_filter({ORACLE_TOKENS}, t -> t IN ({lst}))) AS BIGINT)"
            f" AS score_{lang}"
        )
    return ",\n           ".join(cases)


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
           {_oracle_lang_scores()}
        FROM documents)
    SELECT doc_id,
           CASE GREATEST(score_de, score_en, score_fr, score_sl)
                WHEN score_de THEN 'de'
                WHEN score_en THEN 'en'
                WHEN score_fr THEN 'fr'
                ELSE 'sl' END AS pred_lang,
           GREATEST(score_de, score_en, score_fr, score_sl) AS score
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-marker counting (the classic n-gram/lexicon
    heuristic). One narrow stage: per-language token-filter counts, argmax
    with a fixed tie order (de < en < fr < sl). A real pipeline swaps the
    lexicons for character-n-gram profiles; the plan shape is identical."""
    d = load_table(spark, sf_dir, "documents")

    def lang_score(words: list[str]) -> F.Column:
        lst = ", ".join(f"'{w}'" for w in words)
        return F.size(
            F.expr(f"filter(split(trim(text), '\\\\s+'), t -> t IN ({lst}))")
        ).cast("long")

    scores = {lang: lang_score(words) for lang, words in sorted(LANG_MARKERS.items())}
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["de"] == best, "de")
        .when(scores["en"] == best, "en")
        .when(scores["fr"] == best, "fr")
        .otherwise("sl")
    )
    return d.select(
        "doc_id", pred.alias("pred_lang"), best.alias("score")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           SUBSTR(md5(LOWER(trim(text))), 1, 16) AS fp,
           SUBSTR(md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(trim(LOWER(text)), '\\s+'))), ' ')), 1, 16)
               AS shingle_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: (a) exact content fingerprint = md5 of
    normalized text; (b) bag-of-words fingerprint = md5 of the sorted
    distinct token set — invariant to token order, the cheap first-pass
    near-dup key before MinHash (operators/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    norm_tokens = F.array_sort(
        F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    )
    return d.select(
        "doc_id",
        F.substring(F.md5(F.lower(F.trim(F.col("text")))), 1, 16).alias("fp"),
        F.substring(F.md5(F.array_join(norm_tokens, " ")), 1, 16).alias("shingle_fp"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(LENGTH(text) AS BIGINT) AS n_chars,
               CAST(LEN({ORACLE_TOKENS}) AS BIGINT) AS n_tokens,
               CAST(LEN(list_filter({ORACLE_TOKENS},
                    t -> t IN ('the','and','of','to','in','a','is'))) AS BIGINT)
                   AS n_stop
        FROM documents)
    SELECT doc_id,
           ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token,
           ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
                 + LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 5.0, 1.0) * 0.5, 6)
               AS quality
    FROM s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (Gopher/C4-style heuristics, simplified): stopword
    ratio + length signals combined into [0,1]. All arithmetic over one
    narrow stage; thresholds would then drive a `filter` at ingest."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(TOKENS()).cast("long")
    n_stop = F.size(
        F.expr("filter(split(trim(text), '\\\\s+'), t -> t IN ('the','and','of','to','in','a','is'))")
    ).cast("long")
    n_chars = F.length("text").cast("long")
    stop_ratio = n_stop.cast("double") / n_tokens
    quality = (
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.5
    )
    return d.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(n_chars.cast("double") / n_tokens, 6).alias("chars_per_token"),
        F.round(quality, 6).alias("quality"),
    )


@query(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(LOWER(text),
                '[[:cntrl:]]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the canonical pre-dedup transform (case-fold,
    strip control chars, collapse runs of whitespace, trim). Running this
    BEFORE `dedup_exact`/`dedup_minhash` is what makes byte-identical and
    formatting-variant duplicates collide on one md5/signature. Pure
    narrow JVM regexp stage: streams through 100 TB at scan speed, no
    shuffle, no Python."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[\x00-\x1f\x7f]", " "),
            r"\s+",
            " ",
        )
    )
    return d.select("doc_id", norm.alias("norm_text"))


# Decontamination n-gram width. Production pipelines use 8-13-word grams
# (the published range for benchmark decontamination); 4 here because the
# synthetic corpus draws from a ~30-word vocabulary, so longer grams never
# collide and the query would be vacuous. The constant is shared verbatim
# with the oracle.
DECON_N = 4
# Every doc_id ≡ 0 (mod 20) plays the held-out benchmark set.
DECON_BENCH_MOD = 20


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                 FROM documents WHERE LENGTH(trim(text)) > 0),
    g AS (SELECT doc_id, UNNEST(list_distinct(list_transform(range(0, len(w) - {DECON_N - 1}),
                i -> array_to_string(w[i + 1 : i + {DECON_N}], ' ')))) AS gram
          FROM tok WHERE len(w) >= {DECON_N}),
    b AS (SELECT DISTINCT gram, doc_id FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0),
    t AS (SELECT doc_id, gram FROM g WHERE doc_id % {DECON_BENCH_MOD} != 0)
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM t JOIN b ON t.gram = b.gram
    GROUP BY t.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the LLM-pipeline op that flags training
    documents sharing word n-grams with a held-out evaluation set (here:
    doc_id ≡ 0 mod {DECON_BENCH_MOD} plays the benchmark). Per train doc:
    how many distinct grams leak, from how many benchmark docs.

    Scale shape: grams are built in one narrow JVM stage (sequence →
    slice → concat per start, distinct per doc) and the benchmark side —
    always tiny relative to the corpus — is ``broadcast()``, so the probe
    over 100 TB of training grams is a map-side hash join with no shuffle
    of the big side; only the per-doc aggregate shuffles, keyed on doc_id."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - DECON_N),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, DECON_N)),
        )
    )
    g = d.filter(F.size(toks) >= DECON_N).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    bench = (
        g.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("gram", F.col("doc_id").alias("bench_doc"))
        .distinct()
    )
    train = g.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


# Quality percentile below which a document is pruned, per language.
QUALITY_PRUNE_PCT = 0.25


@query(
    "corpus_quality_filter",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               CAST(LEN({ORACLE_TOKENS}) AS BIGINT) AS n_tokens,
               CAST(LEN(list_filter({ORACLE_TOKENS},
                    t -> t IN ('the','and','of','to','in','a','is'))) AS BIGINT)
                   AS n_stop
        FROM documents),
    q AS (
        SELECT doc_id, lang,
               LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
               + LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 5.0, 1.0) * 0.5
                   AS quality
        FROM s),
    r AS (
        SELECT doc_id, lang, quality,
               PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality, doc_id)
                   AS pr
        FROM q)
    SELECT doc_id, lang, ROUND(quality, 6) AS quality
    FROM r WHERE pr >= {QUALITY_PRUNE_PCT}
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pruning by per-language quality percentile — drop the bottom
    {QUALITY_PRUNE_PCT:.0%} of each language's documents by the
    `text_quality_score` heuristic. Per-language (not global) thresholds
    are what real pipelines do: absolute quality scores aren't comparable
    across languages.

    Scale shape: one shuffle, partitioned BY LANGUAGE for the
    percent_rank window — bounded partition count but potentially skewed
    (English dominates real corpora); at 100 TB the fix is computing the
    per-lang threshold via approx quantiles on a sample and broadcasting
    it back as a plain filter, which this query's exact window form is the
    oracle for. Tiebreak doc_id makes the rank — and thus the kept set —
    deterministic on both engines."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(TOKENS()).cast("long")
    n_stop = F.size(
        F.expr(
            "filter(split(trim(text), '\\\\s+'), t -> t IN ('the','and','of','to','in','a','is'))"
        )
    ).cast("long")
    quality = (
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + F.least(n_stop.cast("double") / n_tokens * 5.0, F.lit(1.0)) * 0.5
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return (
        d.select("doc_id", "lang", quality.alias("quality"))
        .withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= QUALITY_PRUNE_PCT)
        .select("doc_id", "lang", F.round("quality", 6).alias("quality"))
    )


TOKEN_BUCKET_WIDTH = 10


@query(
    "token_histogram",
    oracle=f"""
    WITH t AS (SELECT CAST(LEN({ORACLE_TOKENS}) AS BIGINT) AS n_tokens
               FROM documents)
    SELECT CAST(FLOOR(n_tokens / {TOKEN_BUCKET_WIDTH}) * {TOKEN_BUCKET_WIDTH} AS BIGINT)
               AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM t
    GROUP BY 1
    """,
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution histogram (TOKEN_BUCKET_WIDTH = 10-token
    buckets) — the length profile every packing/curriculum decision reads
    before training. Narrow map to a bucket key + hash aggregate with
    map-side partials; output cardinality = number of buckets, so the
    shuffle is a few hundred rows regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(TOKENS()).cast("long")
    bucket = (F.floor(n_tokens / TOKEN_BUCKET_WIDTH) * TOKEN_BUCKET_WIDTH).cast("long")
    return (
        d.select(n_tokens.alias("n_tokens"), bucket.alias("bucket_start"))
        .groupBy("bucket_start")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# Sequence-packing parameters: token budget per training sequence, and the
# number of independent packing streams. Packing is a running-sum
# recurrence, so it cannot be embarrassingly parallel globally — the scale
# move is G independent streams (grp = doc_id % G), each packed exactly,
# with G sized to the cluster. Shared verbatim with the oracle.
PACK_BUDGET = 256
PACK_GROUPS = 16


@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, doc_id % {PACK_GROUPS} AS grp,
                      CAST(LEN({ORACLE_TOKENS}) AS BIGINT) AS n_tokens
               FROM documents WHERE LENGTH(trim(text)) > 0),
    s AS (SELECT doc_id, grp, n_tokens,
                 -- CAST: DuckDB types windowed SUM(BIGINT) as HUGEINT, which
                 -- the driver's pandas bridge materializes as float64 and the
                 -- strict value hash then diverges (512.0 vs 512) even though
                 -- values are identical. Same bug class as json_extract_props
                 -- round 1 — every oracle output column must be cast.
                 CAST(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens AS BIGINT) AS start_tok
          FROM t)
    SELECT doc_id, CAST(grp AS BIGINT) AS grp, n_tokens, start_tok,
           CAST(FLOOR(start_tok / {PACK_BUDGET}) AS BIGINT) AS pack_id,
           CAST(FLOOR((start_tok + n_tokens - 1) / {PACK_BUDGET})
                - FLOOR(start_tok / {PACK_BUDGET}) + 1 AS BIGINT)
               AS n_packs_spanned
    FROM s
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — concatenate documents into fixed token-budget
    training sequences (PACK_BUDGET = 256 tokens), GPT-style: docs are laid
    end-to-end in deterministic doc_id order and split at exact budget
    boundaries (straddling allowed). Packing is a prefix-sum recurrence,
    so the scale design is PACK_GROUPS = 16 independent packing streams
    (grp = doc_id % G): ONE shuffle partitioned by grp, a running-sum
    window per stream, then pure arithmetic — no global order, no
    single-partition window. At 100 TB, G scales with the cluster and
    each stream becomes one output shard of the packed dataset."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    from pyspark.sql import Window

    t = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_GROUPS).alias("grp"),
        F.size(TOKENS()).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = t.withColumn("start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    first_pack = F.floor(F.col("start_tok") / PACK_BUDGET)
    last_pack = F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / PACK_BUDGET)
    return s.select(
        "doc_id",
        F.col("grp").cast("long").alias("grp"),
        "n_tokens",
        "start_tok",
        first_pack.cast("long").alias("pack_id"),
        (last_pack - first_pack + 1).cast("long").alias("n_packs_spanned"),
    )


CHUNK_SIZE = 64
CHUNK_STRIDE = 48


@query(
    "text_chunk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {ORACLE_TOKENS} AS t FROM documents
                 WHERE LENGTH(trim(text)) > 0),
    s AS (SELECT doc_id, t, UNNEST(range(0, len(t), {CHUNK_STRIDE})) AS strt
          FROM tok),
    c AS (SELECT doc_id, strt, t[strt + 1 : strt + {CHUNK_SIZE}] AS ctoks FROM s)
    SELECT doc_id,
           CAST(strt / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(strt AS BIGINT) AS tok_start,
           CAST(len(ctoks) AS BIGINT) AS n_tokens,
           array_to_string(ctoks, ' ') AS chunk
    FROM c
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking — the LLM-training-pipeline op that turns long
    documents into fixed-size token windows (CHUNK_SIZE = 64 tokens, stride
    CHUNK_STRIDE = 48, i.e. 16-token overlap) ready for tokenization/packing.
    One narrow JVM stage: tokenize → window starts (`sequence`) → slice +
    rejoin per start (`transform` higher-order fn) → `posexplode`. No
    shuffle, no Python; row count multiplies by ~n_tokens/stride, so at
    100 TB chunk AFTER quality/dedup filters (the registry order mirrors
    that: normalize → dedup → chunk)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = TOKENS()
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(CHUNK_STRIDE))
    wins = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("long").alias("tok_start"),
            F.slice(toks, s + 1, CHUNK_SIZE).alias("ctoks"),
        ),
    )
    e = d.select("doc_id", F.posexplode(wins).alias("chunk_idx", "w"))
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("w.tok_start").alias("tok_start"),
        F.size("w.ctoks").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("w.ctoks")).alias("chunk"),
    )


TFIDF_TOP_N = 3


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, UNNEST({ORACLE_TOKENS}) AS term
                 FROM documents WHERE LENGTH(trim(text)) > 0),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
          WHERE LENGTH(trim(text)) > 0),
    s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                 ROUND(tf.tf * LN(n.n_docs / dfq.df), 6) AS score
          FROM tf JOIN dfq ON tf.term = dfq.term, n),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term) AS rnk FROM s)
    SELECT doc_id, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {TFIDF_TOP_N}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k (TFIDF_TOP_N = 3) terms by tf-idf — the classic
    keyword-extraction / relevance-feature op over the corpus. Three
    keyed aggregates chained: term frequency per (doc, term), document
    frequency per term (counted off the tf table — one row per (doc,term)
    already), and the corpus size as a one-row broadcast. The tf⋈df join
    shuffles on term (vocabulary-sized, never broadcast at 100 TB) and the
    final ranking window is partitioned by doc_id — every stage is keyed,
    nothing global. Ranking orders by the ROUNDED score with a term
    tiebreak so last-ulp libm differences between engines cannot reorder
    the top-k."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    from pyspark.sql import Window

    tok = d.select("doc_id", F.explode(TOKENS()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    s = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        s.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOP_N)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


# --- PII redaction (X55) -------------------------------------------------
# Patterns are the \b-anchored subset shared by Java regex (Spark) and RE2
# (DuckDB) so both engines tokenize matches identically. The synthetic
# corpus contains no digits at all, so deterministic markers are planted
# per doc_id before redaction — the value check then exercises real
# multi-match regexp_replace/regexp_count parity instead of a no-op.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
PII_PHONE = "\\b\\d{3}-\\d{4}\\b"

_PLANT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || CASE WHEN doc_id % 2 = 0 THEN ' from 10.'"
    "         || CAST(doc_id % 200 AS VARCHAR) || '.'"
    "         || CAST(doc_id % 250 AS VARCHAR) || '.7' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN ' call 555-'"
    "         || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END"
)

_PII_ORACLE = (
    "WITH p AS (SELECT doc_id, " + _PLANT_SQL + " AS t FROM documents)\n"
    "    SELECT doc_id,\n"
    "           CAST(LEN(regexp_extract_all(t, '" + PII_EMAIL + "')) AS BIGINT) AS n_emails,\n"
    "           CAST(LEN(regexp_extract_all(t, '" + PII_IPV4 + "')) AS BIGINT) AS n_ips,\n"
    "           CAST(LEN(regexp_extract_all(t, '" + PII_PHONE + "')) AS BIGINT) AS n_phones,\n"
    "           regexp_replace(regexp_replace(regexp_replace(t,\n"
    "               '" + PII_EMAIL + "', '<EMAIL>', 'g'),\n"
    "               '" + PII_IPV4 + "', '<IP>', 'g'),\n"
    "               '" + PII_PHONE + "', '<PHONE>', 'g') AS redacted\n"
    "    FROM p"
)


@query("text_pii_redact", oracle=_PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55: PII redaction — the compliance pass every training-data
    pipeline runs before anything else: emails, IPv4 addresses, and phone
    numbers replaced with typed placeholder tokens, plus per-doc match
    counts for audit. Pure JVM regexp_replace/regexp_count chain inside
    whole-stage codegen — one narrow map stage, no shuffle, no Python; at
    100 TB this runs at scan speed. DuckDB's regexp_replace needs the 'g'
    flag to match Spark's replace-all semantics (single-replace is the
    DuckDB default — a classic silent-divergence trap the oracle pins)."""
    d = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com"),
        F.when(
            doc_id % 2 == 0,
            F.concat(
                F.lit(" from 10."), (doc_id % 200).cast("string"),
                F.lit("."), (doc_id % 250).cast("string"), F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 3 == 0,
            F.concat(F.lit(" call 555-"), (1000 + doc_id % 9000).cast("string")),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", planted.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>",
        ),
        PII_PHONE, "<PHONE>",
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        redacted.alias("redacted"),
    )


# --- repetition filter (X56) ---------------------------------------------
# Gopher-style repetition signal: fraction of a document's token trigrams
# that are duplicates. The keep threshold compares the ROUNDED fraction on
# both sides so the flag cannot flip on a last-ulp division difference.
REP_MAX_DUP_FRAC = 0.2


@query(
    "text_repetition_filter",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {ORACLE_TOKENS} AS t FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS tg
          FROM tok WHERE len(t) >= 3)
    SELECT doc_id,
           CAST(LEN(tg) AS BIGINT) AS n_trigrams,
           CAST(LEN(list_distinct(tg)) AS BIGINT) AS n_distinct,
           ROUND(1 - LEN(list_distinct(tg)) * 1.0 / LEN(tg), 6) AS dup_frac,
           CAST(ROUND(1 - LEN(list_distinct(tg)) * 1.0 / LEN(tg), 6)
                <= {REP_MAX_DUP_FRAC} AS BIGINT) AS keep
    FROM g
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56: excess-repetition quality filter (the Gopher/C4 rule family):
    a document whose token trigrams repeat heavily is boilerplate or spam.
    dup_frac = 1 - distinct_trigrams/total_trigrams, keep iff the rounded
    fraction is under REP_MAX_DUP_FRAC. Trigrams are built with array
    higher-order functions (sequence -> transform -> slice) entirely inside
    codegen — one narrow map stage, no shuffle, no explode (the trigram
    list never leaves its row), so at 100 TB this is scan-bound like the
    other text scorers."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", TOKENS().alias("t")).filter(F.size("t") >= 3)
    g = t.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))"
        ).alias("tg"),
    )
    dup_frac = F.round(
        1 - F.size(F.array_distinct("tg")) / F.size("tg"), 6
    )
    return g.select(
        "doc_id",
        F.size("tg").cast("long").alias("n_trigrams"),
        F.size(F.array_distinct("tg")).cast("long").alias("n_distinct"),
        dup_frac.alias("dup_frac"),
        (dup_frac <= REP_MAX_DUP_FRAC).cast("long").alias("keep"),
    )


# --- corpus mix rebalancing (X61) ----------------------------------------
# Deterministic per-doc "uniform" in [0,1): a Knuth multiplicative hash of
# doc_id reduced mod 2^20 — pure integer arithmetic, so Spark and DuckDB
# (and any retry of any partition) derive the SAME keep decision with no
# RNG state. 2654435761 = floor(2^32 / golden ratio).
MIX_HASH_MULT = 2654435761
MIX_HASH_MOD = 1048576  # 2^20

#: overall size target as a fraction of the corpus: each source's keep
#: rate aims at an equal share of (MIX_TARGET_FRAC × corpus). The synthetic
#: sources are near-balanced, so a target of 1.0 would keep everything and
#: never exercise the hash cutoff; 0.5 makes this a rebalance AND
#: downsample pass, which is also the common production shape (rebalance
#: while shedding volume).
MIX_TARGET_FRAC = 0.5


@query(
    "corpus_mix_rebalance",
    oracle=f"""
    WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM documents GROUP BY source),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src
            FROM documents)
    SELECT d.doc_id, d.source,
           CAST(((d.doc_id * {MIX_HASH_MULT}) % {MIX_HASH_MOD})
                / {MIX_HASH_MOD}.0
                < LEAST(1.0, {MIX_TARGET_FRAC} * CAST(tot.total AS DOUBLE)
                        / tot.n_src / c.cnt)
                AS BIGINT) AS kept
    FROM documents d JOIN c USING (source) CROSS JOIN tot
    """,
)
def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61: training-mix rebalancing — downsample over-represented sources
    so every source contributes (at most) an equal share of the corpus,
    the domain-mix step between dedup/filtering and tokenization in an
    LLM data pipeline. Per-source keep rates come from one tiny keyed
    count (broadcast dim join) plus one scalar total; the keep decision is
    a deterministic integer hash of doc_id, so it is reproducible across
    engines, retries, and partitionings — no RNG, no seed plumbing, and a
    re-run of one failed partition at 100 TB keeps the same documents.
    Emits every doc with its 0/1 kept flag (the strongest hashable
    surface); the filtered corpus is ``.filter("kept = 1")``."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("cnt"))
    tot = d.agg(
        F.count("*").alias("total"),
        F.countDistinct("source").alias("n_src"),
    )
    u = ((F.col("doc_id") * MIX_HASH_MULT) % MIX_HASH_MOD) / F.lit(
        float(MIX_HASH_MOD)
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(MIX_TARGET_FRAC)
        * F.col("total").cast("double")
        / F.col("n_src")
        / F.col("cnt"),
    )
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "source", (u < rate).cast("long").alias("kept"))
    )


# --- BM25 relevance scoring (X70) ----------------------------------------
# Okapi BM25 with the Lucene idf variant ln(1 + (N - df + .5)/(df + .5)).
# Query terms are literals present in the synthetic corpus vocabulary.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "join", "vector")

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

_BM25_ORACLE = f"""
WITH d AS (SELECT doc_id, {ORACLE_TOKENS} AS toks
           FROM documents WHERE LENGTH(trim(text)) > 0),
tok AS (SELECT doc_id, LEN(toks) AS dl, UNNEST(toks) AS term FROM d),
tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, dl, term),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
              AVG(LEN(toks)) AS avgdl FROM d)
SELECT tf.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       ROUND(SUM(
         LN(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
         * tf.tf * ({BM25_K1} + 1)
         / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / st.avgdl))
       ), 6) AS bm25
FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN st
GROUP BY tf.doc_id
"""


@query("bm25_score", oracle=_BM25_ORACLE)
def bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70: Okapi BM25 relevance of every document to a fixed term set —
    the ranking function behind classic full-text retrieval and the
    lexical half of hybrid (BM25 + embedding) search. One corpus scan
    produces (doc, dl, term) with the doc length carried IN-ROW through
    the explode, so no separate doc-length join is ever needed; term
    frequencies collapse in a keyed agg, the |query|-row df table and the
    1-row (N, avgdl) stats broadcast onto it, and the final score is one
    doc-keyed agg. The explode is pre-filtered to the query terms, so
    the shuffled tf table is |docs|×|query| at worst — at 100 TB the
    corpus scan dominates and everything downstream is bounded by the
    query size."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = d.select("doc_id", F.size(TOKENS()).alias("dl"),
                    F.explode(TOKENS()).alias("term"))
    tf = (
        toks.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    st = d.select(F.size(TOKENS()).alias("dl0")).agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl0").alias("avgdl")
    )
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    num = F.col("tf") * (BM25_K1 + 1)
    den = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.round(F.sum(idf * num / den), 6).alias("bm25"),
        )
    )


# --- URL canonicalization dedup (X88) ------------------------------------
# The corpus has no URLs, so deterministic variants are planted per doc_id
# (the text_pii_redact planted-fixture convention, FIXTURES.md §6): 50
# canonical targets appear under case, www., trailing-slash, utm-param and
# fragment variations. Canonicalization = lowercase scheme+host, strip
# www., drop utm_* params, drop fragments, strip trailing slash — the
# subset of RFC 3986 normalization that is pure regex (shared Java/RE2
# syntax so both engines rewrite identically).
_URL_PLANT_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END"
    " || CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END"
    " || 'Example.com/Articles/' || CAST(doc_id % 50 AS VARCHAR)"
    " || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END"
    " || '?utm_source=feed&utm_campaign=' || CAST(doc_id % 7 AS VARCHAR)"
    " || CASE WHEN doc_id % 4 = 0 THEN '#section' || CAST(doc_id % 9 AS VARCHAR)"
    "         ELSE '' END"
)


@query(
    "dedup_url_canonicalize",
    oracle=f"""
    WITH p AS (SELECT doc_id, {_URL_PLANT_SQL} AS url FROM documents),
    c AS (SELECT doc_id, url,
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(lower(url), '://www\\.', '://', 'g'),
                     '#.*$', '', 'g'),
                     '(\\?|&)utm_[^&#]*', '\\1', 'g'),
                     '\\?&|&&', '?', 'g'),
                     '[?&/]+$', '', 'g') AS canon
          FROM p),
    d AS (SELECT canon,
                 CAST(COUNT(*) AS BIGINT) AS n_variants,
                 MIN(doc_id) AS keeper_doc_id
          FROM c GROUP BY canon)
    SELECT c.doc_id, c.url, c.canon, d.n_variants, d.keeper_doc_id,
           CAST(c.doc_id = d.keeper_doc_id AS BIGINT) AS is_keeper
    FROM c JOIN d ON c.canon = d.canon
    """,
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88: URL canonicalization + dedup — the crawl-ingest step that
    collapses scheme/case, www., tracking-param, fragment, and
    trailing-slash variants onto one canonical key before content is ever
    fetched twice. Canonicalization is a narrow JVM regex chain (scan
    speed, zero shuffle); the dedup is ONE canonical-keyed agg joined
    back for per-row keeper flags. Both engines run byte-identical
    patterns from the shared \\b-free Java∩RE2 regex subset; the planted
    variants make the value check exercise every rewrite rule (case,
    www-strip, utm-drop, fragment-drop, slash-strip) rather than a
    no-op."""
    # the plant SQL is shared verbatim with the oracle; Spark's parser
    # wants STRING where DuckDB writes VARCHAR
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_URL_PLANT_SQL.replace("AS VARCHAR", "AS STRING")).alias("url"),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("url")), r"://www\.", "://"
                    ),
                    r"#.*$",
                    "",
                ),
                r"(\?|&)utm_[^&#]*",
                r"$1",
            ),
            r"\?&|&&",
            "?",
        ),
        r"[?&/]+$",
        "",
    )
    c = d.withColumn("canon", canon)
    agg = c.groupBy("canon").agg(
        F.count("*").alias("n_variants"), F.min("doc_id").alias("keeper_doc_id")
    )
    return c.join(agg, "canon").select(
        "doc_id",
        "url",
        "canon",
        "n_variants",
        "keeper_doc_id",
        (F.col("doc_id") == F.col("keeper_doc_id")).cast("long").alias("is_keeper"),
    )


# --- BPE merge-pair statistics (X91) --------------------------------------
BPE_TOP_PAIRS = 20


@query(
    "bpe_merge_pairs",
    oracle=f"""
    WITH tok AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS t
                 FROM documents WHERE LENGTH(trim(text)) > 0),
    pairs AS (
      SELECT UNNEST(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i + 1])) AS pair
      FROM tok WHERE len(t) >= 2
    ),
    c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY pair)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank,
           split_part(pair, ' ', 1) AS left_tok,
           split_part(pair, ' ', 2) AS right_tok,
           n
    FROM c
    QUALIFY rank <= {BPE_TOP_PAIRS}
    """,
)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91: most frequent adjacent token pairs — the statistic the first
    BPE/WordPiece merge step maximizes, and the adjacency complement of
    vocab_coverage's unigram ranking (a full BPE trainer iterates: count
    pairs → merge the argmax → recount). Pairs are built IN-ROW with
    array higher-order functions (no self-join, no window — order comes
    from the array itself), counted in one keyed agg whose output is
    |distinct pairs|; the global top-k is orderBy+limit
    (TakeOrderedAndProject) with the rank window running on ≤
    {BPE_TOP_PAIRS} rows. Tokens match \\S+ so the space-joined pair key
    splits back unambiguously."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = TOKENS()
    pairs = d.filter(F.size(t) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i + 1), F.element_at(t, i + 2)
                ),
            )
        ).alias("pair")
    )
    c = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    top = c.orderBy(F.col("n").desc(), "pair").limit(BPE_TOP_PAIRS)
    from pyspark.sql import Window

    w = Window.partitionBy(F.pmod(F.col("n"), F.lit(1))).orderBy(
        F.col("n").desc(), "pair"
    )
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("left_tok"),
        F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("right_tok"),
        "n",
    )


# --- Zipf law fit (X105) --------------------------------------------------

ZIPF_TOP_N = 200  # fit over the top-N ranks (the standard Zipf regime)


@query(
    "zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST({ORACLE_TOKENS}) AS term
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY term),
    top AS (SELECT term, freq FROM f ORDER BY freq DESC, term LIMIT {ZIPF_TOP_N}),
    r AS (SELECT freq,
                 ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk
          FROM top)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(REGR_SLOPE(LN(CAST(freq AS DOUBLE)), LN(CAST(rnk AS DOUBLE))), 6)
               AS slope,
           ROUND(REGR_INTERCEPT(LN(CAST(freq AS DOUBLE)), LN(CAST(rnk AS DOUBLE))), 6)
               AS intercept,
           ROUND(REGR_R2(LN(CAST(freq AS DOUBLE)), LN(CAST(rnk AS DOUBLE))), 6)
               AS r2
    FROM r
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105: Zipf's-law fit of the corpus frequency distribution —
    log-log OLS of token frequency on rank over the top-200 ranks (the
    regime Zipf holds in; the tail is deliberately excluded, as in
    corpus-statistics practice). slope ~ -1 says natural language;
    big deviations flag boilerplate/spam corpora — the corpus-level twin
    of the per-document quality scorers. Scale shape: corpus scan
    collapses to the keyed |vocab| frequency agg, global top-200 via
    TakeOrderedAndProject (no full sort), rank over the 200-row table
    under an explicit pmod-constant partition, one regression aggregate.
    """
    from ..data import spread

    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    f = (
        spread(d)
        .select(F.explode(TOKENS()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    top = f.orderBy(F.col("freq").desc(), "term").limit(ZIPF_TOP_N)
    w = W.partitionBy(F.pmod(F.col("freq"), F.lit(1))).orderBy(
        F.col("freq").desc(), "term"
    )
    r = top.select("freq", F.row_number().over(w).alias("rnk"))
    y = F.log(F.col("freq").cast("double"))
    x = F.log(F.col("rnk").cast("double"))
    return r.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


DOC_SIM_MIN_COS = 0.5


@query(
    "doc_similarity_sparse",
    oracle=f"""
    WITH tok AS (SELECT doc_id, UNNEST({ORACLE_TOKENS}) AS term
                 FROM documents WHERE LENGTH(trim(text)) > 0),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
          WHERE LENGTH(trim(text)) > 0),
    s AS (SELECT tf.doc_id, tf.term,
                 ROUND(tf.tf * LN(n.n_docs / dfq.df), 6) AS score
          FROM tf JOIN dfq ON tf.term = dfq.term, n),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term) AS rnk FROM s),
    topk AS (SELECT doc_id, term, score FROM r WHERE rnk <= {TFIDF_TOP_N}),
    nrm AS (SELECT doc_id, ROUND(SQRT(SUM(score * score)), 6) AS nn
            FROM topk GROUP BY doc_id),
    wn AS (SELECT t.doc_id, t.term, t.score / nn AS w
           FROM topk t JOIN nrm ON t.doc_id = nrm.doc_id),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 ROUND(SUM(a.w * b.w), 6) AS cos_sim
          FROM wn a JOIN wn b
            ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, cos_sim FROM p WHERE cos_sim >= {DOC_SIM_MIN_COS}
    """,
)
def doc_similarity_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE document similarity — the term-partitioned dot-product
    shape that complements the dense-embedding family
    (`similarity_topk` et al.): cosine over tf-idf keyword vectors
    computed as partial products on a TERM-keyed self-join, summed per
    pair. Vectors never materialize; each term contributes its posting
    list's pairs, so the cost is Σ df² — which is why production caps
    posting lists (stop-term pruning) exactly like `item_cf_similarity`
    caps user histories; here the top-{TFIDF_TOP_N} truncation IS the
    cap. Scores and norms are rounded to shared 6-decimal constants
    before the join so both engines multiply identical weights."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = d.select("doc_id", F.explode(TOKENS()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    s = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    topk = (
        s.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_N)
        .select("doc_id", "term", "score")
    )
    nrm = topk.groupBy("doc_id").agg(
        F.round(F.sqrt(F.sum(F.col("score") * F.col("score"))), 6).alias("nn")
    )
    # wn is the junction of TWO diamonds (it self-joins as a/b, and topk
    # above feeds both nrm and wn) — un-pinned, the tokenize→tf→topk
    # chain replays up to 4x in the plan (r08 audit; the item_cf lesson).
    # |docs| × TFIDF_TOP_N rows of (long, string, double) — one tiny
    # materialization job.
    wn = checkpoint(
        topk.join(nrm, "doc_id")
        .select("doc_id", "term", (F.col("score") / F.col("nn")).alias("w"))
    )
    a = wn.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = wn.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    return (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.sum(F.col("wa") * F.col("wb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= DOC_SIM_MIN_COS)
    )


PSEUDO_SALT = "drs-2026-rotation-1"


@query(
    "pii_pseudonymize",
    oracle=f"""
    SELECT c_custkey,
           sha256('{PSEUDO_SALT}' || ':' || CAST(c_custkey AS VARCHAR))
               AS pseudonym,
           '****' || SUBSTR(CAST(10000 + c_custkey % 10000 AS VARCHAR), 2, 4)
               AS display_suffix,
           CAST(LENGTH(c_name) AS BIGINT) AS name_len
    FROM customer
    """,
)
def pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-PII pseudonymization — the GDPR-shaped twin of
    `text_pii_redact`'s free-text scrubbing: identifiers are replaced by
    a SALTED sha256 pseudonym (stable within a salt rotation so joins
    and aggregations still work across pseudonymized tables — that
    stability is the entire point vs plain redaction), plus a masked
    display form keeping only a derived 4-digit suffix. Key property:
    the pseudonym depends ONLY on (salt, key), so two pseudonymized
    extracts join on it without ever materializing the real key; rotate
    the salt and every pseudonym changes at once. Narrow, scan-speed,
    zero shuffle."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.sha2(
            F.concat_ws(":", F.lit(PSEUDO_SALT), F.col("c_custkey").cast("string")),
            256,
        ).alias("pseudonym"),
        F.concat(
            F.lit("****"),
            F.substring((10000 + F.col("c_custkey") % 10000).cast("string"), 2, 4),
        ).alias("display_suffix"),
        F.length("c_name").cast("long").alias("name_len"),
    )


CURATE_MIN_TOKS = 20
CURATE_MAX_TOKS = 1000


@query(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH src AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, lang, text FROM documents
        WHERE doc_id % 10 = 0),
    norm AS (
        SELECT doc_id, lang,
               TRIM(regexp_replace(regexp_replace(LOWER(text),
                    '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                    '\\s+', ' ', 'g')) AS norm_text
        FROM src),
    keep AS (
        SELECT norm_text, MIN(doc_id) AS keeper FROM norm GROUP BY norm_text),
    d AS (
        SELECT n.doc_id, n.lang, n.norm_text,
               (n.doc_id = k.keeper) AS is_keeper,
               LEN(string_split(n.norm_text, ' ')) AS n_toks
        FROM norm n JOIN keep k ON n.norm_text = k.norm_text),
    q AS (
        SELECT *,
               is_keeper AND n_toks BETWEEN {CURATE_MIN_TOKS}
                   AND {CURATE_MAX_TOKS} AS is_quality
        FROM d)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           CAST(SUM(CASE WHEN is_quality THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality,
           CAST(SUM(CASE WHEN is_quality
                THEN CAST(FLOOR((n_toks - 1) / {CHUNK_STRIDE}) AS BIGINT) + 1
                ELSE 0 END) AS BIGINT) AS n_chunks
    FROM q GROUP BY lang
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data curation pipeline END-TO-END as one DAG — normalize →
    exact-dedup (keep min doc) → quality gate (token-count band) → chunk
    accounting — reported as a per-language funnel (docs in → unique →
    quality → training chunks). Each stage is an operator this registry
    already value-checks in isolation (`text_normalize`, `dedup_exact`,
    `corpus_quality_filter`, `text_chunk`); this query pins that the
    COMPOSITION stays one lazy plan: the normalize expressions fuse into
    the scan, the dedup is the only data-sized shuffle (norm-text keyed
    agg + same-keyed join, one exchange family), and the funnel collapse
    is a |langs|-row aggregate. At 100 TB this is the job you actually
    run nightly; the per-stage queries are its unit tests. All funnel
    counts are exact integers. Exact duplicates are PLANTED (every 10th
    doc re-enters under a shifted id, the crawl-recrawl shape) so the
    dedup stage demonstrably cuts — the fixture corpus has only
    near-dups, which exact dedup must NOT remove."""
    base = load_table(spark, sf_dir, "documents")
    d = base.select("doc_id", "lang", "text").unionByName(
        base.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "lang", "text"
        )
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[\x00-\x1f\x7f]", " "),
            r"\s+",
            " ",
        )
    )
    n = d.select("doc_id", "lang", norm.alias("norm_text"))
    keep = n.groupBy("norm_text").agg(F.min("doc_id").alias("keeper"))
    j = n.join(keep, "norm_text").select(
        "lang",
        (F.col("doc_id") == F.col("keeper")).alias("is_keeper"),
        F.size(F.split("norm_text", " ")).cast("long").alias("n_toks"),
    )
    q = j.withColumn(
        "is_quality",
        F.col("is_keeper")
        & F.col("n_toks").between(CURATE_MIN_TOKS, CURATE_MAX_TOKS),
    )
    chunks = F.floor((F.col("n_toks") - 1) / CHUNK_STRIDE).cast("long") + 1
    return q.groupBy("lang").agg(
        F.count("*").alias("n_in"),
        F.sum(F.col("is_keeper").cast("long")).alias("n_unique"),
        F.sum(F.col("is_quality").cast("long")).alias("n_quality"),
        F.sum(F.when(F.col("is_quality"), chunks).otherwise(0)).alias("n_chunks"),
    )


@query(
    "regex_extract_all_suite",
    oracle="""
    WITH planted AS (
        SELECT doc_id,
               text || ' ref-' || CAST(doc_id AS VARCHAR) ||
               ' ref-' || CAST(doc_id * 2 AS VARCHAR) ||
               CASE WHEN doc_id % 3 = 0
                    THEN ' ref-' || CAST(doc_id * 3 AS VARCHAR)
                    ELSE '' END AS t
        FROM documents)
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(t, 'ref-[0-9]+')) AS BIGINT)
               AS n_refs,
           array_to_string(list_sort(regexp_extract_all(t, 'ref-[0-9]+')),
                           ',') AS refs_sorted
    FROM planted
    """,
)
def regex_extract_all_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-match regex extraction (`regexp_extract_all`) — reference
    mining, citation counting, marker harvesting: where
    `regexp_extract` returns only the first hit and `parse_logs_regex`
    assumes one match per line, this returns every match as an array.
    Markers are planted deterministically (2-3 per doc) so multi-match
    behavior is genuinely exercised; the array is SORTED before joining
    to a string because match order beyond the first is the part
    engines could disagree on (both are document-order here, but the
    pinned contract shouldn't depend on it). Narrow, in-scan."""
    d = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" ref-"), F.col("doc_id").cast("string"),
        F.lit(" ref-"), (F.col("doc_id") * 2).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" ref-"), (F.col("doc_id") * 3).cast("string")),
        ).otherwise(""),
    )
    refs = F.regexp_extract_all(t, F.lit("ref-[0-9]+"), 0)
    return d.select(
        "doc_id",
        F.size(refs).cast("long").alias("n_refs"),
        F.array_join(F.array_sort(refs), ",").alias("refs_sorted"),
    )


SAMPLE_STRATA_CUTS = [round(0.1 * i, 1) for i in range(1, 10)]  # deciles
SAMPLE_MOD, SAMPLE_KEEP = 5, 1  # deterministic 20% within each stratum

_QUALITY_SQL = f"""
        SELECT doc_id,
               ROUND(LEAST(CAST(LEN({ORACLE_TOKENS}) AS DOUBLE) / 100.0, 1.0)
                     * 0.5
                     + LEAST(CAST(LEN(list_filter({ORACLE_TOKENS},
                         t -> t IN ('the','and','of','to','in','a','is')))
                         AS DOUBLE)
                       / LEN({ORACLE_TOKENS}) * 5.0, 1.0) * 0.5, 6) AS q
        FROM documents"""


@query(
    "quality_stratified_sample",
    oracle=f"""
    WITH s AS ({_QUALITY_SQL}),
    c AS (SELECT quantile_cont(q, {SAMPLE_STRATA_CUTS}) AS cuts FROM
          (SELECT ROUND(q, 6) AS q FROM s)),
    lab AS (SELECT doc_id, q,
                   CAST(LEN(list_filter(c.cuts, x -> s.q > ROUND(x, 6)))
                        AS BIGINT) AS stratum
            FROM s, c)
    SELECT doc_id, stratum, q AS quality
    FROM lab WHERE doc_id % {SAMPLE_MOD} < {SAMPLE_KEEP}
    """,
)
def quality_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X234: quality-stratified corpus subsampling — the curation move
    after `text_quality_score`: bucket documents into quality deciles and
    keep a deterministic 20% of EACH decile, so a downsized training mix
    preserves the full quality distribution instead of whatever a uniform
    hash-sample happens to hit. Decile cuts are ONE exact-percentile
    scalar row broadcast back over the docs (the `rfm_segmentation` /
    `split_train_test_temporal` shape — no global ntile window, which
    would serialize a data-sized table through one task); stratum
    assignment is an in-row count of cuts below the rounded score (both
    engines compare identical ROUND(...,6) constants), and the keep rule
    is a key-hash (doc_id % {SAMPLE_MOD}), stable under repartitioning.
    At 100 TB swap percentile for approx_percentile (t-digest) and
    nothing else changes."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(TOKENS()).cast("long")
    n_stop = F.size(
        F.expr(
            "filter(split(trim(text), '\\\\s+'),"
            " t -> t IN ('the','and','of','to','in','a','is'))"
        )
    ).cast("long")
    quality = F.round(
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + F.least(n_stop.cast("double") / n_tokens * 5.0, F.lit(1.0)) * 0.5,
        6,
    )
    scored = d.select("doc_id", quality.alias("q"))
    cuts_arr = "array({})".format(
        ", ".join(f"round(percentile(q, {p}), 6)" for p in SAMPLE_STRATA_CUTS)
    )
    cuts = scored.agg(F.expr(cuts_arr).alias("cuts"))
    lab = scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "q",
        F.expr(
            "aggregate(transform(cuts, c -> CASE WHEN q > c THEN 1 ELSE 0 END),"
            " 0, (a, x) -> a + x)"
        ).cast("long").alias("stratum"),
    )
    return lab.filter(F.col("doc_id") % SAMPLE_MOD < SAMPLE_KEEP).select(
        "doc_id", "stratum", F.col("q").alias("quality")
    )


@query(
    "bigram_lm_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {ORACLE_TOKENS} AS t FROM documents
        WHERE LEN({ORACLE_TOKENS}) >= 2),
    bg AS (
        SELECT doc_id, t[CAST(u.i AS INT)] AS w1, t[CAST(u.i + 1 AS INT)] AS w2
        FROM tok CROSS JOIN UNNEST(range(1, len(t))) AS u(i)),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
           FROM bg GROUP BY w1, w2),
    cc AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx FROM bc GROUP BY w1),
    vv AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v
           FROM (SELECT w1 AS w2 FROM bc UNION SELECT w2 FROM bc)),
    scored AS (
        SELECT bg.doc_id,
               LN((CAST(bc.c AS DOUBLE) + 1)
                  / (CAST(cc.ctx AS DOUBLE) + (SELECT v FROM vv))) AS lp
        FROM bg
        JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
        JOIN cc ON bg.w1 = cc.w1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(lp), 6) AS avg_logprob,
           ROUND(EXP(-AVG(lp)), 6) AS perplexity
    FROM scored GROUP BY doc_id
    """,
)
def bigram_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X255: bigram language-model scoring with Laplace smoothing —
    the CONDITIONAL step past unigram_logprob_score (X78): a document of
    common words in impossible ORDER scores fine under a unigram model
    and terribly here, which is exactly the word-salad/MT-garbage
    failure mode LM-based corpus filters (CCNet's wikipedia-LM
    perplexity gate) exist to catch. P(w2|w1) = (C(w1,w2)+1)/(C(w1)+V),
    so every probability is a ratio of EXACT integers; per-doc
    aggregation is a mean of ≤|doc| log terms (ULP noise orders below
    the ROUND 6 emission). Physically the unigram shape one key wider:
    bigrams build in-row (slice+zip, no self-join), the model collapses
    to |bigram-vocab| rows with map-side combine, and the scoring pass
    joins bigram-keyed then context-keyed — both model tables broadcast
    while they fit; at 100 TB the bigram table is the one that may not,
    and then the scoring join shuffles on (w1,w2), still keyed."""
    d = load_table(spark, sf_dir, "documents").filter(F.size(TOKENS()) >= 2)
    t = TOKENS()
    bg_arr = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        spread(d)
        .select("doc_id", F.explode(bg_arr).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    cc = bc.groupBy("w1").agg(F.sum("c").alias("ctx"))
    vv = (
        bc.select(F.col("w1").alias("w"))
        .union(bc.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count("*").alias("v"))
    )
    lp = F.log(
        (F.col("c").cast("double") + 1)
        / (F.col("ctx").cast("double") + F.col("v"))
    )
    return (
        bg.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(cc), "w1")
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(lp), 6).alias("avg_logprob"),
            F.round(F.exp(-F.avg(lp)), 6).alias("perplexity"),
        )
    )


WINNOW_K = 5  # tokens per k-gram
WINNOW_W = 4  # k-gram hashes per winnowing window


def _winnow_oracle() -> str:
    """DuckDB twin of the winnowing selection — built here because the
    per-gram hash expands to the h60_sql strpos polynomial."""
    from .dedup import h60_sql

    k, w = WINNOW_K, WINNOW_W
    # NB: the lambda variable must NOT be `i` — h60_sql's own inner
    # list_transform binds `i` and would shadow it (all grams would hash
    # alike; caught by the oracle compare when first written).
    gram_hash = h60_sql(
        "array_to_string(toks[CAST(gi AS INT):CAST(gi + %d AS INT)], ' ')" % (k - 1)
    )
    return f"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents),
    g AS (
        SELECT doc_id, len(toks) AS n_tokens,
               list_transform(range(1, len(toks) - {k} + 2),
                              gi -> {gram_hash}) AS h
        FROM t
        WHERE len(toks) >= {k}),
    s AS (
        SELECT doc_id, n_tokens, h, len(h) AS n_grams,
               list_sort(list_distinct(list_transform(
                   range(1, len(h) - {w} + 2),
                   j -> CAST(j + {w} - list_position(
                            list_reverse(h[CAST(j AS INT):CAST(j + {w} - 1 AS INT)]),
                            list_min(h[CAST(j AS INT):CAST(j + {w} - 1 AS INT)]))
                        AS BIGINT)))) AS sel
        FROM g)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(sel) AS BIGINT) AS n_selected,
           ROUND(CAST(len(sel) AS DOUBLE) / n_grams, 6) AS density,
           md5(array_to_string(list_transform(sel, p -> h[CAST(p AS INT)]), ','))
               AS fp_digest
    FROM s
    """


@query("winnowing_fingerprint", oracle=_winnow_oracle())
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X261: MOSS winnowing (Schleimer et al., SIGMOD 2003) — the
    sub-document fingerprint selection behind plagiarism/clone detection
    and CCNet-style local dedup: hash every 5-token k-gram, slide a
    4-hash window, keep the RIGHTMOST MINIMUM of each window, distinct
    the kept positions. Guarantees: any shared run of k+w-1 tokens
    shares a fingerprint (no false negatives longer than the window),
    and expected density is 2/(w+1) — position-stable, unlike sampling
    every i-th hash. The per-doc digest (md5 of the selected hash
    sequence) makes the whole selection one value-checkable string.
    Everything is IN-ROW higher-order functions over the portable
    60-bit md5 hash family (dedup.py h60) — zero shuffles, zero joins,
    scan-speed at any corpus size; the fingerprint inverted index that
    would follow is exactly dedup_chunk_rewrite's keyed-join shape.
    Docs shorter than one k-gram are dropped (none exist in the
    fixture; a test pins that)."""
    from .dedup import h60_spark  # noqa: F401  (same family, spark side inline)

    k, w = WINNOW_K, WINNOW_W
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
    )
    g = (
        d.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.expr(
                f"transform(sequence(1, size(toks) - {k} + 1), i -> "
                "CAST(conv(substring(md5("
                f"concat_ws(' ', slice(toks, i, {k}))), 1, 15), 16, 10) AS BIGINT))"
            ).alias("h"),
        )
    )
    s = g.select(
        "doc_id",
        "n_tokens",
        "h",
        F.size("h").cast("long").alias("n_grams"),
        F.expr(
            f"array_sort(array_distinct(transform(sequence(1, size(h) - {w} + 1), "
            f"j -> CAST(j + {w} - array_position("
            f"reverse(slice(h, j, {w})), "
            f"array_min(slice(h, j, {w}))) AS BIGINT))))"
        ).alias("sel"),
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "n_grams",
        F.size("sel").cast("long").alias("n_selected"),
        F.round(F.size("sel").cast("double") / F.col("n_grams"), 6).alias(
            "density"
        ),
        F.md5(
            F.array_join(
                F.expr("transform(sel, p -> element_at(h, CAST(p AS INT)))"), ","
            )
        ).alias("fp_digest"),
    )


def _novelty_oracle() -> str:
    from .dedup import h60_sql

    k = WINNOW_K
    gram_hash = h60_sql(
        "array_to_string(toks[CAST(gi AS INT):CAST(gi + %d AS INT)], ' ')" % (k - 1)
    )
    return f"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents),
    g AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - {k} + 2),
                                            gi -> {gram_hash})) AS hs
        FROM t WHERE len(toks) >= {k}),
    x AS (SELECT doc_id, UNNEST(hs) AS h FROM g),
    first_seen AS (
        SELECT h, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM x GROUP BY 1)
    SELECT x.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
           CAST(SUM(CASE WHEN f.first_doc = x.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = x.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM x JOIN first_seen f ON x.h = f.h
    GROUP BY x.doc_id
    ORDER BY x.doc_id
    """


@query("ngram_novelty_score", oracle=_novelty_oracle())
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X267: n-gram novelty vs the corpus prefix — for each document,
    the share of its distinct 5-gram hashes whose FIRST corpus
    occurrence (minimum doc_id, i.e. arrival order) is this document.
    This is the primitive behind duplication/memorization curves
    (Lee et al. "Deduplicating Training Data Makes LMs Better"): a
    streaming-arrival corpus keeps a doc only if its novelty clears a
    floor, and the aggregate novelty-vs-position curve diagnoses crawl
    rot. Complements dedup_* (pairwise/near-dup) and
    decontaminate_ngram_overlap (vs a fixed benchmark) with the
    self-referential time-ordered view. Plan: in-row distinct gram
    hashing (h60 family — the oracle recomputes every hash), ONE
    explode → hash-keyed MIN agg (map-combinable), ONE hash-keyed join
    back, per-doc agg — all shuffles keyed on the 60-bit gram hash,
    uniformly distributed by construction; no windows, no skew."""
    k = WINNOW_K
    g = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
        )
        .filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k} + 1), i -> "
                    "CAST(conv(substring(md5("
                    f"concat_ws(' ', slice(toks, i, {k}))), 1, 15), 16, 10) AS BIGINT))"
                )
            ).alias("hs"),
        )
    )
    # novel-gram counts come from the first_seen aggregate ALONE: each
    # distinct gram hash contributes exactly one novel hit, to its min
    # doc_id — so grouping first_seen by first_doc IS the per-doc novel
    # count, and n_distinct_grams is just size(hs). The previous form
    # joined the full exploded gram table back on the 60-bit hash (a
    # second data-sized shuffle) and, because the exploded frame fed both
    # join sides, computed the md5-per-gram explode twice (guide §2.3
    # "shuffle fewer bytes" / §2.4 "remove shuffles outright"): r08
    # profiling measured 9.9–10.5 s; this form shuffles the gram table
    # once and joins two doc-sized frames.
    x = g.select("doc_id", F.explode("hs").alias("h"))
    novel = (
        x.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        g.select("doc_id", F.size("hs").cast("long").alias("n_distinct_grams"))
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_distinct_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_distinct_grams"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


PPMI_WINDOW = 2  # co-occurrence window (tokens to the right)
PPMI_MIN_PAIR = 5  # minimum pair-event count in the output


@query(
    "ppmi_cooccurrence",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents),
    -- data-driven position grid: a fixed range cap silently dropped
    -- pairs for >99-token docs at sf0.1 (the bounded-grid oracle trap
    -- ADVICE r03 flagged for timeseries_interpolate)
    pos0 AS (
        SELECT doc_id, toks, UNNEST(range(1, len(toks) + 1)) AS i FROM t),
    pos AS (
        SELECT doc_id, i, toks[CAST(i AS INT)] AS w FROM pos0),
    pairs AS (
        SELECT LEAST(a.w, b.w) AS w1, GREATEST(a.w, b.w) AS w2
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id
         AND b.i - a.i BETWEEN 1 AND {PPMI_WINDOW}),
    pc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs GROUP BY 1, 2),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs),
    m AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS m FROM (
            SELECT w1 AS w FROM pairs
            UNION ALL SELECT w2 AS w FROM pairs) u
        GROUP BY 1)
    SELECT pc.w1, pc.w2, pc.c AS pair_n,
           ROUND(GREATEST(
               LN(CAST(pc.c AS DOUBLE)) + LN(CAST(n.n AS DOUBLE))
               - LN(CAST(m1.m AS DOUBLE)) - LN(CAST(m2.m AS DOUBLE)),
               0) , 6) AS ppmi
    FROM pc
    JOIN m m1 ON pc.w1 = m1.w
    JOIN m m2 ON pc.w2 = m2.w
    CROSS JOIN n
    WHERE pc.c >= {PPMI_MIN_PAIR}
    ORDER BY w1, w2
    """,
)
def ppmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X277: positive pointwise mutual information over ±{PPMI_WINDOW}-
    token co-occurrence windows — the count-based word-embedding
    baseline (Levy & Goldberg 2014: SGNS implicitly factorizes this
    matrix) and the collocation detector behind phrase mining. Distinct
    from bigram_lm_logprob (adjacency, directional, smoothed): PPMI is
    symmetric windowed association. Every log argument is an exact
    integer count widened once, combined in a fixed 4-term expression,
    clamped at 0 and rounded — the session_entropy log discipline.
    Plan: pair events generate IN-ROW (slice+zip-free position pairs,
    the engine never joins the corpus to itself); counts, the 1-row N
    and the |vocab| marginals are all keyed map-combinable aggs;
    scoring joins are keyed on word (vocab-sized, broadcast while they
    fit). Per-doc work is O(len·window) — scan-speed at corpus
    scale."""
    d = load_table(spark, sf_dir, "documents").select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks")
    )
    pair_expr = (
        "flatten(transform(sequence(1, size(toks) - 1), i -> "
        " transform(sequence(i + 1, least(i + %d, size(toks))), j -> "
        "   struct(least(toks[i - 1], toks[j - 1]) AS w1,"
        "          greatest(toks[i - 1], toks[j - 1]) AS w2))))"
        % PPMI_WINDOW
    )
    pairs = d.filter(F.size("toks") >= 2).select(
        F.explode(F.expr(pair_expr)).alias("p")
    ).select("p.w1", "p.w2")
    pc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("pair_n"))
    n = pairs.agg(F.count("*").alias("n"))
    m = (
        pairs.select(F.col("w1").alias("w"))
        .unionAll(pairs.select(F.col("w2").alias("w")))
        .groupBy("w")
        .agg(F.count("*").alias("m"))
    )
    m1 = m.select(F.col("w").alias("w1"), F.col("m").alias("m1"))
    m2 = m.select(F.col("w").alias("w2"), F.col("m").alias("m2"))
    ppmi = F.greatest(
        F.log(F.col("pair_n").cast("double"))
        + F.log(F.col("n").cast("double"))
        - F.log(F.col("m1").cast("double"))
        - F.log(F.col("m2").cast("double")),
        F.lit(0.0),
    )
    return (
        pc.filter(F.col("pair_n") >= PPMI_MIN_PAIR)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "pair_n", F.round(ppmi, 6).alias("ppmi"))
        .orderBy("w1", "w2")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack 2009)
RRF_TOP_EACH = 50  # depth taken from each ranker before fusion
RRF_TOP_OUT = 20  # fused results returned
RRF_QUERY_VEC = 0  # the query document's vec_id / doc_id


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH d AS (SELECT doc_id, {ORACLE_TOKENS} AS toks
               FROM documents WHERE LENGTH(trim(text)) > 0),
    tok AS (SELECT doc_id, LEN(toks) AS dl, UNNEST(toks) AS term FROM d),
    tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, dl, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                  AVG(LEN(toks)) AS avgdl FROM d),
    bm AS (SELECT tf.doc_id,
                  ROUND(SUM(
                    LN(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                    * tf.tf * ({BM25_K1} + 1)
                    / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / st.avgdl))
                  ), 6) AS bm25
           FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN st
           WHERE tf.doc_id <> {RRF_QUERY_VEC}
           GROUP BY tf.doc_id),
    lex AS (SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                        AS BIGINT) AS lex_rank
            FROM bm
            QUALIFY lex_rank <= {RRF_TOP_EACH}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT v FROM e WHERE vec_id = {RRF_QUERY_VEC}),
    sem0 AS (SELECT e.vec_id AS doc_id, list_dot_product(qv.v, e.v) AS cos
             FROM e, qv WHERE e.vec_id <> {RRF_QUERY_VEC}),
    sem AS (SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
                        AS BIGINT) AS sem_rank
            FROM sem0
            QUALIFY sem_rank <= {RRF_TOP_EACH}),
    fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               COALESCE(lex.lex_rank, 0) AS lex_rank,
               COALESCE(sem.sem_rank, 0) AS sem_rank,
               COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + lex.lex_rank), 0)
               + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + sem.sem_rank), 0)
                   AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
               AS rank,
           doc_id, lex_rank, sem_rank, ROUND(rrf, 6) AS rrf_score
    FROM fused
    QUALIFY rank <= {RRF_TOP_OUT}
    ORDER BY rank
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X293: hybrid retrieval by reciprocal-rank fusion (Cormack et al.
    2009, k = {RRF_K}) — the fusion step every production RAG / search
    stack runs over its lexical and vector legs: BM25 ranks (the fixed
    query-term set, bm25_score's scorer verbatim) fused with
    embedding-cosine ranks (document {RRF_QUERY_VEC}'s vector as the
    semantic query) via score = Σ 1/(k + rank). Each leg is cut to its
    top-{RRF_TOP_EACH} BEFORE fusion — rank-k lists, the form RRF is
    defined on — so the per-leg global ranking compiles to
    TakeOrderedAndProject (per-partition top-k + one k-row merge, never
    a single-partition sort) and the fusion itself is a full-outer join
    over ≤ 2k rows. Determinism: legs rank on ROUND(score, 6) with a
    doc_id tiebreak (the rounded-before-use constant discipline — raw
    cross-engine sums can differ in the last ulp); absent-from-leg is
    rank 0 (never NULL, keeping integer dtypes); the fused score is a
    sum of two exact reciprocals — bit-identical. Pinned (tests): a doc
    present in BOTH legs outranks its single-leg fused score ceiling,
    both single-leg branches fire, and rrf recomputes from the emitted
    ranks. At 100 TB each leg's cost is its scorer; fusion is O(k)."""
    from .similarity import _emb
    from .linalg import dot

    lex_scored = bm25_score(spark, sf_dir).filter(
        F.col("doc_id") != RRF_QUERY_VEC
    )
    # global top-k per leg: orderBy+limit compiles to
    # TakeOrderedAndProject; the rank window then runs on <= k rows
    w_bounded = W.partitionBy(F.pmod(F.col("doc_id"), F.lit(1)))
    lex = (
        lex_scored.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(RRF_TOP_EACH)
        .withColumn(
            "lex_rank",
            F.row_number()
            .over(w_bounded.orderBy(F.col("bm25").desc(), "doc_id"))
            .cast("long"),
        )
        .select("doc_id", "lex_rank")
    )
    e = _emb(spark, sf_dir)
    qv = e.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("v").alias("qv")
    )
    sem_scored = (
        e.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            dot(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    sem = (
        sem_scored.orderBy(F.col("cos").desc(), "doc_id")
        .limit(RRF_TOP_EACH)
        .withColumn(
            "sem_rank",
            F.row_number()
            .over(w_bounded.orderBy(F.col("cos").desc(), "doc_id"))
            .cast("long"),
        )
        .select(F.col("doc_id").alias("s_doc_id"), "sem_rank")
    )
    fused = (
        lex.join(sem, lex["doc_id"] == sem["s_doc_id"], "full_outer")
        .select(
            F.coalesce(F.col("doc_id"), F.col("s_doc_id")).alias("doc_id"),
            F.coalesce(F.col("lex_rank"), F.lit(0)).alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(0)).alias("sem_rank"),
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    return (
        fused.withColumn(
            "rank",
            F.row_number()
            .over(w_bounded.orderBy(F.col("rrf").desc(), "doc_id"))
            .cast("long"),
        )
        .filter(F.col("rank") <= RRF_TOP_OUT)
        .select(
            "rank", "doc_id", "lex_rank", "sem_rank",
            F.round("rrf", 6).alias("rrf_score"),
        )
        .orderBy("rank")
    )


@query(
    "pandas_udf_scalar_textfeats",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_exact,
           CAST(LENGTH(text)
                - LENGTH(REGEXP_REPLACE(text, '[aeiouAEIOU]', '', 'g'))
                AS BIGINT) AS n_vowels,
           CAST(LENGTH(text)
                - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))
                AS BIGINT) AS n_digits,
           CAST(LENGTH(text)
                - LENGTH(REGEXP_REPLACE(text, ' ', '', 'g'))
                AS BIGINT) AS n_spaces
    FROM documents
    ORDER BY doc_id
    """,
)
def pandas_udf_scalar_textfeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X306: the declared SCALAR Arrow pandas_udf shape — the one
    vectorized-Python form the UDF family didn't yet pin
    (grouped_agg_pandas_udf: GROUPED_AGG, map_in_arrow_passthrough:
    raw Arrow, hysteresis/holt: GROUPED_MAP, multimodal: mapInPandas;
    here: `@pandas_udf` applied inside a plain `select`, compiling to
    ArrowEvalPython with batched Arrow transfer — the 10-100× faster
    path the guide mandates over row-at-a-time Python). The kernel is
    INTEGER-EXACT on purpose (vowel / digit / space counts via
    vectorized pandas `.str.count`) so the cross-engine check has zero
    float surface — the point is pinning the PLUMBING: the plan test
    asserts ArrowEvalPython appears and BatchEvalPython does NOT, and
    the oracle recomputes every count through DuckDB regexp arithmetic.
    At 100 TB a scalar Arrow UDF is scan-speed columnar work per
    batch; the honest caveat stays in the plan: it breaks whole-stage
    codegen around itself, so built-ins still win where they exist —
    which is why these specific counts ALSO exist as pure-JVM
    expressions in text_stats."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def vowels(s: pd.Series) -> pd.Series:
        return s.str.count(r"[aeiouAEIOU]").astype("int64")

    @pandas_udf("long")
    def digits(s: pd.Series) -> pd.Series:
        return s.str.count(r"[0-9]").astype("int64")

    @pandas_udf("long")
    def spaces(s: pd.Series) -> pd.Series:
        return s.str.count(r" ").astype("int64")

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_exact"),
        vowels(F.col("text")).alias("n_vowels"),
        digits(F.col("text")).alias("n_digits"),
        spaces(F.col("text")).alias("n_spaces"),
    ).orderBy("doc_id")


from .dedup import ORACLE_SHINGLES as ORACLE_SHINGLES_TEXT


@query(
    "text_boilerplate_share",
    oracle=f"""
    WITH {{shingles}},
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM sh),
    df AS (SELECT s, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM sh GROUP BY 1),
    b AS (SELECT df.s FROM df, n WHERE 100 * df.df >= n.nd),
    per AS (
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler
        FROM sh LEFT JOIN b ON sh.s = b.s
        GROUP BY 1)
    SELECT doc_id, n_shingles, n_boiler,
           ROUND(CAST(n_boiler AS DOUBLE) / n_shingles, 6)
               AS boiler_share,
           CAST(CASE WHEN 20 * n_boiler >= n_shingles THEN 1 ELSE 0 END
                AS INT) AS is_boilerplate_heavy
    FROM per
    ORDER BY doc_id
    """.format(shingles=ORACLE_SHINGLES_TEXT),
)
def text_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X357: cross-document boilerplate detection — the Common-Crawl
    cleaning stage the within-doc repetition filter (X56) and whole-doc
    dedup can't do: shingles appearing in >= 1% of DISTINCT documents
    (headers, footers, navigation templates) are boilerplate, and each
    document reports the share of its shingles that are boilerplate
    plus a heavy flag (share >= 5%). Both thresholds are INTEGER
    cross-multiplications (100*df >= N_docs; 20*n_boiler >=
    n_shingles) — no float cut can drift, and both flag branches fire
    on the fixture (109/500 heavy, test-pinned). Plan: the corpus
    collapses to the distinct (doc, shingle) table ONCE (the dedup
    ladder's shingle machinery), df is one keyed agg, the boilerplate
    set joins back keyed on shingle (its size is bounded by the df
    threshold — high-df shingles are few by Zipf), and the per-doc
    rollup is keyed. At 100 TB every shuffle is on shingle or doc_id;
    the 1%-df set is the only broadcast and shrinks as N grows."""
    from .relational import _utc
    from .dedup import shingles

    _utc(spark)
    d = load_table(spark, sf_dir, "documents")
    sh = shingles(d).select("doc_id", F.col("s"))
    n = sh.agg(
        F.countDistinct("doc_id").cast("long").alias("nd")
    )
    df = sh.groupBy("s").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    b = (
        df.crossJoin(F.broadcast(n))
        .filter(100 * F.col("df") >= F.col("nd"))
        .select("s")
        .withColumn("is_b", F.lit(1))
    )
    per = (
        sh.join(b, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce("is_b", F.lit(0)))
            .cast("long")
            .alias("n_boiler"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        F.round(
            F.col("n_boiler").cast("double") / F.col("n_shingles"), 6
        ).alias("boiler_share"),
        (20 * F.col("n_boiler") >= F.col("n_shingles"))
        .cast("int")
        .alias("is_boilerplate_heavy"),
    ).orderBy("doc_id")
