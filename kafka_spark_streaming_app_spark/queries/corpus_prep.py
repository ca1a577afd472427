"""Corpus-preparation queries: line-level dedup, per-source caps,
deterministic global shuffle/sharding, and model-based quality
filtering — the last-mile steps between a curated document set and
training shards (north-star scope; the reference has no document
pipeline, SURVEY.md §2.8).

The corpus fixture has single-line documents, so the line-dedup query
synthesizes line structure deterministically on BOTH engines (the same
pattern the PII query uses to plant redactable spans): an 8-token line
split plus a boilerplate header/footer planted by ``doc_id`` modulus —
the oracle then proves removal AND reassembly byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (
    NORMALIZE_SQL,
    TOKENS_SQL,
    h60_sql,
    shingles_sql,
    tokens,
)
from ..operators.corpus import line_dedup
from ..operators.llmprep import global_shuffle, per_key_cap
from ..operators.text import QUALITY_WEIGHTS, quality_score
from ..registry import query
from ..sources.batch import load_table
from .feeds import materialize_feed

# --- line-level dedup (C4-style) ---------------------------------------------

_HEADER = "subscribe to our newsletter for daily updates"
_FOOTER = "all rights reserved terms of service apply"
_LINE_TOKENS = 8
_MAX_DOCS = 5

_WORDS = TOKENS_SQL.format(x="text")

_LINE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
),
synth AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 3 = 0 THEN ['{_HEADER}']
                 ELSE CAST([] AS VARCHAR[]) END)
           || list_transform(
                  range(1, len(w) + 1, {_LINE_TOKENS}),
                  s -> array_to_string(w[s:s + {_LINE_TOKENS} - 1], ' '))
           || (CASE WHEN doc_id % 5 = 0 THEN ['{_FOOTER}']
                    ELSE CAST([] AS VARCHAR[]) END) AS lines
    FROM toks
),
lx AS (
    SELECT doc_id,
           unnest(lines) AS line,
           generate_subscripts(lines, 1) AS li
    FROM synth
),
freq AS (
    SELECT line, count(DISTINCT doc_id) AS nd FROM lx GROUP BY line
)
SELECT lx.doc_id,
       count(*) AS n_lines,
       count(CASE WHEN nd < {_MAX_DOCS} THEN 1 END) AS n_kept,
       coalesce(
           string_agg(CASE WHEN nd < {_MAX_DOCS} THEN line END,
                      chr(10) ORDER BY li),
           '') AS cleaned_text
FROM lx JOIN freq USING (line)
GROUP BY lx.doc_id
"""


def _synth_lines(docs: DataFrame) -> DataFrame:
    """Plant deterministic line structure: optional boilerplate header
    (doc_id % 3) + 8-token content lines + optional footer (doc_id % 5),
    newline-joined. Mirrored exactly by the oracle's synth CTE."""
    did = F.col("doc_id")
    toks = tokens("text")
    n = F.size(toks)
    content = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(_LINE_TOKENS)),
        lambda s: F.concat_ws(" ", F.slice(toks, s, _LINE_TOKENS)),
    )
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.when(did % 3 == 0, F.array(F.lit(_HEADER))).otherwise(empty),
        content,
        F.when(did % 5 == 0, F.array(F.lit(_FOOTER))).otherwise(empty),
    )
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


@query("line_dedup_clean", _LINE_ORACLE)
def line_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level dedup over a corpus with planted boilerplate:
    any line present in ≥5 distinct documents (the planted header in
    every 3rd doc, footer in every 5th) is removed from all of them;
    the cleaned text is reassembled in line order and checked
    byte-for-byte cross-engine. Pre-explode rebalance per the
    corpus-op convention (the local fixture scans as one row group →
    one tokenize task; a many-file corpus scans wide already)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return line_dedup(_synth_lines(docs), max_docs=_MAX_DOCS)


# --- per-source cap ----------------------------------------------------------

_CAP = 15

_CAP_KEY = h60_sql("('cap|' || CAST(doc_id AS VARCHAR))")

_CAP_ORACLE = f"""
SELECT doc_id, source, sample_rank FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY {_CAP_KEY}, doc_id) AS sample_rank
    FROM documents
) WHERE sample_rank <= {_CAP}
"""


@query("source_cap_sample", _CAP_ORACLE)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain caps: keep at most 15 documents per source, selected by
    a deterministic hash order (stable under re-runs/repartitioning).
    Exact cap via a per-key ranked window — parallel across keys; the
    hot-key mitigation (hash-bucket pre-trim) is documented on the
    operator."""
    docs = load_table(spark, sf_dir, "documents")
    return per_key_cap(docs, key_col="source", cap=_CAP).select(
        "doc_id", "source", "sample_rank"
    )


# --- global shuffle + shards -------------------------------------------------

_SHARD_SIZE = 64

_SHUF_KEY = h60_sql("('shuf|' || CAST(doc_id AS VARCHAR))")

_SHUFFLE_ORACLE = f"""
SELECT doc_id, pos, (pos - 1) // {_SHARD_SIZE} AS shard FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY {_SHUF_KEY}, doc_id) AS pos
    FROM documents
)
"""


@query("global_shuffle_shards", _SHUFFLE_ORACLE)
def global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle + 64-doc shard
    assignment. The oracle's single global window is the SEMANTICS;
    the Spark plan is the two-level distributed prefix sum
    (range-partition by hash key → per-partition rank → tiny offset
    join) — no single-task global sort at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return global_shuffle(docs, shard_size=_SHARD_SIZE).select(
        "doc_id", "pos", "shard"
    )


# --- model-based quality filter ----------------------------------------------

_NORM_W = TOKENS_SQL.format(x="text")
_W = QUALITY_WEIGHTS

_QUALITY_ORACLE = f"""
WITH m AS (
    SELECT
        doc_id,
        len({_NORM_W}) AS n_tokens,
        length({NORMALIZE_SQL.format(x="text")}) AS n_chars,
        len(list_distinct({_NORM_W})) AS n_distinct,
        len(list_filter({_NORM_W},
            w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'that')))
            AS n_stop
    FROM documents
),
f AS (
    SELECT
        doc_id,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CASE WHEN n_tokens > 0
             THEN CAST(n_distinct AS DOUBLE) / n_tokens
             ELSE 0.0 END AS type_token_ratio,
        CASE WHEN n_tokens > 0
             THEN CAST(n_stop AS DOUBLE) / n_tokens
             ELSE 0.0 END AS stopword_ratio,
        CASE WHEN n_tokens > 0
             THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens
             ELSE 0.0 END AS avg_word_len
    FROM m
)
SELECT doc_id, n_tokens, type_token_ratio, stopword_ratio, avg_word_len,
       ({_W["bias"]}) + {_W["type_token_ratio"]} * type_token_ratio
           + {_W["stopword_ratio"]} * stopword_ratio
           + ({_W["avg_word_len_dev"]}) * (avg_word_len - 4.5)
               * (avg_word_len - 4.5)
           + ({_W["short_doc"]})
               * (CASE WHEN n_tokens < 20 THEN 1.0 ELSE 0.0 END)
           AS quality_logit,
       (({_W["bias"]}) + {_W["type_token_ratio"]} * type_token_ratio
           + {_W["stopword_ratio"]} * stopword_ratio
           + ({_W["avg_word_len_dev"]}) * (avg_word_len - 4.5)
               * (avg_word_len - 4.5)
           + ({_W["short_doc"]})
               * (CASE WHEN n_tokens < 20 THEN 1.0 ELSE 0.0 END)) >= 0
           AS keep
FROM f
"""


@query("quality_classifier", _QUALITY_ORACLE)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier (the shape of a
    CCNet-style trained filter): linear logit over diversity /
    stopword / word-length features, keep at logit ≥ 0. Linear (no
    sigmoid) so the doubles are bit-identical cross-engine; one
    codegen scan-projection, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs)


# --- bigram fluency score (statistical LM-lite) ------------------------------

_BIGRAM_FLUENCY_ORACLE = f"""
WITH grams AS (
    SELECT doc_id, unnest(
        CASE WHEN len({_WORDS}) >= 2 THEN
            list_transform(range(1, len({_WORDS})),
                i -> ({_WORDS})[i] || ' ' || ({_WORDS})[i + 1])
        ELSE [] END) AS gram
    FROM documents
),
freq AS (
    SELECT gram, count(*) AS cnt FROM grams GROUP BY gram
),
tot AS (
    SELECT count(*) AS total FROM grams
)
SELECT g.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(f.cnt) AS BIGINT) AS sum_gram_freq,
       CAST(sum(f.cnt) AS DOUBLE) / (count(*) * (SELECT total FROM tot))
           AS fluency
FROM grams g JOIN freq f USING (gram)
GROUP BY g.doc_id
"""


@query("bigram_fluency_score", _BIGRAM_FLUENCY_ORACLE)
def bigram_fluency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM-lite fluency scoring: each document's mean
    corpus-relative bigram frequency (high = the doc's word
    transitions are common corpus-wide; near-minimum = gibberish or
    very atypical text). The n-gram LM idea with division deferred so
    every aggregate is an exact INTEGER (sum of counts), and the only
    float op is one final division — bit-identical cross-engine with
    no stabilization machinery.

    Scale shape: one explode, then the per-gram corpus count attached
    with a count() OVER (PARTITION BY gram) window — ONE shuffle on
    the gram key replaces the aggregate-then-self-join shape (which
    shuffled the gram relation twice; measured 2.3 s → 1.4 s at
    sf0.1). Grams shuffle as 64-bit xxhash64 keys, never strings —
    the hash value stays inside the engine (only counts leave), so
    the oracle joins raw gram strings and stays hash-agnostic (same
    counts modulo 2^-64 collisions). The 1-row total is cross-joined
    in-plan (never a driver-side count). The pre-explode rebalance
    spreads tokenization off the single row-group the local fixture
    scans as one task; a many-file production corpus scans wide
    already (same convention as operators/corpus.py)."""
    from pyspark.sql import Window

    from ..functions.hashing import word_shingles

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = (
        docs.select(
            "doc_id", F.explode(word_shingles("text", 2)).alias("gram")
        )
        .select("doc_id", F.xxhash64("gram").alias("gram"))
        .localCheckpoint(eager=False)
    )
    total = grams.agg(F.count(F.lit(1)).alias("total"))
    withcnt = grams.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return (
        withcnt.crossJoin(F.broadcast(total))
        .groupBy("doc_id", "total")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cnt").alias("sum_gram_freq"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_gram_freq",
            (
                F.col("sum_gram_freq").cast("double")
                / (F.col("n_bigrams") * F.col("total"))
            ).alias("fluency"),
        )
    )


# --- incremental rollup maintenance ------------------------------------------

_ROLLUP_MERGE_ORACLE = """
SELECT
    date_trunc('hour', ts) AS hour,
    event_type,
    count(*) AS n_events,
    CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("incremental_rollup_merge", _ROLLUP_MERGE_ORACLE)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: the historical partition
    (event_id % 10 < 8) is rolled up to (hour, event_type) partial
    aggregates FIRST, the late-arriving delta batch separately, and
    the two partial-aggregate tables are merged by re-aggregation
    (counts add; decimal partial sums add exactly). The oracle is the
    from-scratch rollup over everything — proving merge == recompute,
    the property that lets a 100 TB pipeline maintain rollups by
    touching only new data."""
    events = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(hour, "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,4)")).alias("_psum"),
        )

    hist = partial(events.filter(F.col("event_id") % 10 < 8))
    delta = partial(events.filter(F.col("event_id") % 10 >= 8))
    return (
        hist.unionByName(delta)
        .groupBy("hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("_psum").cast("double").alias("total_value"),
        )
    )


# --- importance sampling by quality ------------------------------------------

_IMP_BUCKET = h60_sql("('imp|' || CAST(doc_id AS VARCHAR))") + " % 10000"

_IMPORTANCE_ORACLE = f"""
WITH scored AS (
    SELECT doc_id,
           CASE WHEN len({_WORDS}) > 0
                THEN CAST(len(list_distinct({_WORDS})) AS DOUBLE)
                     / len({_WORDS})
                ELSE 0.0 END AS quality
    FROM documents
)
SELECT doc_id, quality
FROM scored
WHERE {_IMP_BUCKET} < floor(10000.0 * least(1.0, quality * 1.5))
"""


@query("importance_sample_quality", _IMPORTANCE_ORACLE)
def importance_sample_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling for the training mix: keep probability
    proportional to a quality score (lexical diversity here), capped
    at 1 — high-quality documents are kept whole, low-quality ones are
    downweighted instead of hard-dropped. Deterministic hash-bucket
    acceptance (pure function of doc_id), so the sample is stable
    under repartitioning and re-runs; the score→threshold arithmetic
    is lone mults + least + floor (no FMA-contractible a+b*c), hence
    bit-identical cross-engine. One scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    quality = F.when(
        F.size(toks) > 0,
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))
    from ..functions.hashing import h60

    bucket = (
        h60(F.concat(F.lit("imp|"), F.col("doc_id").cast("string"))) % 10000
    )
    scored = docs.select("doc_id", quality.alias("quality"))
    return scored.filter(
        bucket
        < F.floor(
            F.lit(10000.0) * F.least(F.lit(1.0), F.col("quality") * F.lit(1.5))
        )
    )


# --- streaming quality filter (through the real engine) ----------------------

def _documents_as_stream(
    spark: SparkSession,
    sf_dir: str,
    schema: str = "doc_id long, text string",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """documents → JSON-lines files → schema'd file stream (one file
    per core so micro-batch parallelism isn't capped by file count —
    same convention as the events wire replay). The wire files carry
    (doc_id, text, source); ``schema`` picks which fields a query
    parses, and ``max_files_per_trigger`` splits the replay into
    several micro-batches for merge-independence proofs."""
    src = materialize_feed(
        spark, sf_dir, "doc_stream",
        lambda s, d: load_table(s, d, "documents").select(
            "doc_id", "text", "source"
        ),
        files=None,
    )
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    return reader.schema(schema).json(src)


@query("streaming_quality_filter", _QUALITY_ORACLE)
def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality classifier through the REAL streaming engine: the
    corpus replayed as a JSON file stream, scored row-by-row in
    append mode (stateless scan projection → streamable unchanged),
    drained to a memory sink. Hash-matched against the same batch
    oracle as `quality_classifier` — the engine's batch/streaming
    duality proven inside the driver's correctness gate, not just in
    pytest."""
    from .streaming import _run_to_table

    stream = quality_score(_documents_as_stream(spark, sf_dir))
    return _run_to_table(spark, stream, output_mode="append")


# --- per-language percentile quality filter ---------------------------------

_PCT_FILTER_ORACLE = f"""
WITH scored AS (
    SELECT * FROM ({_QUALITY_ORACLE})
),
ranked AS (
    SELECT s.doc_id, d.lang, s.quality_logit,
           percent_rank() OVER (PARTITION BY d.lang
                                ORDER BY s.quality_logit DESC, s.doc_id)
               AS pct_rank
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT doc_id, lang, quality_logit,
       round(pct_rank, 6) AS pct_rank,
       pct_rank <= 0.5 AS keep_top_half
FROM ranked
ORDER BY doc_id
"""


@query("quality_percentile_filter", _PCT_FILTER_ORACLE)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style RELATIVE quality thresholding: rank documents by
    the model-based quality logit WITHIN each language and keep the
    top half — per-group percentiles, not a global cutoff, so
    low-resource languages aren't wiped out by a threshold tuned on
    the dominant one. Ordering ties break on doc_id, making the
    percent_rank deterministic cross-engine (the logit itself is
    hash-proven by `quality_classifier`). One lang-keyed window; at
    100 TB the same rank comes from a per-language equidepth histogram
    instead of a full sort."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality_logit")
    langs = docs.select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.desc("quality_logit"), F.asc("doc_id")
    )
    return (
        scored.join(langs, "doc_id")
        .withColumn("pct_rank", F.percent_rank().over(w))
        .select(
            "doc_id",
            "lang",
            "quality_logit",
            F.round("pct_rank", 6).alias("pct_rank"),
            (F.col("pct_rank") <= 0.5).alias("keep_top_half"),
        )
        .orderBy("doc_id")
    )


# --- trigram Jelinek-Mercer perplexity (statistical LM) ----------------------

# Shared per-position log-prob fragment: every count is an exact
# integer from the trigram table itself (c12 = rows sharing (w1,w2)
# etc., so the model is self-consistent without sentence-boundary
# bookkeeping), the interpolated probability is a fixed-text rational
# of those counts, and ln is floor-quantized at 1e-9 (the km_survival
# libm discipline) so per-document sums are exact int64.
_TRI_LP_SQL = (
    "CAST(floor(1e9 * ln("
    "0.6 * (CAST(c123 AS DOUBLE) / c12)"
    " + 0.3 * (CAST(c23 AS DOUBLE) / c2)"
    " + 0.1 * (CAST(c3w AS DOUBLE) / tt))) AS BIGINT)"
)

_TRI_PPL_ORACLE = f"""
WITH w AS (
    SELECT doc_id, {_WORDS} AS ws FROM documents
),
tri AS (
    SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
    FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) r
    WHERE len(ws) >= 3
),
cnt AS (
    SELECT doc_id,
           count(*) OVER (PARTITION BY w1, w2, w3) AS c123,
           count(*) OVER (PARTITION BY w1, w2) AS c12,
           count(*) OVER (PARTITION BY w2, w3) AS c23,
           count(*) OVER (PARTITION BY w2) AS c2,
           count(*) OVER (PARTITION BY w3) AS c3w,
           count(*) OVER () AS tt
    FROM tri
),
lp AS (
    SELECT doc_id, {_TRI_LP_SQL} AS lp_q FROM cnt
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(lp_q) AS BIGINT) AS logprob_q,
       round(exp(0.0 - (CAST(sum(lp_q) AS DOUBLE) / 1e9) / count(*)), 6)
           AS perplexity
FROM lp GROUP BY doc_id
"""


@query("trigram_perplexity", _TRI_PPL_ORACLE)
def trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained Jelinek-Mercer
    interpolated trigram LM (λ = 0.6/0.3/0.1 over trigram/bigram/
    unigram relative frequencies) — the CCNet/KenLM-style fluency
    filter, upgraded from ``bigram_fluency_score``'s mean-frequency
    proxy to a real language-model score: low perplexity = common
    word transitions, high = gibberish/atypical text.

    Every count (trigram, its (w1,w2) context, the (w2,w3) suffix,
    the w2 and w3 marginals, and the total) is a window count over
    the SAME trigram relation, so the model is self-consistent with
    no boundary bookkeeping and all counts are exact integers; the
    only floats are the fixed-text interpolation and a 1e-9-quantized
    ln whose per-doc sums are exact int64. Grams shuffle as xxhash64
    keys, never strings (the bigram convention; the oracle partitions
    by raw strings and stays hash-agnostic). Scale shape: the lag
    window is one doc-keyed shuffle, the five count windows are five
    gram-keyed shuffles of (doc_id, 5×int64) — linear, skew-bounded
    by the hottest gram, with map-side-combinable final per-doc
    aggregation."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        toks.select(
            "doc_id",
            F.lag("w", 2).over(wdoc).alias("w1"),
            F.lag("w", 1).over(wdoc).alias("w2"),
            F.col("w").alias("w3"),
        )
        .filter(F.col("w1").isNotNull())
        .select(
            "doc_id",
            F.xxhash64("w1", "w2", "w3").alias("k123"),
            F.xxhash64("w1", "w2").alias("k12"),
            F.xxhash64("w2", "w3").alias("k23"),
            F.xxhash64("w2").alias("k2"),
            F.xxhash64("w3").alias("k3"),
        )
        .localCheckpoint(eager=False)
    )
    total = tri.agg(F.count(F.lit(1)).alias("tt"))
    cnt = tri.select(
        "doc_id",
        F.count(F.lit(1)).over(Window.partitionBy("k123")).alias("c123"),
        F.count(F.lit(1)).over(Window.partitionBy("k12")).alias("c12"),
        F.count(F.lit(1)).over(Window.partitionBy("k23")).alias("c23"),
        F.count(F.lit(1)).over(Window.partitionBy("k2")).alias("c2"),
        F.count(F.lit(1)).over(Window.partitionBy("k3")).alias("c3w"),
    ).crossJoin(F.broadcast(total))
    lp = cnt.select("doc_id", F.expr(_TRI_LP_SQL).alias("lp_q"))
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.sum("lp_q").cast("bigint").alias("logprob_q"),
        F.round(
            F.exp(
                -(F.sum("lp_q").cast("double") / F.lit(1e9))
                / F.count(F.lit(1))
            ),
            6,
        ).alias("perplexity"),
    )


# --- cross-source quantile normalization ------------------------------------

# Map every source's length distribution onto the POOLED distribution
# by rank: doc at within-source rank r (of n_s) takes the pooled value
# at index floor((2r−1)·N / (2·n_s)) + 1 (midpoint quantile). The
# quotient is a correctly-rounded double of exact-int operands: when
# the true quotient IS an integer the double equals it exactly, and
# when it isn't, it sits ≥ 1/(2·n_s) away from any integer — so the
# floor is deterministic with no boundary hazard. (A bare integer
# `/` is NOT portable: both engines return DOUBLE, and a fractional
# target would silently drop rows from the index equi-join — caught
# by the uneven-source regression test.) Ties break by doc_id.
_QNORM_SQL = """
WITH d AS (
    SELECT doc_id, source, n_chars FROM documents
),
ranked AS (
    SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY n_chars, doc_id) AS BIGINT) AS r,
           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
    FROM d
),
pooled AS (
    SELECT n_chars AS pooled_value,
           CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
               AS idx,
           CAST(count(*) OVER () AS BIGINT) AS n
    FROM d
)
SELECT k.doc_id, k.source, k.n_chars,
       p.pooled_value AS normalized_chars
FROM (
    SELECT doc_id, source, n_chars,
           CAST(floor((2.0 * r - 1.0) * (SELECT max(n) FROM pooled)
                      / (2.0 * ns)) AS BIGINT) + 1 AS target_idx
    FROM ranked
) k
JOIN pooled p ON p.idx = k.target_idx
"""


@query("quantile_normalize_sources", _QNORM_SQL)
def quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (the batch-effect
    correction step a multi-source corpus needs before
    length/quality thresholds can be shared): each document's
    n_chars is replaced by the POOLED distribution's value at the
    same midpoint quantile, so every source ends up with an
    identically-shaped length distribution and one global threshold
    means the same thing everywhere — scikit-learn's
    quantile_transform / limma's normalizeQuantiles, distributed.
    Two rank windows (per-source, pooled) + one equi-join on the
    EXACT integer target index floor((2r−1)N / 2n_s)+1; no float rank
    fractions anywhere, so determinism needs no quantization.
    Identical SQL text on both engines."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_QNORM_SQL)


# --- T5-style span corruption (masked-LM training pairs) ---------------------

# Deterministic span masking: position p STARTS a span when
# h60('t5|'doc'|'p) % 7 == 0 (≈14% of positions), with span length
# h60('t5len|'doc'|'p) % 3 + 1; a position is masked when any start
# within the previous two positions reaches it (pure window lags — no
# self-join). Sentinels <extra_id_k> are numbered per doc in position
# order, so (input, target) reassemble deterministically on both
# engines.
_T5_START = h60_sql(
    "('t5|' || CAST(doc_id AS VARCHAR) || '|' || CAST(pos AS VARCHAR))"
)
_T5_LEN = h60_sql(
    "('t5len|' || CAST(doc_id AS VARCHAR) || '|' || CAST(pos AS VARCHAR))"
)

_T5_ORACLE = f"""
WITH w AS (
    SELECT doc_id, {_WORDS} AS ws FROM documents
),
tok AS (
    SELECT doc_id, i AS pos, ws[i + 1] AS tok
    FROM w, LATERAL (SELECT unnest(range(0, len(ws))) AS i) r
),
h AS (
    SELECT doc_id, pos, tok,
           ({_T5_START} % 7 = 0) AS st,
           ({_T5_LEN} % 3 + 1) AS ln
    FROM tok
),
m AS (
    SELECT doc_id, pos, tok, st,
           (st
            OR coalesce(lag(st, 1) OVER dw
                        AND lag(ln, 1) OVER dw >= 2, false)
            OR coalesce(lag(st, 2) OVER dw
                        AND lag(ln, 2) OVER dw >= 3, false)) AS masked
    FROM h
    WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
),
s0 AS (
    SELECT doc_id, pos, tok, masked,
           (masked AND NOT coalesce(lag(masked, 1) OVER dw, false))
               AS span_start
    FROM m
    WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
),
sp AS (
    SELECT doc_id, pos, tok, masked, span_start,
           CAST(sum(CASE WHEN span_start THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS sid
    FROM s0
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       coalesce(string_agg(
           CASE WHEN NOT masked THEN tok
                WHEN span_start THEN '<extra_id_' || sid || '>'
           END, ' ' ORDER BY pos), '') AS input_text,
       coalesce(string_agg(
           CASE WHEN span_start THEN '<extra_id_' || sid || '> ' || tok
                WHEN masked THEN tok
           END, ' ' ORDER BY pos), '') AS target_text
FROM sp GROUP BY doc_id
"""


@query("t5_span_corruption", _T5_ORACLE)
def t5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: every document becomes a
    (input, target) denoising training pair — ~14% of token positions
    start a masked span of 1-3 tokens (deterministic h60 decisions,
    so the corpus regenerates identically on any engine/partitioning),
    masked spans collapse to <extra_id_k> sentinels in the input and
    expand after their sentinel in the target. Span membership is
    pure window lags over (doc, pos) — one doc-keyed shuffle, no
    self-join — and the pair strings reassemble with order-stable
    aggregation, so the generated TRAINING TEXT ITSELF hash-checks
    cross-engine. The span-corruption objective is the core data
    transform of encoder-decoder LLM pretraining (Raffel et al.)."""
    from pyspark.sql import Window

    from ..functions.hashing import h60, tokens

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    hs = h60(
        F.concat(
            F.lit("t5|"), F.col("doc_id").cast("string"),
            F.lit("|"), F.col("pos").cast("string"),
        )
    )
    hl = h60(
        F.concat(
            F.lit("t5len|"), F.col("doc_id").cast("string"),
            F.lit("|"), F.col("pos").cast("string"),
        )
    )
    h = tok.select(
        "doc_id", "pos", "tok",
        (hs % 7 == 0).alias("st"),
        (hl % 3 + 1).alias("ln"),
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    m = h.select(
        "doc_id", "pos", "tok", "st",
        (
            F.col("st")
            | F.coalesce(
                F.lag("st", 1).over(dw) & (F.lag("ln", 1).over(dw) >= 2),
                F.lit(False),
            )
            | F.coalesce(
                F.lag("st", 2).over(dw) & (F.lag("ln", 2).over(dw) >= 3),
                F.lit(False),
            )
        ).alias("masked"),
    )
    span_start = F.col("masked") & ~F.coalesce(
        F.lag("masked", 1).over(dw), F.lit(False)
    )
    cw = dw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sp = m.select(
        "doc_id", "pos", "tok", "masked",
        span_start.alias("span_start"),
    ).select(
        "doc_id", "pos", "tok", "masked", "span_start",
        (
            F.sum(F.when(F.col("span_start"), 1).otherwise(0)).over(cw) - 1
        ).cast("bigint").alias("sid"),
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("sid").cast("string"), F.lit(">")
    )
    piece_in = F.when(~F.col("masked"), F.col("tok")).when(
        F.col("span_start"), sentinel
    )
    piece_tgt = F.when(
        F.col("span_start"), F.concat(sentinel, F.lit(" "), F.col("tok"))
    ).when(F.col("masked"), F.col("tok"))

    def assemble(piece):
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            piece.isNotNull(),
                            F.struct(F.col("pos"), piece.alias("p")),
                        )
                    )
                ),
                lambda s: s["p"],
            ),
            " ",
        )

    return sp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_masked"),
        assemble(piece_in).alias("input_text"),
        assemble(piece_tgt).alias("target_text"),
    )


# --- preference-pair construction (DPO/RLHF data shape) -----------------------

_PREF_ORACLE = (
    "WITH q AS (" + _QUALITY_ORACLE + """),
ranked AS (
    SELECT d.source, d.doc_id, q.quality_logit,
           row_number() OVER (PARTITION BY d.source
               ORDER BY q.quality_logit DESC, d.doc_id) AS rbest,
           row_number() OVER (PARTITION BY d.source
               ORDER BY q.quality_logit ASC, d.doc_id) AS rworst
    FROM q JOIN documents d USING (doc_id)
),
best AS (
    SELECT source, doc_id AS chosen_doc,
           quality_logit AS chosen_logit
    FROM ranked WHERE rbest = 1
),
worst AS (
    SELECT source, doc_id AS rejected_doc,
           quality_logit AS rejected_logit
    FROM ranked WHERE rworst = 1
)
SELECT b.source, b.chosen_doc, w.rejected_doc,
       round(b.chosen_logit, 6) AS chosen_logit,
       round(w.rejected_logit, 6) AS rejected_logit,
       round(b.chosen_logit - w.rejected_logit, 6) AS margin
FROM best b JOIN worst w USING (source)
WHERE b.chosen_doc <> w.rejected_doc
"""
)


@query("preference_pairs", _PREF_ORACLE)
def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF data shape: within
    every source (the grouping a labeling pipeline would call a
    prompt/topic bucket), pair the highest-quality document (chosen)
    with the lowest (rejected) plus the preference margin;
    deterministic argmax/argmin via rank windows with doc_id
    tie-breaks. Degenerate single-document groups drop (chosen ==
    rejected teaches nothing). Two window passes over one scan —
    per-group state is two rows regardless of corpus size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "quality_logit")
    j = q.join(docs.select("doc_id", "source"), "doc_id")
    wb = Window.partitionBy("source").orderBy(
        F.desc("quality_logit"), F.asc("doc_id")
    )
    ww = Window.partitionBy("source").orderBy(
        F.asc("quality_logit"), F.asc("doc_id")
    )
    ranked = j.select(
        "source", "doc_id", "quality_logit",
        F.row_number().over(wb).alias("rbest"),
        F.row_number().over(ww).alias("rworst"),
    )
    best = ranked.filter(F.col("rbest") == 1).select(
        "source",
        F.col("doc_id").alias("chosen_doc"),
        F.col("quality_logit").alias("chosen_logit"),
    )
    worst = ranked.filter(F.col("rworst") == 1).select(
        "source",
        F.col("doc_id").alias("rejected_doc"),
        F.col("quality_logit").alias("rejected_logit"),
    )
    return (
        best.join(worst, "source")
        .filter(F.col("chosen_doc") != F.col("rejected_doc"))
        .select(
            "source",
            "chosen_doc",
            "rejected_doc",
            F.round("chosen_logit", 6).alias("chosen_logit"),
            F.round("rejected_logit", 6).alias("rejected_logit"),
            F.round(
                F.col("chosen_logit") - F.col("rejected_logit"), 6
            ).alias("margin"),
        )
    )


# --- Fill-in-the-middle (FIM) transform --------------------------------------

# Deterministic cut points: two h60 draws mod (n+1) give positions
# lo ≤ hi in [0, n]; prefix = w[1..lo], middle = w[lo+1..hi],
# suffix = w[hi+1..n]. PSM serialization (prefix, suffix, middle) is
# the training layout; SPM is the alternate sentinel order.
_FIM_A = h60_sql("('fim_a|' || CAST(doc_id AS VARCHAR))")
_FIM_B = h60_sql("('fim_b|' || CAST(doc_id AS VARCHAR))")

_FIM_ORACLE = f"""
WITH w AS (
    SELECT doc_id, {_WORDS} AS ws FROM documents
),
c AS (
    SELECT doc_id, ws, len(ws) AS n,
           {_FIM_A} % (len(ws) + 1) AS a,
           {_FIM_B} % (len(ws) + 1) AS b
    FROM w
),
k AS (
    SELECT doc_id, ws, n,
           least(a, b) AS lo, greatest(a, b) AS hi
    FROM c
),
p AS (
    SELECT doc_id, n, lo, hi,
           -- DuckDB: array_to_string([]) is NULL, not '' — coalesce
           -- or every boundary cut nullifies the whole serialization
           coalesce(array_to_string(ws[1:lo], ' '), '') AS prefix,
           coalesce(array_to_string(ws[lo + 1:hi], ' '), '') AS middle,
           coalesce(array_to_string(ws[hi + 1:n], ' '), '') AS suffix
    FROM k
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(lo AS BIGINT) AS cut_lo,
       CAST(hi AS BIGINT) AS cut_hi,
       CAST(hi - lo AS BIGINT) AS middle_len,
       '<fim_prefix>' || prefix || '<fim_suffix>' || suffix
           || '<fim_middle>' || middle AS psm_text,
       '<fim_prefix><fim_suffix>' || suffix || '<fim_middle>' || prefix
           || middle AS spm_text
FROM p
"""


@query("fim_transform", _FIM_ORACLE)
def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. / StarCoder data
    pipeline): each document is split at two deterministic h60 cut
    points into (prefix, middle, suffix) and re-serialized in BOTH
    standard sentinel layouts — PSM (<fim_prefix>P<fim_suffix>S
    <fim_middle>M) and the joined SPM variant the FIM paper recommends
    for inference-matched training. The cuts are pure per-row
    arithmetic over the token array (higher-order functions only — no
    explode, no shuffle at all: the plan is scan → project), so the
    transform streams at input bandwidth at any scale; determinism by
    h60 makes the corpus reproducible across engines/runs, which the
    DuckDB twin proves byte-for-byte on the serialized training text.
    Spark side slices with F.slice/concat_ws (a genuinely different
    implementation than the oracle's list slicing)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.hashing import h60

    ws = tokens("text")
    n = F.size(ws)
    a = h60(F.concat(F.lit("fim_a|"), F.col("doc_id").cast("string"))) % (
        n + 1
    )
    b = h60(F.concat(F.lit("fim_b|"), F.col("doc_id").cast("string"))) % (
        n + 1
    )
    c = docs.select(
        "doc_id",
        ws.alias("ws"),
        n.alias("n"),
        F.least(a, b).alias("lo"),
        F.greatest(a, b).alias("hi"),
    )
    lo, hi, nn = F.col("lo"), F.col("hi"), F.col("n")
    prefix = F.concat_ws(" ", F.slice("ws", 1, lo))
    middle = F.concat_ws(" ", F.slice("ws", lo + 1, hi - lo))
    suffix = F.concat_ws(" ", F.slice("ws", hi + 1, nn - hi))
    return c.select(
        "doc_id",
        nn.cast("bigint").alias("n_tokens"),
        lo.cast("bigint").alias("cut_lo"),
        hi.cast("bigint").alias("cut_hi"),
        (hi - lo).cast("bigint").alias("middle_len"),
        F.concat(
            F.lit("<fim_prefix>"), prefix,
            F.lit("<fim_suffix>"), suffix,
            F.lit("<fim_middle>"), middle,
        ).alias("psm_text"),
        F.concat(
            F.lit("<fim_prefix><fim_suffix>"), suffix,
            F.lit("<fim_middle>"), prefix, middle,
        ).alias("spm_text"),
    )


# --- Temperature-scaled mixture sampling weights -----------------------------

_MIX_Q = ",\n           ".join(
    f"CAST(floor(1000000000.0 * exp({a} * ln(CAST(n_tokens AS DOUBLE)"
    f" / CAST(tn AS DOUBLE)))) AS BIGINT) AS q{tag}"
    for a, tag in (("0.3", "03"), ("0.7", "07"), ("1.0", "10"))
)

_MIX_ORACLE = f"""
WITH t AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_WORDS})) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS tn FROM t
),
q AS (
    SELECT source, n_docs, n_tokens, tn,
           {_MIX_Q}
    FROM t, tot
),
d AS (
    SELECT CAST(sum(q03) AS BIGINT) AS d03,
           CAST(sum(q07) AS BIGINT) AS d07,
           CAST(sum(q10) AS BIGINT) AS d10
    FROM q
)
SELECT q.source, q.n_docs, q.n_tokens,
       round(CAST(q.n_tokens AS DOUBLE) / CAST(q.tn AS DOUBLE), 6)
           AS token_share,
       round(CAST(q.q03 AS DOUBLE) / CAST(d.d03 AS DOUBLE), 6) AS w_alpha_03,
       round(CAST(q.q07 AS DOUBLE) / CAST(d.d07 AS DOUBLE), 6) AS w_alpha_07,
       round(CAST(q.q10 AS DOUBLE) / CAST(d.d10 AS DOUBLE), 6) AS w_alpha_10,
       round(10000000.0 * (CAST(q.q03 AS DOUBLE) / CAST(d.d03 AS DOUBLE))
             / CAST(q.n_tokens AS DOUBLE), 6) AS epochs_alpha_03
FROM q, d
ORDER BY q.source
"""


@query("mixture_sampling_weights", _MIX_ORACLE)
def mixture_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixture sampling weights — the
    multilingual/multi-source rebalancing rule (mT5's α-sampling,
    p_s ∝ (n_s/N)^α): α=1 reproduces proportional sampling, smaller α
    flattens the mix toward rare sources. Emits the weight per source
    at α ∈ {0.3, 0.7, 1.0} plus the expected EPOCHS each source's
    tokens are consumed at a 10M-token budget — epochs ≫ 1 on a rare
    source is the overfitting/memorization alarm the data-mix designer
    watches (and the reason α is capped in practice). Token counts are
    row-local array sizes (no explode); each (n_s/N)^α is
    floor-quantized at 1e-9 so the normalizing sum is EXACT integer
    arithmetic — determinism rests only on the documented shared-libm
    exp/ln assumption (mlstats.py), never on float sum order.
    Spark side is a separate DataFrame implementation (the oracle's
    tokenizer is DuckDB-specific); numpy pin in
    tests/test_properties.py."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens"),
    )
    tot = t.agg(F.sum("n_tokens").cast("bigint").alias("tn"))
    share = F.col("n_tokens").cast("double") / F.col("tn").cast("double")

    def quant(alpha: float) -> F.Column:
        return F.floor(
            F.lit(1000000000.0) * F.exp(F.lit(alpha) * F.log(share))
        ).cast("bigint")

    q = t.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens", "tn",
        quant(0.3).alias("q03"),
        quant(0.7).alias("q07"),
        quant(1.0).alias("q10"),
    ).localCheckpoint(eager=False)
    d = q.agg(
        F.sum("q03").cast("bigint").alias("d03"),
        F.sum("q07").cast("bigint").alias("d07"),
        F.sum("q10").cast("bigint").alias("d10"),
    )
    w03 = F.col("q03").cast("double") / F.col("d03").cast("double")
    return (
        q.crossJoin(F.broadcast(d))
        .select(
            "source", "n_docs", "n_tokens",
            F.round(share, 6).alias("token_share"),
            F.round(w03, 6).alias("w_alpha_03"),
            F.round(
                F.col("q07").cast("double") / F.col("d07").cast("double"), 6
            ).alias("w_alpha_07"),
            F.round(
                F.col("q10").cast("double") / F.col("d10").cast("double"), 6
            ).alias("w_alpha_10"),
            F.round(
                F.lit(10000000.0) * w03 / F.col("n_tokens").cast("double"), 6
            ).alias("epochs_alpha_03"),
        )
        .orderBy("source")
    )


# --- Corpus datasheet (datasheet-for-datasets rollup) ------------------------

# The aggregation half is ENGINE-PORTABLE SQL shared verbatim by both
# sides (Spark runs it over a temp view of the DataFrame-computed
# base; DuckDB over its own tokenizer CTE) — the grouping-set algebra
# is literally the same text.
_DATASHEET_AGG = """
SELECT
    coalesce(lang, 'ALL') AS lang,
    coalesce(source, 'ALL') AS source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
    CAST(sum(n_chars) AS BIGINT) AS total_chars,
    CAST(min(n_tokens) AS BIGINT) AS min_tokens,
    CAST(max(n_tokens) AS BIGINT) AS max_tokens,
    round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS mean_tokens,
    round(CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6)
        AS chars_per_token,
    round(CAST(sum(n_distinct) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE),
          6) AS mean_ttr
FROM {base}
GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
"""

_DATASHEET_ORACLE = f"""
WITH base AS (
    SELECT lang, source,
           len({_WORDS}) AS n_tokens,
           n_chars,
           len(list_distinct({_WORDS})) AS n_distinct
    FROM documents
)
{_DATASHEET_AGG.format(base="base")}
"""


@query("dataset_datasheet", _DATASHEET_ORACLE)
def dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet (the 'datasheet for datasets' / dataset-card
    summary a released training corpus ships with): doc counts, token
    and char totals, token-length min/mean/max, chars-per-token, and
    mean type-token ratio at EVERY reporting granularity — per
    (lang × source), per lang, per source, and the corpus total — in
    ONE scan via GROUPING SETS (four aggregation levels share the
    partial aggregates; a naive version runs four scans). NULL
    grouping keys render as 'ALL' so the sheet is directly
    publishable. The datasheet is the artifact every mix decision in
    mixture_sampling_weights / language_rebalance reads first.
    The Spark base is DataFrame ops (tokens/array_distinct); the
    grouping-set aggregation is the identical SQL text on both
    engines, and a pandas pivot pin covers the algebra
    (tests/test_properties.py)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        F.size(tokens("text")).alias("n_tokens"),
        "n_chars",
        F.size(F.array_distinct(tokens("text"))).alias("n_distinct"),
    )
    view = "datasheet_base_tmp"
    base.createOrReplaceTempView(view)
    return spark.sql(_DATASHEET_AGG.format(base=view))


# --- Contrastive training pairs (SimCSE-style views + hard negatives) --------

_CONTRAST_SH_N = 3

_CONTRAST_ORACLE = f"""
WITH w AS (
    SELECT doc_id, {_WORDS} AS ws FROM documents
),
crops AS (
    SELECT doc_id, len(ws) AS n,
           coalesce(array_to_string(
               ws[1:CAST(ceil(2.0 * len(ws) / 3.0) AS BIGINT)], ' '), '')
               AS anchor_text,
           coalesce(array_to_string(
               ws[(len(ws) // 3) + 1:len(ws)], ' '), '') AS positive_text
    FROM w
),
ds AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest({{shingles}}) AS shingle
        FROM documents
    )
),
shared AS (
    SELECT a.doc_id AS doc_id, b.doc_id AS other_id,
           CAST(count(*) AS BIGINT) AS shared_shingles
    FROM ds a JOIN ds b
      ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
),
best AS (
    SELECT doc_id, other_id AS hard_negative_id, shared_shingles
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY shared_shingles DESC, other_id) AS rn
        FROM shared
    ) WHERE rn = 1
)
SELECT c.doc_id,
       CAST(c.n AS BIGINT) AS n_tokens,
       c.anchor_text, c.positive_text,
       b.hard_negative_id,
       coalesce(b.shared_shingles, 0) AS shared_shingles
FROM crops c LEFT JOIN best b USING (doc_id)
""".format(shingles="{SHINGLES}")


@query(
    "contrastive_pairs",
    _CONTRAST_ORACLE.replace(
        "{SHINGLES}", shingles_sql("text", _CONTRAST_SH_N)
    ),
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-learning training pairs (the SimCSE / dense-
    retriever data shape): each document yields two overlapping
    deterministic crops — anchor = first ⌈2n/3⌉ tokens, positive =
    last ⌈2n/3⌉ tokens (≥1/3 overlap keeps them semantically tied) —
    plus a mined HARD NEGATIVE: the other document sharing the most
    distinct 3-gram shingles (ties to the smallest id). Hard negatives
    are what make contrastive embedding training work (random
    negatives are too easy); lexical-overlap mining is the standard
    BM25-negative recipe in its exactly-checkable form. Dataflow:
    crops are scan-local slice arithmetic; mining reuses the inverted
    -index shape (distinct (doc, shingle) → shingle-keyed pair counts
    → per-doc rank-1 window). At 100 TB the pair space is restricted
    by the MinHash-LSH candidate generator first (dedup_minhash_lsh)
    and the argmax runs on candidates — identical downstream algebra.
    Documents sharing no shingle keep NULL negatives (LEFT join — no
    silent drops)."""
    from pyspark.sql import Window

    from ..functions.hashing import word_shingles

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    ws = tokens("text")
    n = F.size(ws)
    crops = docs.select(
        "doc_id",
        n.alias("n"),
        F.concat_ws(
            " ", F.slice(ws, 1, F.ceil(2.0 * n / 3.0).cast("int"))
        ).alias("anchor_text"),
        F.concat_ws(
            " ",
            F.slice(ws, (n / 3).cast("int") + 1, n - (n / 3).cast("int")),
        ).alias("positive_text"),
    )
    ds = (
        docs.select(
            "doc_id",
            F.explode(word_shingles("text", _CONTRAST_SH_N)).alias(
                "shingle"
            ),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    a, b = ds.alias("a"), ds.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("other_id"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_shingles"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.desc("shared_shingles"), F.asc("other_id")
    )
    best = (
        shared.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("other_id").alias("hard_negative_id"),
            "shared_shingles",
        )
    )
    return crops.join(best, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        "anchor_text",
        "positive_text",
        "hard_negative_id",
        F.coalesce("shared_shingles", F.lit(0)).alias("shared_shingles"),
    )


# --- Kneser-Ney bigram LM perplexity (per-language models) -------------------

# Absolute discount D = 0.75 (exactly representable in binary — the
# arithmetic below has no rounding surprises). All model quantities
# are exact integer counts over the bigram relation; each bigram
# TYPE's log-prob is 1e-9 floor-quantized, weighted by its occurrence
# count (exact int64), and only the final exp/divide is float.
_KN_D = 0.75

_KN_LP = (
    "CAST(floor(1e9 * ln("
    "(CAST(c12 AS DOUBLE) - 0.75) / c1"
    " + 0.75 * nfw / CAST(c1 AS DOUBLE)"
    "   * (CAST(nbw AS DOUBLE) / b)"
    ")) AS BIGINT)"
)
_MLE_LP = "CAST(floor(1e9 * ln(CAST(c12 AS DOUBLE) / c1)) AS BIGINT)"

_KN_ORACLE = f"""
WITH w AS (
    SELECT doc_id, lang, {_WORDS} AS ws FROM documents
),
bg AS (
    SELECT lang, ws[i] AS w1, ws[i + 1] AS w2
    FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) r
    WHERE len(ws) >= 2
),
t12 AS (
    SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12
    FROM bg GROUP BY 1, 2, 3
),
t1 AS (
    SELECT lang, w1,
           CAST(sum(c12) AS BIGINT) AS c1,
           CAST(count(*) AS BIGINT) AS nfw
    FROM t12 GROUP BY 1, 2
),
tbw AS (
    SELECT lang, w2, CAST(count(*) AS BIGINT) AS nbw
    FROM t12 GROUP BY 1, 2
),
tot AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS b FROM t12 GROUP BY 1
),
lp AS (
    SELECT t12.lang, t12.c12,
           {_KN_LP} AS lp_kn_q,
           {_MLE_LP} AS lp_mle_q
    FROM t12
    JOIN t1 ON t1.lang = t12.lang AND t1.w1 = t12.w1
    JOIN tbw ON tbw.lang = t12.lang AND tbw.w2 = t12.w2
    JOIN tot ON tot.lang = t12.lang
)
SELECT lang,
       CAST(sum(c12) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS bigram_types,
       round(exp(0.0 - CAST(sum(c12 * lp_kn_q) AS DOUBLE) / 1e9
                       / sum(c12)), 6) AS pp_kneser_ney,
       round(exp(0.0 - CAST(sum(c12 * lp_mle_q) AS DOUBLE) / 1e9
                       / sum(c12)), 6) AS pp_mle
FROM lp GROUP BY lang
ORDER BY lang
"""


@query("kneser_ney_perplexity", _KN_ORACLE)
def kneser_ney_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE bigram language models with Kneser-Ney smoothing —
    the modern n-gram smoother (Chen & Goodman's winner, the KenLM
    default) whose continuation probability P_cont(w) ∝ "how many
    distinct contexts does w follow" famously fixes the
    'san francisco' pathology: frequent-but-context-bound words stop
    leaking probability into unseen contexts. Completes the LM family:
    bigram_fluency (mean frequency), trigram_perplexity (Jelinek-
    Mercer interpolation), KN (absolute discounting + continuation).

    P(w₂|w₁) = (c₁₂−D)/c₁ + D·N₁₊(w₁·)/c₁ · N₁₊(·w₂)/B at D = 0.75
    (exact binary fraction). Every count is an aggregation over the
    bigram-type relation (types, not positions — the log-prob is
    computed once per TYPE and weighted by its exact count, so the
    expensive ln runs |types| times, not |corpus| times: the standard
    LM-scoring optimization, visible in the plan). One explode + four
    type-keyed aggregations + three joins back; per-language grouping
    keeps every relation lang-sharded. pp_mle rides along as the
    unsmoothed contrast (KN > MLE perplexity on self-evaluation, the
    discount's held-out insurance premium — pinned). Pure-Python KN
    pin in tests/test_properties.py."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select(
        "doc_id", "lang", F.posexplode(tokens("text")).alias("pos", "w")
    )
    from pyspark.sql import Window

    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select(
            "lang",
            F.lag("w", 1).over(wdoc).alias("w1"),
            F.col("w").alias("w2"),
        )
        .filter(F.col("w1").isNotNull())
    )
    t12 = (
        bg.groupBy("lang", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .localCheckpoint(eager=False)
    )
    t1 = t12.groupBy("lang", "w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("nfw"),
    )
    tbw = t12.groupBy("lang", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nbw")
    )
    tot = t12.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("b")
    )
    c12d = F.col("c12").cast("double")
    c1d = F.col("c1").cast("double")
    p_kn = (c12d - _KN_D) / c1d + _KN_D * F.col("nfw") / c1d * (
        F.col("nbw").cast("double") / F.col("b")
    )
    lp = (
        t12.join(t1, ["lang", "w1"])
        .join(tbw, ["lang", "w2"])
        .join(tot, ["lang"])
        .select(
            "lang",
            "c12",
            F.floor(F.lit(1e9) * F.log(p_kn)).cast("bigint").alias(
                "lp_kn_q"
            ),
            F.floor(F.lit(1e9) * F.log(c12d / c1d))
            .cast("bigint")
            .alias("lp_mle_q"),
        )
    )
    s_kn = F.sum(F.col("c12") * F.col("lp_kn_q")).cast("double")
    s_mle = F.sum(F.col("c12") * F.col("lp_mle_q")).cast("double")
    nb = F.sum("c12")
    return (
        lp.groupBy("lang")
        .agg(
            nb.cast("bigint").alias("n_bigrams"),
            F.count(F.lit(1)).cast("bigint").alias("bigram_types"),
            F.round(F.exp(-s_kn / F.lit(1e9) / nb), 6).alias(
                "pp_kneser_ney"
            ),
            F.round(F.exp(-s_mle / F.lit(1e9) / nb), 6).alias("pp_mle"),
        )
        .orderBy("lang")
    )


# --- Skip-gram pair generation with negative sampling ------------------------

# word2vec's data pipeline, exactly reproducible: Mikolov frequency
# subsampling P(keep) = √(t/z) + t/z at t = 1e-3 (1e6-floor-quantized
# against an h60 coin), ±2 context windows, and k=2 negatives per
# positive drawn from the unigram^0.75 distribution via deterministic
# h60 draws mapped through the quantized cumulative weight table.
_SG_T = 0.001
_SG_NEG = 2

_SG_KEEP = h60_sql(
    "('ss|' || CAST(doc_id AS STRING) || '|' || CAST(pos AS STRING))"
)
_SG_DRAW = h60_sql(
    "('neg|' || CAST(doc_id AS STRING) || '|' || CAST(pos AS STRING)"
    " || '|' || CAST(o AS STRING) || '|' || CAST(j AS STRING))"
)

_SG_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, i - 1 AS pos, ws[i] AS w
    FROM (SELECT doc_id, {_WORDS} AS ws FROM documents),
         LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) r
),
freq AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_all FROM freq),
keepp AS (
    SELECT w, c,
           least(CAST(1000000 AS BIGINT),
                 CAST(floor(1000000.0 *
                     (sqrt({_SG_T} * t_all / c) + {_SG_T} * t_all / c))
                 AS BIGINT)) AS keep_q
    FROM freq, tot
),
w75 AS (
    SELECT w, CAST(floor(1000000.0 * exp(0.75 * ln(CAST(c AS DOUBLE))))
                   AS BIGINT) AS wq
    FROM freq
),
cum AS (
    SELECT w, wq,
           CAST(coalesce(sum(wq) OVER (ORDER BY w
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS lo,
           CAST(sum(wq) OVER (ORDER BY w
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
    FROM w75
),
wtot AS (SELECT CAST(sum(wq) AS BIGINT) AS tw FROM w75),
centers AS (
    SELECT t.doc_id, t.pos, t.w AS center
    FROM tok t JOIN keepp k ON k.w = t.w
    WHERE t.doc_id % 10 = 0
      AND ({_SG_KEEP} % 1000000) < k.keep_q
),
pairs AS (
    SELECT c.doc_id, c.pos, c.center, o.o, ct.w AS context
    FROM centers c,
         LATERAL (SELECT unnest([-2, -1, 1, 2]) AS o) o,
         tok ct
    WHERE ct.doc_id = c.doc_id AND ct.pos = c.pos + o.o
),
pos_rows AS (
    SELECT doc_id, pos, center, o, context,
           CAST(1 AS INTEGER) AS label, CAST(0 AS INTEGER) AS sample_idx
    FROM pairs
),
neg_rows AS (
    SELECT p.doc_id, p.pos, p.center, p.o, cum.w AS context,
           CAST(0 AS INTEGER) AS label, CAST(j.j AS INTEGER) AS sample_idx
    FROM pairs p,
         LATERAL (SELECT unnest(range(1, {_SG_NEG} + 1)) AS j) j,
         wtot, cum
    WHERE ({_SG_DRAW} % wtot.tw) >= cum.lo
      AND ({_SG_DRAW} % wtot.tw) < cum.hi
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, center,
       CAST(o AS BIGINT) AS offset, context, label, sample_idx
FROM (SELECT * FROM pos_rows UNION ALL SELECT * FROM neg_rows)
"""


@query("skipgram_negative_sampling", _SG_ORACLE)
def skipgram_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec training-pair generation, end to end: Mikolov
    frequency subsampling (P(keep) = √(t/z) + t/z, t = 1e-3 — the
    step that deletes most stopword centers), ±2-token context
    windows, and 2 negatives per positive drawn ∝ unigram^0.75 (the
    famous smoothing exponent) — all decisions by quantized h60
    coins, so the EXACT (center, context, label) training set
    regenerates identically on any engine/partitioning and the
    driver hashes the training data itself. Corpus statistics
    (frequencies, keep probabilities, the ^0.75 cumulative table)
    come from the FULL corpus; pair emission here samples doc_id%10
    docs to keep the demo output bounded (the plan is
    slice-independent). Dataflow: token explode, broadcast vocab
    joins, a ±2 LATERAL offset join back to the token table
    (doc+pos equi-keys — co-partitioned, no window needed), and the
    negative draw maps through a cumulative-range join against the
    vocab-sized weight table (broadcast here; bucketed range join at
    a 10M-type vocab). Pure-Python pin replays every coin in
    tests/test_properties.py."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    ).localCheckpoint(eager=False)
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = freq.agg(F.sum("c").cast("bigint").alias("t_all"))
    keepp = freq.crossJoin(F.broadcast(tot)).select(
        "w",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.floor(
                1000000.0
                * (
                    F.sqrt(
                        F.lit(_SG_T) * F.col("t_all") / F.col("c")
                    )
                    + F.lit(_SG_T) * F.col("t_all") / F.col("c")
                )
            ).cast("bigint"),
        ).alias("keep_q"),
    )
    w75 = freq.select(
        "w",
        F.floor(
            1000000.0 * F.exp(0.75 * F.log(F.col("c").cast("double")))
        )
        .cast("bigint")
        .alias("wq"),
    )
    from pyspark.sql import Window

    worder = Window.orderBy("w")
    cum = w75.select(
        "w",
        F.coalesce(
            F.sum("wq").over(
                worder.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("lo"),
        F.sum("wq")
        .over(worder.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("hi"),
    )
    wtot = w75.agg(F.sum("wq").cast("bigint").alias("tw"))
    keep_hash = h60(
        F.concat(
            F.lit("ss|"),
            F.col("doc_id").cast("string"),
            F.lit("|"),
            F.col("pos").cast("string"),
        )
    )
    centers = (
        tok.filter(F.col("doc_id") % 10 == 0)
        .join(F.broadcast(keepp), "w")
        .filter(keep_hash % 1000000 < F.col("keep_q"))
        .select("doc_id", "pos", F.col("w").alias("center"))
    )
    ctx_side = tok.select(
        F.col("doc_id").alias("cdoc"),
        F.col("pos").alias("cpos"),
        F.col("w").alias("context"),
    )
    pairs = (
        centers.select(
            "doc_id",
            "pos",
            "center",
            F.explode(F.array(F.lit(-2), F.lit(-1), F.lit(1), F.lit(2)))
            .alias("o"),
        )
        .join(
            ctx_side,
            (F.col("cdoc") == F.col("doc_id"))
            & (F.col("cpos") == F.col("pos") + F.col("o")),
        )
        .select("doc_id", "pos", "center", "o", "context")
        .localCheckpoint(eager=False)
    )
    pos_rows = pairs.select(
        "doc_id", "pos", "center", "o", "context",
        F.lit(1).cast("int").alias("label"),
        F.lit(0).cast("int").alias("sample_idx"),
    )
    draw_hash = h60(
        F.concat(
            F.lit("neg|"),
            F.col("doc_id").cast("string"),
            F.lit("|"),
            F.col("pos").cast("string"),
            F.lit("|"),
            F.col("o").cast("string"),
            F.lit("|"),
            F.col("j").cast("string"),
        )
    )
    neg_rows = (
        pairs.select(
            "doc_id", "pos", "center", "o",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("j"),
        )
        .crossJoin(F.broadcast(wtot))
        .withColumn("draw", draw_hash % F.col("tw"))
        .join(
            F.broadcast(cum),
            (F.col("draw") >= F.col("lo")) & (F.col("draw") < F.col("hi")),
        )
        .select(
            "doc_id", "pos", "center", "o",
            F.col("w").alias("context"),
            F.lit(0).cast("int").alias("label"),
            F.col("j").cast("int").alias("sample_idx"),
        )
    )
    return pos_rows.unionByName(neg_rows).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "center",
        F.col("o").cast("bigint").alias("offset"),
        "context",
        "label",
        "sample_idx",
    )


# --- DSIR data selection ----------------------------------------------------

_DSIR_B = 1024  # hashed-feature buckets

_DSIR_ORACLE = f"""
WITH w AS (
    SELECT doc_id, lang, {TOKENS_SQL.format(x="text")} AS ws FROM documents
),
bg AS (
    SELECT doc_id, lang,
           {h60_sql("ws[i] || '|' || ws[i + 1]")} % {_DSIR_B} AS feat
    FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) r
),
tgt AS (
    SELECT feat, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY feat
),
srcc AS (
    SELECT feat, count(*) AS cs FROM bg GROUP BY feat
),
tot AS (
    SELECT (SELECT count(*) FROM bg WHERE lang = 'en') AS nt,
           (SELECT count(*) FROM bg) AS ns
),
term AS (
    SELECT s.feat,
           CAST(floor(1000000.0 * ln(
               (CAST(coalesce(t.ct, 0) + 1 AS DOUBLE) * (ns + {_DSIR_B}))
               / (CAST(s.cs + 1 AS DOUBLE) * (nt + {_DSIR_B}))
           )) AS BIGINT) AS q
    FROM srcc s LEFT JOIN tgt t ON t.feat = s.feat, tot
),
per_doc AS (
    SELECT bg.doc_id, count(*) AS n_feats,
           CAST(sum(term.q) AS BIGINT) AS qsum
    FROM bg JOIN term ON term.feat = bg.feat
    GROUP BY bg.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
       round(CAST(p.qsum AS DOUBLE) / 1000000.0, 6) AS dsir_weight
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


@query("dsir_importance_weights", _DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): per-document
    importance weight = log-likelihood ratio of the document under
    hashed-bigram unigram models of a TARGET distribution (here the
    'en' slice — the curated corpus stand-in) vs the raw SOURCE pool.
    Resampling the pool by these weights shifts it toward the target
    domain — the standard pretraining-mix selection tool alongside the
    quality-proportional `importance_sample_quality` (which scores
    documents in isolation; DSIR scores them against a target
    DISTRIBUTION).

    Dataflow: word bigrams are scan-local zip_with slices hashed into
    {_DSIR_B} buckets (the hashing trick — the model is two
    {_DSIR_B}-row count tables at ANY corpus size); the add-1-smoothed
    per-feature log ratio ln((ct+1)(Ns+B) / ((cs+1)(Nt+B))) is
    computed ONCE per feature bucket (≤ {_DSIR_B} ln calls, each on an
    exact integer-ratio double, floor-quantized at 1e-6 — the BM25/PMI
    discipline) and broadcast-joined back to doc features, so the
    per-doc weight is an exact int64 sum. Documents with no bigram
    keep a NULL weight via LEFT join (no silent drops)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", "lang", tokens("text").alias("ws"))
    nw = F.size("ws")
    bigrams = F.when(
        nw >= 2,
        F.transform(
            F.sequence(F.lit(1), nw - 1),
            lambda i: F.concat(
                F.element_at("ws", i), F.lit("|"), F.element_at("ws", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from ..functions.hashing import h60

    bg = w.select(
        "doc_id", "lang", F.explode(bigrams).alias("bgram")
    ).select(
        "doc_id", "lang", (h60(F.col("bgram")) % _DSIR_B).alias("feat")
    ).localCheckpoint(eager=False)
    tgt = bg.filter(F.col("lang") == "en").groupBy("feat").agg(
        F.count(F.lit(1)).alias("ct")
    )
    srcc = bg.groupBy("feat").agg(F.count(F.lit(1)).alias("cs"))
    tot = bg.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
        F.count(F.lit(1)).alias("ns"),
    )
    term = (
        srcc.join(tgt, "feat", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "feat",
            F.floor(
                1000000.0
                * F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        * (F.col("ns") + _DSIR_B)
                    )
                    / (
                        (F.col("cs") + 1).cast("double")
                        * (F.col("nt") + _DSIR_B)
                    )
                )
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    per_doc = (
        bg.join(F.broadcast(term), "feat")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("q").cast("bigint").alias("qsum"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.round(F.col("qsum").cast("double") / 1000000.0, 6).alias(
                "dsir_weight"
            ),
        )
    )
