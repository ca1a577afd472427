"""Training-data preparation operators: chunking, PII scrubbing,
deterministic dataset splitting (north-star scope — the reference has
no document pipeline at all; these are the ops a pretraining corpus
build runs after curation, SURVEY.md §2.8 extension table).

All three are pure scan-projections (chunking adds one bounded
explode) built from JVM expressions — no shuffle, no UDFs, full
whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60, tokens
from .skew import hist_running_totals

# Shared Java/RE2-compatible patterns (no lookaround — both Spark's
# java.util.regex and DuckDB's RE2 must agree):
EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
URL_PATTERN = r"https?://[^\s]+"
PHONE_PATTERN = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Fixed-size token-window chunking with overlap — the unit of
    work for embedding/context-window pipelines.

    One row per (doc, chunk): chunk starts are ``1, 1+stride, …`` with
    ``stride = chunk_tokens - overlap``, covering every token (the
    last chunk may be short; a doc shorter than one chunk yields
    exactly one chunk). The token array is built once per row and the
    explode fan-out is ``n_tokens/stride`` — row-local, no shuffle;
    downstream owns the partitioning decision.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must be smaller than chunk_tokens={chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    n = F.size("toks")
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    return (
        df.select(F.col(id_col), tokens(text_col).alias("toks"))
        .select(id_col, "toks", F.explode(starts).alias("start"))
        .select(
            id_col,
            ((F.col("start") - 1) / F.lit(stride))
            .cast("bigint")
            .alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice("toks", F.col("start"), chunk_tokens)
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens), F.size("toks") - F.col("start") + 1
            )
            .cast("bigint")
            .alias("n_chunk_tokens"),
        )
    )


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Detect-and-redact pass for emails / URLs / phone numbers:
    per-doc match counts plus the redacted text.

    Replacement order matters and is fixed: emails first (their local
    parts contain digits a phone pattern could claim), then URLs
    (paths contain digits), then phones — so the counts always
    describe disjoint spans of the original text.
    """
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), 0))
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_PATTERN), 0))
    redacted_eu = F.regexp_replace(
        F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>"), URL_PATTERN, "<URL>"
    )
    # phones are counted AFTER email/url redaction for span disjointness
    n_phones = F.size(
        F.regexp_extract_all(redacted_eu, F.lit(PHONE_PATTERN), 0)
    )
    return df.select(
        F.col(id_col),
        n_emails.cast("bigint").alias("n_emails"),
        n_urls.cast("bigint").alias("n_urls"),
        n_phones.cast("bigint").alias("n_phones"),
        F.regexp_replace(redacted_eu, PHONE_PATTERN, "<PHONE>").alias(
            "redacted"
        ),
    )


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split|",
) -> Column:
    """Deterministic, reshuffle-proof train/val/test assignment:
    ``bucket = h60(salt || id) % 100`` — a pure function of the row's
    id, so the split is stable under repartitioning, re-ingestion, and
    engine changes (h60 is cross-engine reproducible), and documents
    never leak between splits across pipeline runs. Returns the split
    COLUMN so callers can attach it without a fixed output schema.
    """
    bucket = (
        h60(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 100
    )
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    target_per_stratum: int = 60,
    salt: str = "sample|",
) -> DataFrame:
    """Deterministic per-stratum downsampling toward a target size —
    the corpus-rebalancing step that stops one over-represented
    language/source from dominating a training mix.

    Keep probability per stratum is ``min(1, target/n)``, applied as
    an h60 hash-bucket threshold: a pure function of the row id, so
    the SAMPLE ITSELF is stable under repartitioning and re-runs
    (adding data to one stratum only tightens its threshold; kept ids
    whose bucket clears the new threshold stay kept). The stratum
    counts are a tiny aggregate joined back unhinted (AQE broadcasts
    it); no per-stratum window — a window partitioned by a 5-value
    column would funnel the corpus through 5 tasks.

    Expected kept size per stratum is Binomial(n, threshold/10⁴) —
    concentrated within ~√n of the target, not exact; exactness would
    need a global rank (see skew.hist_running_totals) and is rarely worth
    the extra shuffle.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    bucket = (
        h60(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 10000
    )
    threshold = F.least(
        F.floor(F.lit(10000.0) * F.lit(target_per_stratum) / F.col("_n")),
        F.lit(10000),
    )
    return (
        df.join(counts, strata_col)
        .filter(bucket < threshold)
        .drop("_n")
    )


def per_key_cap(
    df: DataFrame,
    key_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 15,
    salt: str = "cap|",
    out_col: str = "sample_rank",
) -> DataFrame:
    """Keep at most ``cap`` rows per key (domain caps: no single
    source may dominate the corpus), chosen deterministically by an
    h60 hash order over the row id — a stable pseudo-random sample
    that re-runs and repartitioning cannot change.

    Unlike :func:`stratified_sample` (probabilistic, no window), the
    cap here is EXACT, via ``row_number`` partitioned by the key. That
    is the right trade when keys are plentiful (millions of domains →
    the window parallelizes across keys). A single hot key still
    funnels its rows through one task; at 100 TB, pre-trim hot keys
    with a cheap hash-bucket filter (keep buckets < ~4·cap/n_key) so
    the window ranks a bounded candidate set — composition of
    ``stratified_sample`` (approximate pre-trim) then this operator
    (exact cap) — rather than ranking the raw key population.
    """
    order_key = h60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(key_col).orderBy(order_key, F.col(id_col))
    return (
        df.withColumn(out_col, F.row_number().over(w).cast("bigint"))
        .filter(F.col(out_col) <= cap)
    )


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    shard_size: int = 64,
    salt: str = "shuf|",
) -> DataFrame:
    """Deterministic global shuffle + sharding — the final
    'randomize the training order and cut into shard files' step of a
    corpus build.

    Every row gets ``pos`` (its 1-based position in the shuffled
    total order — h60 of the salted id, tie-broken by id) and
    ``shard`` (``(pos-1) // shard_size``). The total order comes from
    the two-level distributed prefix sum
    (:func:`~.skew.hist_running_totals` counting 1 per row) — never a
    global single-task window. Writing ``partitionBy(shard)`` then
    yields equal-sized, reproducibly shuffled shard files.
    """
    keyed = df.withColumn(
        "_sk", h60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    )
    pos = hist_running_totals(
        keyed, ["_sk", id_col], {"pos": F.lit(1)}, large=True
    )
    return pos.withColumn(
        "shard", ((F.col("pos") - 1) / F.lit(shard_size)).cast("bigint")
    ).drop("_sk")
