"""Training-data preparation queries: chunking, PII scrubbing,
deterministic splits — driver-facing wrappers over
operators/llmprep.py with exact DuckDB oracles.

The corpus contains no natural PII, so the PII query synthesizes
deterministic emails/URLs/phone numbers from doc_id on BOTH engines
(same pattern as the multimodal payload synthesis) — the oracle then
proves detection counts AND redaction output byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import TOKENS_SQL, h60, h60_sql, shingles_sql, tokens
from ..operators.llmprep import (
    EMAIL_PATTERN,
    PHONE_PATTERN,
    URL_PATTERN,
    chunk_documents,
    dataset_split,
    pii_scrub,
)
from ..operators.skew import hist_running_totals
from ..registry import query
from ..sources.batch import load_table

# --- chunking ---------------------------------------------------------------

_CHUNK, _OVERLAP = 64, 16
_STRIDE = _CHUNK - _OVERLAP
_WORDS = TOKENS_SQL.format(x="text")

_CHUNK_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
),
st AS (
    SELECT doc_id, w,
           unnest(range(1, greatest(len(w) - {_OVERLAP}, 1) + 1, {_STRIDE}))
               AS start
    FROM toks
)
SELECT doc_id,
       CAST((start - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(w, start, start + {_CHUNK} - 1), ' ')
           AS chunk_text,
       CAST(least({_CHUNK}, len(w) - start + 1) AS BIGINT)
           AS n_chunk_tokens
FROM st
"""


@query("chunk_documents", _CHUNK_ORACLE)
def chunk_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token chunks with 16-token overlap over every document —
    chunk text checked byte-for-byte cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, chunk_tokens=_CHUNK, overlap=_OVERLAP
    )


# --- PII scrub --------------------------------------------------------------

_SYNTH_SQL = """
    text || CASE doc_id % 4
        WHEN 0 THEN ' contact agent' || CAST(doc_id AS VARCHAR)
                    || '@example.com for details'
        WHEN 1 THEN ' see https://docs.example.com/p/'
                    || CAST(doc_id AS VARCHAR) || '?ref=x now'
        WHEN 2 THEN ' call +1 (555) 01' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                    || ' today'
        ELSE ''
    END
"""

_PII_ORACLE = f"""
WITH synth AS (
    SELECT doc_id, {_SYNTH_SQL} AS text FROM documents
),
eu AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS n_emails,
           len(regexp_extract_all(text, '{URL_PATTERN}')) AS n_urls,
           regexp_replace(regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                          '{URL_PATTERN}', '<URL>', 'g') AS redacted_eu
    FROM synth
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(redacted_eu, '{PHONE_PATTERN}')) AS BIGINT)
           AS n_phones,
       regexp_replace(redacted_eu, '{PHONE_PATTERN}', '<PHONE>', 'g')
           AS redacted
FROM eu
"""


@query("pii_scrub", _PII_ORACLE)
def pii_scrub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL/phone detection counts + full redacted text, over a
    corpus with synthesized PII (doc_id % 4 selects the PII kind, so
    ~3/4 of docs have exactly one planted match and the rest none)."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" contact agent"),
                    did.cast("string"),
                    F.lit("@example.com for details"),
                ),
            )
            .when(
                did % 4 == 1,
                F.concat(
                    F.lit(" see https://docs.example.com/p/"),
                    did.cast("string"),
                    F.lit("?ref=x now"),
                ),
            )
            .when(
                did % 4 == 2,
                F.concat(
                    F.lit(" call +1 (555) 01"),
                    F.lpad(did.cast("string"), 4, "0"),
                    F.lit(" today"),
                ),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(synth)


# --- deterministic split ----------------------------------------------------

_BUCKET_SQL = h60_sql("('split|' || CAST(doc_id AS VARCHAR))") + " % 100"

_SPLIT_ORACLE = f"""
SELECT doc_id, lang,
       CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
            WHEN {_BUCKET_SQL} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@query("dataset_split", _SPLIT_ORACLE)
def dataset_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket 80/10/10 split assignment — stable under
    repartitioning/re-ingestion because it is a pure function of
    doc_id (cross-engine h60, proven by the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", dataset_split(docs).alias("split")
    )


_SPLIT_COUNTS_ORACLE = f"""
SELECT split, lang, count(*) AS n_docs
FROM (
    SELECT lang,
           CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_BUCKET_SQL} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
GROUP BY split, lang
"""


@query("dataset_split_counts", _SPLIT_COUNTS_ORACLE)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification audit: doc counts per (split, lang) — the check
    a pipeline runs before accepting a split."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", dataset_split(docs).alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- token-budget selection -------------------------------------------------

_BUDGET = 30000

_BUDGET_ORACLE = f"""
WITH scored AS (
    SELECT
        doc_id,
        CAST(len(list_distinct({_WORDS})) AS DOUBLE) / len({_WORDS}) AS quality,
        len(regexp_extract_all(lower(trim(text)), '[a-z0-9]{{1,4}}'))
            AS n_subwords
    FROM documents
),
cum AS (
    SELECT *,
           sum(n_subwords) OVER (ORDER BY quality DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS running_total
    FROM scored
)
SELECT doc_id, quality, CAST(n_subwords AS BIGINT) AS n_subwords,
       CAST(running_total AS DOUBLE) AS running_total
FROM cum
WHERE running_total <= {_BUDGET}
"""


@query("token_budget_selection", _BUDGET_ORACLE)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a subword-token budget with the highest-quality documents:
    rank by lexical diversity, take the running-total prefix within
    the budget. The running total is the two-level distributed prefix
    sum (range partition → local cumsum → offset join), NOT an
    unpartitioned global window — the oracle's single-window SQL is
    the semantics, not the plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    # subword regex inlined to match the oracle's lower(trim()) exactly
    scored = docs.select(
        "doc_id",
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("quality"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.trim(F.col("text"))), F.lit("[a-z0-9]{1,4}"), 0
            )
        ).alias("n_subwords"),
    )
    cum = hist_running_totals(
        scored,
        [F.col("quality").desc(), "doc_id"],
        {"running_total": "n_subwords"},
        large=True,
    )
    return cum.filter(F.col("running_total") <= _BUDGET).select(
        "doc_id",
        "quality",
        F.col("n_subwords").cast("bigint").alias("n_subwords"),
        F.col("running_total").cast("double").alias("running_total"),
    )


# --- language rebalancing ----------------------------------------------------

_REBALANCE_ORACLE = f"""
WITH counts AS (
    SELECT lang, count(*) AS n FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang
FROM documents d
JOIN counts c ON d.lang = c.lang
WHERE {h60_sql("('sample|' || CAST(doc_id AS VARCHAR))")} % 10000
      < least(floor(10000.0 * 60 / c.n), 10000)
"""


@query("language_rebalance", _REBALANCE_ORACLE)
def language_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling toward ~60 docs per language —
    over-represented languages shrink, small ones pass through whole.
    Deterministic hash-bucket sampling (oracle-exact), stratum counts
    joined back unhinted."""
    from ..operators.llmprep import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, strata_col="lang", target_per_stratum=60
    ).select("doc_id", "lang")


# --- sequence packing (concatenate-and-cut training windows) ----------------
#
# GPT-style sample packing: documents are laid out in a deterministic
# shuffle order and the concatenated token stream is cut into
# fixed-size windows of B tokens. Each document's placement is a pure
# function of the EXCLUSIVE prefix sum of token counts — computed with
# the two-level distributed prefix sum (never a single-task global
# window); the oracle's single window IS the exactness anchor.

_PACK_BUDGET = 2048

_PACKING_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           len({TOKENS_SQL.format(x="text")}) AS n_tok,
           {h60_sql("('pack|' || CAST(doc_id AS VARCHAR))")} AS k
    FROM documents
),
c AS (
    SELECT doc_id, n_tok,
           CAST(sum(n_tok) OVER (ORDER BY k, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tok AS start_tok
    FROM t
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tok,
       start_tok // {_PACK_BUDGET} AS seq_id,
       start_tok % {_PACK_BUDGET} AS seq_offset,
       (start_tok % {_PACK_BUDGET}) + n_tok > {_PACK_BUDGET} AS straddles
FROM c
"""


@query("sequence_packing", _PACKING_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document its (sequence id, offset) in the packed
    training stream of 2048-token windows. Placement derives from the
    exclusive prefix sum of token counts over a deterministic shuffle
    order — two-level prefix sum (range partition -> local cumsum ->
    offset join), so packing 100 TB never funnels through one task;
    the straddle flag marks documents a loader must split across
    window boundaries."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
        h60(
            F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))
        ).alias("k"),
    )
    c = hist_running_totals(
        t,
        ["k", "doc_id"],
        {"start_tok": "n_tok"},
        include_current=False,
        large=True,
    )
    return c.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.expr(f"start_tok div {_PACK_BUDGET}").alias("seq_id"),
        (F.col("start_tok") % _PACK_BUDGET).alias("seq_offset"),
        (
            (F.col("start_tok") % _PACK_BUDGET) + F.col("n_tok")
            > _PACK_BUDGET
        ).alias("straddles"),
    )


# --- split leakage audit ----------------------------------------------------

_LEAK_SHINGLES = shingles_sql("text", 3)

_LEAK_ORACLE = f"""
WITH ds AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest({_LEAK_SHINGLES}) AS shingle FROM documents
    )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
    FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT id_a, id_b, CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) AS jaccard
    FROM common
    JOIN sizes s1 ON s1.doc_id = id_a
    JOIN sizes s2 ON s2.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) >= 0.5
),
splits AS (
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_BUCKET_SQL} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT p.id_a, p.id_b, p.jaccard,
       sa.split AS split_a, sb.split AS split_b,
       CAST(sa.split <> sb.split AS BOOLEAN) AS leak
FROM pairs p
JOIN splits sa ON sa.doc_id = p.id_a
JOIN splits sb ON sb.doc_id = p.id_b
ORDER BY p.id_a, p.id_b
"""


@query("split_leakage_audit", _LEAK_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: every near-duplicate pair
    (MinHash+LSH candidates, exact-Jaccard-verified at 0.5) labeled
    with both members' split assignments; ``leak`` flags pairs that
    straddle splits — the eval-contamination a random split of a
    near-dup-bearing corpus ALWAYS produces, and the reason production
    pipelines dedup before splitting (or split by cluster).

    The oracle recomputes the exact pair set brute-force and the same
    hash-bucket split, so the driver hash proves LSH recall AND the
    leak labeling in one check. Scale posture is the LSH pipeline's
    (banded candidates, capped hot buckets); the split join adds two
    broadcast-size lookups.
    """
    from ..operators.dedup import (
        jaccard_verify_candidates,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signatures(docs, num_hashes=12, shingle_n=3)
    candidates = lsh_candidate_pairs(sigs, num_hashes=12, band_size=2)
    pairs = jaccard_verify_candidates(docs, candidates, shingle_n=3, threshold=0.5)
    splits = docs.select("doc_id", dataset_split(docs).alias("split"))
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leak"),
        )
        .orderBy("id_a", "id_b")
    )


# --- Luhn checksum PII audit --------------------------------------------------
#
# Pattern-based PII scans (pii_scrub) flag ANY 16-digit run; payment
# PANs additionally satisfy the Luhn checksum, and a curation pipeline
# that redacts on pattern alone floods reviewers with false positives.
# This audit separates the two — entirely in JVM expressions
# (sequence/transform/aggregate over the digit string; no UDF), so the
# checksum runs inside whole-stage codegen at scan speed.

_LUHN_EXPR = """
aggregate(
  transform(sequence(1, length(cand)),
    p -> CASE WHEN (length(cand) - p) % 2 = 1
              THEN IF(2 * CAST(substr(cand, p, 1) AS INT) > 9,
                      2 * CAST(substr(cand, p, 1) AS INT) - 9,
                      2 * CAST(substr(cand, p, 1) AS INT))
              ELSE CAST(substr(cand, p, 1) AS INT) END),
  0, (a, x) -> a + x)
"""

_LUHN_ORACLE = """
WITH synth AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 5 = 4 THEN text
                ELSE text || ' card '
                     || lpad(CAST((doc_id * 7919 + 123456789) % 10000000000000000
                                  AS VARCHAR), 16, '0') || ' on file'
           END AS text
    FROM documents
),
cand AS (
    SELECT doc_id, source, regexp_extract(text, '[0-9]{16}') AS cand
    FROM synth
),
pos AS (
    SELECT doc_id, source, cand, unnest(range(1, 17)) AS p
    FROM cand WHERE cand != ''
),
summed AS (
    SELECT doc_id, source,
           sum(CASE WHEN (16 - p) % 2 = 1
                    THEN CASE WHEN 2 * CAST(substr(cand, CAST(p AS INTEGER), 1) AS INTEGER) > 9
                              THEN 2 * CAST(substr(cand, CAST(p AS INTEGER), 1) AS INTEGER) - 9
                              ELSE 2 * CAST(substr(cand, CAST(p AS INTEGER), 1) AS INTEGER) END
                    ELSE CAST(substr(cand, CAST(p AS INTEGER), 1) AS INTEGER) END) AS s
    FROM pos GROUP BY doc_id, source
),
docs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT d.source,
       CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(count(s.doc_id) AS BIGINT) AS n_candidates,
       CAST(coalesce(sum(CASE WHEN s.s % 10 = 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_luhn_valid,
       CAST(coalesce(sum(s.s % 10), 0) AS BIGINT) AS checksum_residue_sum
FROM docs d LEFT JOIN summed s ON s.source = d.source
GROUP BY d.source, d.n_docs
"""


@query("pii_luhn_audit", _LUHN_ORACLE)
def pii_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated payment-card audit per source: 16-digit
    candidates are regex-extracted (4/5 of docs carry a planted one)
    and the Luhn checksum — computed as a pure Catalyst expression
    chain (sequence → transform → aggregate), no Python — separates
    real PANs from random digit runs. The residue sum pins every
    per-digit double/fold, not just the valid/invalid verdict."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        "source",
        F.when(did % 5 == 4, F.col("text"))
        .otherwise(
            F.concat(
                F.col("text"),
                F.lit(" card "),
                F.lpad(
                    ((did * 7919 + 123456789) % F.lit(10**16)).cast(
                        "string"
                    ),
                    16,
                    "0",
                ),
                F.lit(" on file"),
            )
        )
        .alias("text"),
    )
    cand = synth.select(
        "doc_id",
        "source",
        F.regexp_extract("text", "[0-9]{16}", 0).alias("cand"),
    )
    scored = cand.filter(F.col("cand") != "").select(
        "doc_id",
        "source",
        F.expr(_LUHN_EXPR).alias("s"),
    )
    per_src = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return (
        per_src.join(scored, "source", "left")
        .groupBy("source", "n_docs")
        .agg(
            F.count("doc_id").cast("bigint").alias("n_candidates"),
            F.coalesce(
                F.sum(((F.col("s") % 10) == 0).cast("int")), F.lit(0)
            )
            .cast("bigint")
            .alias("n_luhn_valid"),
            F.coalesce(F.sum(F.col("s") % 10), F.lit(0))
            .cast("bigint")
            .alias("checksum_residue_sum"),
        )
    )
