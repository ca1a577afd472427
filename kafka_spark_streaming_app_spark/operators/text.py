"""Text-analysis operators for training-data curation.

Quality scoring, token counting, language ID, and fingerprinting — the
filters an LLM-data pipeline applies before dedup (north-star scope).
Everything is built-in string/array/regex expressions: at 100 TB these
run inside whole-stage codegen as a pure scan-projection (no shuffle at
all except lang-id's argmax, which is row-local too in the composed
form below).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60, normalize_text, tokens

# Minimal per-language stopword sets (public, common-knowledge lists).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

PUNCT_PATTERN = r"[^\w\s]"
SUBWORD_PATTERN = "[a-z0-9]{1,4}"  # BPE-ish greedy subword chunks


def _ratio(num: Column, den: Column) -> Column:
    """Integer-exact double ratio (identical across engines), guarded
    against empty documents."""
    return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features: token/char counts, average word
    length, type-token ratio, stopword ratio, punctuation ratio."""
    toks = tokens(text_col)
    norm = normalize_text(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(norm)
    n_punct = F.length(norm) - F.length(F.regexp_replace(norm, PUNCT_PATTERN, ""))
    en_stop = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    n_distinct = F.size(F.array_distinct(toks))
    # characters inside words (normalized text minus single separators)
    n_word_chars = n_chars - (n_tokens - 1)
    return df.select(
        F.col(id_col),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_chars.cast("bigint").alias("n_chars_norm"),
        _ratio(n_word_chars, n_tokens).alias("avg_word_len"),
        _ratio(n_distinct, n_tokens).alias("type_token_ratio"),
        _ratio(n_stop, n_tokens).alias("stopword_ratio"),
        _ratio(n_punct, n_chars).alias("punct_ratio"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Two token counts: whitespace words and BPE-ish greedy subword
    chunks (regex ``[a-z0-9]{1,4}``) — the cheap proxy pair used to
    estimate tokenizer cost before running a real BPE."""
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("bigint").alias("n_words"),
        F.size(
            F.regexp_extract_all(normalize_text(text_col), F.lit(SUBWORD_PATTERN), 0)
        )
        .cast("bigint")
        .alias("n_subwords"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-overlap language ID: score = stopword hits per
    language, predicted = argmax (ties broken alphabetically).

    Composed as explode-scores → ranked window so the same shape works
    for any score source (n-gram models later); the explode is bounded
    (|languages| rows per doc)."""
    toks = tokens(text_col)

    def contains_pred(arr):
        # closure factory: a default-arg lambda would read as a
        # two-parameter (element, index) HOF lambda to Spark
        return lambda t: F.array_contains(arr, t)

    scores = []
    for lang, words in sorted(STOPWORDS.items()):
        arr = F.array(*[F.lit(w) for w in words])
        score = F.size(F.filter(toks, contains_pred(arr)))
        scores.append(F.struct(F.lit(lang).alias("lang_guess"), score.alias("score")))
    exploded = df.select(
        F.col(id_col), F.explode(F.array(*scores)).alias("s")
    ).select(id_col, "s.lang_guess", "s.score")
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("lang_guess"))
    return (
        exploded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            "lang_guess",
            F.col("score").cast("bigint").alias("score"),
        )
    )


def fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 80,
) -> DataFrame:
    """Document fingerprints: full-content md5 (hex), 60-bit integer
    hash, and a prefix fingerprint (md5 of the first ``prefix_len``
    normalized chars — catches shared-boilerplate heads)."""
    norm = normalize_text(text_col)
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        h60(norm).alias("fp_h60"),
        F.md5(F.substring(norm, 1, prefix_len)).alias("fp_prefix"),
    )


# Fixed public weights for the linear quality classifier — the shape of
# a fastText/logistic quality filter (e.g. the CCNet / LLaMA-style
# wiki-reference classifier) with hand-set coefficients. A trained
# model swaps the constants; the plan is identical.
QUALITY_WEIGHTS = {
    "bias": -1.2,
    "type_token_ratio": 2.4,
    "stopword_ratio": 3.0,
    "avg_word_len_dev": -0.15,  # applied to (avg_word_len - 4.5)^2
    "short_doc": -0.9,  # applied to 1[n_tokens < 20]
}


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Model-based quality filtering, linear form: score each document
    with a fixed-weight linear function of its :func:`text_stats`
    features and flag keep/drop at threshold 0.

    The score stays a LINEAR logit (no sigmoid): exp() is libm- and
    engine-dependent in the last ulp, while fixed-order +/*/÷ on
    doubles is bit-identical everywhere — monotone in the probability,
    so the keep decision is unchanged. Pure scan-projection: the
    features and the dot product all fuse into one codegen stage, zero
    shuffle at any scale.
    """
    w = QUALITY_WEIGHTS
    feats = text_stats(df, text_col, id_col)
    dev = F.col("avg_word_len") - F.lit(4.5)
    score = (
        F.lit(w["bias"])
        + F.lit(w["type_token_ratio"]) * F.col("type_token_ratio")
        + F.lit(w["stopword_ratio"]) * F.col("stopword_ratio")
        + F.lit(w["avg_word_len_dev"]) * dev * dev
        + F.lit(w["short_doc"])
        * F.when(F.col("n_tokens") < 20, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    return feats.select(
        id_col,
        "n_tokens",
        "type_token_ratio",
        "stopword_ratio",
        "avg_word_len",
        score.alias("quality_logit"),
        (score >= 0).alias("keep"),
    )


def content_chunks(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    mod: int = 16,
) -> "DataFrame":
    """Content-defined chunking at word granularity: a chunk boundary
    opens before token i wherever h60 of the 3-gram starting at i is
    ≡ 0 (mod ``mod``), so boundaries are a pure function of LOCAL
    content and survive insertions — the property that makes
    chunk-level dedup edit-stable (pinned by a hypothesis test).
    Returns (id, chunk_id, chunk_hash, n_words) — one posexplode,
    row-local boundary flags, one id-keyed cumulative window, chunk
    reassembly on the same key.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.hashing import h60, tokens as _tokens

    t = df.select(F.col(id_col), _tokens(text_col).alias("w"))
    # boundary flags computed in the ARRAY domain before the explode:
    # the exploded rows then carry one word + one flag each, never the
    # whole token array (which would cost O(len²) bytes per document)
    w_col = F.col("w")
    flags = F.transform(
        w_col,
        lambda x, i: F.when(
            i <= F.size(w_col) - 3,
            h60(
                F.concat_ws(
                    " ",
                    F.element_at(w_col, i + 1),
                    F.element_at(w_col, i + 2),
                    F.element_at(w_col, i + 3),
                )
            )
            % mod
            == 0,
        ).otherwise(F.lit(False)),
    )
    post = t.select(
        id_col, F.posexplode(F.arrays_zip(w_col, flags.alias("b"))).alias("pos0", "z")
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        F.col("z.w").alias("word"),
        F.col("z.b").alias("boundary"),
    )
    w_cum = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = post.select(
        id_col,
        "pos",
        "word",
        F.sum(F.col("boundary").cast("int")).over(w_cum).alias("chunk_id"),
    )
    return numbered.groupBy(id_col, "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("word")))
                    ),
                    lambda s: s["word"],
                ),
            )
        ).alias("chunk_hash"),
        F.count(F.lit(1)).alias("n_words"),
    )


# --- Jaro-Winkler string similarity ------------------------------------------
# Spark has no jaro_winkler builtin (levenshtein only), so this is a
# genuine from-scratch implementation behind an Arrow-batched
# pandas_udf; DuckDB's native jaro_winkler_similarity (RapidFuzz
# lineage) serves as the independent cross-engine oracle — verified
# bit-exact over 20k real part-name pairs and the classic literature
# cases (martha/marhta, dixon/dicksonx, dwayne/duane).


def jaro_similarity(s1: str, s2: str) -> float:
    """Classic Jaro: match window max(|s1|,|s2|)//2 - 1, greedy
    left-to-right matching, half-transposition count. Empty strings
    score 0.0 even against themselves (the DuckDB/RapidFuzz
    convention, unlike some textbook variants that define
    jaro('','') = 1)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = i - window if i > window else 0
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def jaro_winkler_similarity(
    s1: str, s2: str, p: float = 0.1, boost: float = 0.7, maxpref: int = 4
) -> float:
    """Winkler prefix boost: above the 0.7 threshold, credit up to 4
    chars of common prefix at scaling p=0.1 (the standard constants,
    matching DuckDB's defaults)."""
    sim = jaro_similarity(s1, s2)
    if sim > boost:
        length = 0
        for a, b in zip(s1[:maxpref], s2[:maxpref]):
            if a != b:
                break
            length += 1
        sim += length * p * (1.0 - sim)
    return sim


def jaro_winkler_col(left: Column, right: Column) -> Column:
    """Arrow-batched pandas_udf wrapper: one Python call per batch,
    per-row work bounded by the short strings it compares (the
    blocking join upstream bounds the row count).

    The UDF is marked nondeterministic (see below), and Spark allows
    nondeterministic expressions only in Project, Filter, Aggregate and
    Window: it cannot appear in a join condition. Join on the blocking
    key first, then select or filter on the score."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # `from __future__ import annotations` stringifies hints, and the
    # pandas_udf hint resolver looks them up in module globals — put
    # pandas there before defining the UDF.
    globals()["pd"] = pd

    @pandas_udf("double")
    def _jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                jaro_winkler_similarity(x, y)
                if x is not None and y is not None
                else None
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    # The score is deterministic, but callers FILTER on it: Catalyst
    # pushes that filter below the projection and evaluates the UDF
    # TWICE per row (two ArrowEvalPython nodes — guide §4.4's exact
    # trap). Marking it non-deterministic forbids the duplication, so
    # every pair pays the comparator once.
    return _jw.asNondeterministic()(left, right)
