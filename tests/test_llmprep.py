"""Unit tests for training-data prep operators: chunk coverage and
overlap, PII redaction ordering, split determinism under
repartitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_app_spark.operators.llmprep import (
    chunk_documents,
    dataset_split,
    pii_scrub,
)


def test_chunks_cover_every_token_with_overlap(spark):
    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, chunk_tokens=10, overlap=2).collect(),
        key=lambda r: r.chunk_idx,
    )
    # stride 8 over 100 tokens: starts 1,9,...,97 -> ceil(98/8)=13 chunks
    assert [r.chunk_idx for r in rows] == list(range(13))
    assert rows[0].chunk_text.split(" ")[:2] == ["t0", "t1"]
    # consecutive chunks overlap by exactly 2 tokens
    first, second = rows[0].chunk_text.split(" "), rows[1].chunk_text.split(" ")
    assert first[-2:] == second[:2]
    # last chunk is short (tokens 96..99) and coverage is complete
    assert rows[-1].n_chunk_tokens == 4
    covered = set()
    for r in rows:
        covered.update(r.chunk_text.split(" "))
    assert covered == {f"t{i}" for i in range(100)}


def test_short_doc_yields_single_chunk(spark):
    df = spark.createDataFrame([(1, "just five little words here")], ["doc_id", "text"])
    rows = chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    assert len(rows) == 1
    assert rows[0].n_chunk_tokens == 5
    assert rows[0].chunk_text == "just five little words here"


def test_chunk_rejects_overlap_ge_chunk(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_pii_scrub_counts_and_redacts_disjoint_spans(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-corp.io or visit https://x.io/p?id=1234567 ok"),
            (2, "call +1 (555) 123-4567 about order"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (got[1].n_emails, got[1].n_urls, got[1].n_phones) == (1, 1, 0)
    # the URL's digit run must NOT be double-counted as a phone
    assert got[1].redacted == "mail <EMAIL> or visit <URL> ok"
    assert (got[2].n_emails, got[2].n_urls, got[2].n_phones) == (0, 0, 1)
    assert got[2].redacted == "call <PHONE> about order"
    assert got[3].redacted == "nothing sensitive here"


def test_dataset_split_stable_under_repartition(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    a = {
        r.doc_id: r.split
        for r in df.select("doc_id", dataset_split(df).alias("split")).collect()
    }
    shuffled = df.repartition(13, "doc_id")
    b = {
        r.doc_id: r.split
        for r in shuffled.select(
            "doc_id", dataset_split(shuffled).alias("split")
        ).collect()
    }
    assert a == b
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < frac < 0.9, f"train fraction {frac} far from 80%"


def test_distributed_prefix_sum_equals_global_window(spark):
    """The two-level prefix sum must equal a naive single-partition
    global-window cumsum — including duplicate order keys that may
    straddle range-partition boundaries (total order via tiebreak), a
    descending order Column, and null values: skipped by the sum, and
    0 where no non-null value precedes (the leading null row)."""
    from pyspark.sql import Window

    from kafka_spark_streaming_app_spark.operators.skew import (
        hist_running_totals,
    )

    rows = [(i, i % 7, (i * 13) % 50 + 1) for i in range(2000)]
    rows += [(2000, 7, None), (2001, 3, None)]
    df = spark.createDataFrame(rows, "id long, grp int, v long").repartition(16)
    order = [F.col("grp").desc(), F.col("id")]
    got = {
        r.id: r.running_total
        for r in hist_running_totals(
            df, order, {"running_total": "v"}, large=True
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r.id: r.rt
        for r in df.withColumn(
            "rt", F.coalesce(F.sum("v").over(w), F.lit(0))
        ).collect()
    }
    assert got[2000] == 0 and got[2001] > 0
    assert got == want


def test_chunk_udtf_matches_native_chunker(spark, sf_smoke):
    """The Python UDTF twin must reproduce the codegen-native chunker
    exactly (same normalization, starts, short-final-chunk handling) —
    exercised through the SQL LATERAL surface."""
    from kafka_spark_streaming_app_spark.functions.udtfs import register_udtfs
    from kafka_spark_streaming_app_spark.operators.llmprep import (
        chunk_documents,
    )
    from kafka_spark_streaming_app_spark.sources.batch import load_table

    register_udtfs(spark)
    docs = load_table(spark, sf_smoke, "documents").filter("doc_id < 40")
    docs.createOrReplaceTempView("chunk_udtf_docs")
    native = chunk_documents(docs, chunk_tokens=64, overlap=16)
    via_udtf = spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_chunk_tokens
        FROM chunk_udtf_docs d,
             LATERAL chunk_document(d.text, 64, 16) c
        """
    )
    got = sorted(map(tuple, via_udtf.collect()), key=lambda t: (t[0], t[1]))
    want = sorted(map(tuple, native.collect()), key=lambda t: (t[0], t[1]))
    assert got == want


def test_bpe_merge_handles_back_to_back_and_true_overlaps(spark):
    """The delimiter-string merge must equal true greedy BPE: abab
    merges BOTH occurrences (they share only a delimiter, not a
    symbol), while aaa merges only the first (true symbol overlap).
    One replace pass gets abab wrong (alternating occurrences) — the
    double-pass is the fixpoint."""
    from pyspark.sql import functions as F

    SEP = "\x1f"
    df = spark.createDataFrame(
        [("abab",), ("aaa",), ("aab",), ("ababab",), ("aaaa",)],
        "word string",
    ).select(
        "word",
        F.concat(
            F.lit(SEP), F.regexp_replace(F.col("word"), "(.)", "$1" + SEP)
        ).alias("seq"),
    )

    def merged(a, b):
        pat = F.lit(SEP + a + SEP + b + SEP)
        rep = F.lit(SEP + a + b + SEP)
        return F.replace(F.replace(F.col("seq"), pat, rep), pat, rep)

    got_ab = {
        r["word"]: [s for s in r["m"].split(SEP) if s]
        for r in df.select("word", merged("a", "b").alias("m")).collect()
    }
    assert got_ab["abab"] == ["ab", "ab"]
    assert got_ab["ababab"] == ["ab", "ab", "ab"]
    assert got_ab["aab"] == ["a", "ab"]
    got_aa = {
        r["word"]: [s for s in r["m"].split(SEP) if s]
        for r in df.select("word", merged("a", "a").alias("m")).collect()
    }
    assert got_aa["aaa"] == ["aa", "a"]
    assert got_aa["aaaa"] == ["aa", "aa"]


def test_split_leakage_audit_flags_both_populations(spark, sf_correctness):
    """The leak flag must discriminate on the fixture: some near-dup
    pairs land in the same split, some straddle splits — if either
    population is empty the audit is vacuous."""
    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    rows = registry.QUERIES["split_leakage_audit"](
        spark, sf_correctness
    ).collect()
    leaks = {r["leak"] for r in rows}
    assert leaks == {True, False}, rows


def test_luhn_expression_known_vectors(spark):
    """The Catalyst Luhn chain must agree with the published test
    vectors (4539578763621486 and 79927398713 valid; +1 invalid)."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_app_spark.queries.llmprep import _LUHN_EXPR

    df = spark.createDataFrame(
        [("4539578763621486",), ("4539578763621487",), ("79927398713",)],
        "cand string",
    )
    got = {
        r["cand"]: r["ok"]
        for r in df.select(
            "cand", (F.expr(_LUHN_EXPR) % 10 == 0).alias("ok")
        ).collect()
    }
    assert got == {
        "4539578763621486": True,
        "4539578763621487": False,
        "79927398713": True,
    }


def test_luhn_audit_zero_candidate_sources_keep_rows(spark, sf_smoke):
    """Sources whose docs all skip the plant must still appear with
    zeroed counters (the left-join + coalesce contract)."""
    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    rows = registry.QUERIES["pii_luhn_audit"](spark, sf_smoke).collect()
    assert len(rows) == 20
    assert all(r["n_candidates"] <= r["n_docs"] for r in rows)
    zero = [r for r in rows if r["n_candidates"] == 0]
    assert all(
        r["n_luhn_valid"] == 0 and r["checksum_residue_sum"] == 0
        for r in zero
    )
