"""Property-based tests (hypothesis): invariants that hold for ANY
input, not just the fixtures — the layer that catches semantic bugs a
single planted example can miss.

Examples are kept small and max_examples modest because every example
runs real Spark jobs; the session is shared via the conftest fixture.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

WORDS = ["scan", "join", "hash", "sort", "row", "table", "key", "data"]

_word = st.sampled_from(WORDS)
_doc = st.lists(_word, min_size=8, max_size=60)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=_doc, data=st.data())
def test_content_chunking_edit_locality(spark, words, data):
    """THE content-defined-chunking property: inserting one word into
    a document changes only the chunks around the edit — the two
    documents' chunk-hash multisets differ in a bounded number of
    entries (a fixed-width splitter would shift EVERY downstream
    chunk).

    The bound: a boundary opens before token i iff the 3-gram starting
    at i hashes to 0, so each flag is a function of 3 tokens. Inserting
    X before original token p leaves every flag whose 3-gram lies wholly
    before p, or wholly at or after p (shifted by one), as it was. The
    original loses the 2 flags at p-2 and p-1, whose 3-grams straddle p;
    the edited side has 3 new flags at p-2, p-1 and p, whose 3-grams
    contain X. Between the nearest unchanged boundaries on either side,
    2 flags cut the original into at most 3 chunks and 3 flags cut the
    edited span into at most 4; every chunk outside that span is
    shared. So at most 3 original and 4 edited chunks change."""
    from kafka_spark_streaming_app_spark.operators.text import content_chunks

    pos = data.draw(st.integers(min_value=1, max_value=len(words) - 1))
    inserted = data.draw(_word)
    edited = words[:pos] + [inserted] + words[pos:]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(edited))],
        "doc_id long, text string",
    )
    rows = content_chunks(df).collect()
    changed_1, changed_2 = _changed_chunks(rows)
    assert changed_1 <= 3 and changed_2 <= 4, (
        f"edit at {pos} perturbed {changed_1}/{changed_2} chunks"
    )
    # and the chunks partition the document: word counts must add up
    assert sum(r["n_words"] for r in rows if r["doc_id"] == 1) == len(words)
    assert sum(r["n_words"] for r in rows if r["doc_id"] == 2) == len(edited)


def _changed_chunks(rows) -> tuple[int, int]:
    """Chunks of doc 1 (original) missing from doc 2 (one word inserted),
    and of doc 2 missing from doc 1, as chunk-hash multiset differences."""
    from collections import Counter

    c1 = Counter(r["chunk_hash"] for r in rows if r["doc_id"] == 1)
    c2 = Counter(r["chunk_hash"] for r in rows if r["doc_id"] == 2)
    return sum((c1 - c2).values()), sum((c2 - c1).values())


def test_content_chunking_insertion_can_change_four_edited_chunks(spark):
    """The bound on the edited side is 4, not 3: this insertion's three
    new 3-grams all open boundaries, splitting one original chunk into
    four."""
    from kafka_spark_streaming_app_spark.operators.text import content_chunks

    words = "scan scan scan data sort row hash scan".split()
    edited = words[:5] + ["table"] + words[5:]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(edited))],
        "doc_id long, text string",
    )
    assert _changed_chunks(content_chunks(df).collect()) == (1, 4)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xs=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=50))
def test_ewma_fold_matches_python(spark, xs):
    """The α=½ EWMA fold expression must equal the plain Python fold
    bit-for-bit — (acc+x)*0.5 is two exact-rounding IEEE ops with no
    fusable shape, so there is no tolerance here, only equality."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(xs,)], "xs array<bigint>")
    got = df.select(
        F.aggregate(
            F.slice(F.col("xs"), 2, F.size(F.col("xs")) - 1),
            F.element_at(F.col("xs"), 1).cast("double"),
            lambda acc, x: (acc + x.cast("double")) * F.lit(0.5),
        ).alias("ewma")
    ).collect()[0]["ewma"]
    want = float(xs[0])
    for x in xs[1:]:
        want = (want + float(x)) * 0.5
    assert got == want


def test_welch_ttest_matches_numpy(spark, sf_smoke):
    """Independent-reference check: the registered Welch query's t and
    df must match a straight numpy computation on the same fixture
    (same cents quantization), to 1e-9 relative — guarding against a
    formula slip that a cross-engine oracle (same formula both sides)
    cannot catch."""
    import math

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    got = {
        r["event_type"]: r
        for r in registry.QUERIES["welch_ttest"](spark, sf_smoke).collect()
    }
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    cents = np.round(ev["value"].to_numpy() * 100).astype("int64")
    for etype, row in got.items():
        mask = (ev["event_type"] == etype).to_numpy()
        a, b = cents[mask] / 100.0, cents[~mask] / 100.0
        va = a.var(ddof=1)
        vb = b.var(ddof=1)
        se2 = va / len(a) + vb / len(b)
        t = (a.mean() - b.mean()) / math.sqrt(se2)
        df_w = se2**2 / (
            (va / len(a)) ** 2 / (len(a) - 1)
            + (vb / len(b)) ** 2 / (len(b) - 1)
        )
        assert abs(row["t_welch"] - t) <= max(1e-9 * abs(t), 2e-6), (
            etype,
            row["t_welch"],
            t,
        )
        assert abs(row["df_welch"] - df_w) <= max(1e-6 * df_w, 1e-3), (
            etype,
            row["df_welch"],
            df_w,
        )


def test_bootstrap_ci_brackets_the_mean(spark, sf_correctness):
    """The bootstrap order statistics must bracket the point mean with
    nonzero width — a degenerate or inverted interval means the
    replicate weights collapsed."""
    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    for r in registry.QUERIES["bootstrap_ci_mean"](
        spark, sf_correctness
    ).collect():
        assert r["boot_lo"] < r["boot_hi"], r
        assert r["boot_lo"] <= r["mean_price"] <= r["boot_hi"], r


def test_cohens_kappa_matches_textbook_form(spark, sf_correctness):
    """The query computes kappa in a single-division rearrangement
    ((po - pe)·n²-scaled); it must agree with the textbook
    (po − pe)/(1 − pe) computed independently from the confusion
    counts — and with a direct recompute of the two raters in Python
    over the raw fixture."""
    import duckdb

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    [r] = registry.QUERIES["cohens_kappa"](spark, sf_correctness).collect()
    n, n11, n00 = r.n, r.n_both_pos, r.n_both_neg
    na = r.n_both_pos + r.n_a_only
    nb = r.n_both_pos + r.n_b_only
    po = (n11 + n00) / n
    pe = (na * nb + (n - na) * (n - nb)) / (n * n)
    # query output is rounded to 6 decimals; the rearranged and
    # textbook forms agree to well under that grain
    assert abs(r.kappa - (po - pe) / (1 - pe)) < 1e-6
    # independent rater recompute straight off the parquet
    con = duckdb.connect()
    df = con.sql(
        f"SELECT text, n_chars FROM '{sf_correctness}/documents.parquet'"
    ).df()
    a = (df.n_chars >= 300).astype(int)
    b = ((df.text.str.len() - df.text.str.replace(" ", "").str.len()) >= 50).astype(int)
    assert int((a & b).sum()) == n11
    assert int(((1 - a) & (1 - b)).sum()) == n00


def test_roc_auc_matches_pairwise_definition(spark, sf_smoke):
    """AUC from the histogram/midrank dataflow must equal the
    pairwise definition P(score_pos > score_neg) + 0.5·P(tie),
    computed directly in Python over the collected scores."""
    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    [r] = registry.QUERIES["roc_auc_quality"](spark, sf_smoke).collect()
    from kafka_spark_streaming_app_spark.operators.text import quality_score
    from kafka_spark_streaming_app_spark.sources.batch import load_table

    docs = load_table(spark, sf_smoke, "documents")
    rows = (
        quality_score(docs)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select("quality_logit", "n_chars")
        .collect()
    )
    import math

    pos = [math.floor(x.quality_logit * 1e9) for x in rows if x.n_chars >= 300]
    neg = [math.floor(x.quality_logit * 1e9) for x in rows if x.n_chars < 300]
    num = sum(
        2 if p > n_ else (1 if p == n_ else 0) for p in pos for n_ in neg
    )
    assert r.n_pos == len(pos) and r.n_neg == len(neg)
    assert r.auc == round(num / (2 * len(pos) * len(neg)), 6)


def test_spearman_matches_pandas(spark, sf_smoke):
    """spearman_correlation must match pandas' tie-aware Spearman on
    the same (quantity, integer-cents price) pairs to the query's
    6-decimal grain — an independent implementation, not a
    same-formula mirror."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    [r] = registry.QUERIES["spearman_correlation"](spark, sf_smoke).collect()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    q = li["l_quantity"]
    p = np.round(li["l_extendedprice"] * 100).astype("int64")
    # pandas .corr(method='spearman') needs scipy (absent here);
    # pandas' tie-aware midrank + numpy Pearson is the same statistic
    # through an independent implementation
    rq = q.rank(method="average").to_numpy()
    rp = p.rank(method="average").to_numpy()
    want = np.corrcoef(rq, rp)[0, 1]
    assert r.n == len(li)
    assert abs(r.spearman_rho - want) < 1e-6


def test_kruskal_wallis_matches_pandas(spark, sf_smoke):
    """kruskal_wallis_test recomputed independently with pandas
    midranks (the SQL is shared text across both engines, so the
    oracle gate alone can't catch a formula bug — this pin can)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()]
    vc = np.round(ev["value"] * 100).astype("int64")
    grp = ev["event_type"]
    ranks = vc.rank(method="average").to_numpy()
    n = len(vc)
    groups = ["click", "error", "purchase", "signup", "view"]
    s = sum(
        ranks[(grp == g).to_numpy()].sum() ** 2
        / (grp == g).sum()
        for g in groups
    )
    h_raw = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
    counts = vc.value_counts().to_numpy()
    d = 1.0 - (np.sum(counts**3) - n) / (n**3 - n)
    [r] = registry.QUERIES["kruskal_wallis_test"](spark, sf_smoke).collect()
    assert r.n == n and r.df == 4
    assert [r.n1, r.n2, r.n3, r.n4, r.n5] == [
        int((grp == g).sum()) for g in groups
    ]
    assert abs(r.h - h_raw) < 1e-5
    assert abs(r.tie_correction - d) < 1e-6
    assert abs(r.h_corrected - h_raw / d) < 1e-5


def test_logistic_irls_matches_numpy(spark, sf_smoke):
    """logistic_irls recomputed with an UNQUANTIZED 2-step Newton in
    numpy: the engine quantizes η at 1e-9 and contributions at 1e-6,
    so betas agree to ~1e-4, and step 1 (exact rational statistics)
    to 1e-6. Shared-text SQL means the oracle gate can't catch a
    formula bug — this independent implementation can."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    y = (li["l_returnflag"] == "R").to_numpy(dtype=np.float64)
    X = np.column_stack(
        [
            np.ones(len(li)),
            li["l_quantity"].to_numpy(dtype=np.float64),
            np.round(li["l_discount"] * 100).to_numpy() / 100.0,
        ]
    )
    beta = np.zeros(3)
    for _ in range(2):
        mu = 1.0 / (1.0 + np.exp(-X @ beta))
        w = mu * (1.0 - mu)
        beta = beta + np.linalg.solve(
            (X * w[:, None]).T @ X, X.T @ (y - mu)
        )
        if _ == 0:
            step1 = beta.copy()
    [r] = registry.QUERIES["logistic_irls"](spark, sf_smoke).collect()
    assert r.n == len(li)
    got1 = [r.beta0_step1, r.beta1_step1, r.beta2_step1]
    got2 = [r.beta0, r.beta1, r.beta2]
    assert np.allclose(got1, step1, atol=1e-6), (got1, step1)
    assert np.allclose(got2, beta, atol=1e-4), (got2, beta)


def test_brier_decomposition_identity_and_numpy(spark, sf_smoke):
    """Murphy identity: Brier = reliability − resolution +
    uncertainty + within-bin variance − 2·within-bin covariance
    (exact up to the 1e-9 quanta and round-6 display — the covariance
    term is what the textbook constant-per-bin form drops); every
    component recomputed independently in numpy."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry
    from kafka_spark_streaming_app_spark.operators.text import (
        quality_score,
    )

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    q = (
        quality_score(
            registry.QUERIES["text_stats"](spark, sf_smoke).sparkSession
            .createDataFrame(docs[["doc_id", "text"]])
        )
        .select("doc_id", "quality_logit")
        .toPandas()
        .merge(docs[["doc_id", "n_chars"]], on="doc_id")
    )
    p = np.floor(1e9 / (1.0 + np.exp(-q["quality_logit"]))) / 1e9
    y = (q["n_chars"] >= 300).astype(float).to_numpy()
    bins = np.floor(q["quality_logit"] * 4).astype(int)
    n = len(p)
    brier = float(((p - y) ** 2).mean())
    rel = res = wb = 0.0
    ybar = y.mean()
    for bv in np.unique(bins):
        m = bins == bv
        rel += m.sum() * (p[m].mean() - y[m].mean()) ** 2
        res += m.sum() * (y[m].mean() - ybar) ** 2
        wb += ((p[m] - p[m].mean()) ** 2).sum()
    rel, res, wb = rel / n, res / n, wb / n
    wcov = 0.0
    for bv in np.unique(bins):
        m = bins == bv
        wcov += ((p[m] - p[m].mean()) * (y[m] - y[m].mean())).sum()
    wcov /= n
    unc = ybar * (1 - ybar)
    [r] = registry.QUERIES["brier_decomposition"](spark, sf_smoke).collect()
    assert r.n == n
    assert abs(r.brier - brier) < 1e-5
    assert abs(r.reliability - rel) < 1e-5
    assert abs(r.resolution - res) < 1e-5
    assert abs(r.uncertainty - unc) < 1e-5
    assert abs(r.within_bin - wb) < 1e-5
    assert abs(r.within_cov - wcov) < 1e-5
    assert abs(
        r.brier
        - (
            r.reliability
            - r.resolution
            + r.uncertainty
            + r.within_bin
            - 2 * r.within_cov
        )
    ) < 5e-6


def test_ridge_path_matches_numpy_and_shrinks(spark, sf_smoke):
    """ridge_regression_path recomputed with numpy.linalg.solve on
    (X'X/n + λI); λ=0 must equal OLS and coefficients must shrink as
    λ grows."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    q = li["l_quantity"].to_numpy(dtype=np.float64)
    d = np.round(li["l_discount"] * 100).to_numpy() / 100.0
    y = np.round(li["l_extendedprice"] * 100).to_numpy(dtype=np.float64)
    X = np.column_stack([np.ones(len(q)), q, d])
    n = len(q)
    M = X.T @ X / n
    r = X.T @ y / n
    rows = registry.QUERIES["ridge_regression_path"](
        spark, sf_smoke
    ).collect()
    got = {row["lambda"]: (row.beta0, row.beta1, row.beta2) for row in rows}
    assert set(got) == {0.0, 1.0, 100.0}
    for lam, betas in got.items():
        want = np.linalg.solve(M + lam * np.eye(3), r)
        assert np.allclose(betas, want, atol=1e-4), (lam, betas, want)
    # shrinkage: coefficient L2 norm decreases along the path
    norms = [np.linalg.norm(got[lam]) for lam in (0.0, 1.0, 100.0)]
    assert norms[0] >= norms[1] >= norms[2]


def test_mutual_information_matches_numpy(spark, sf_smoke):
    """mutual_information_features recomputed with a scipy-free
    contingency-table MI in numpy — pins the xlogx quantization and
    the bucket definitions."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    y = li["l_returnflag"]

    def mi(x):
        tab = pd.crosstab(x, y).to_numpy().astype(np.float64)
        n = tab.sum()
        px = tab.sum(1, keepdims=True)
        py = tab.sum(0, keepdims=True)
        nz = tab > 0
        return float(
            (tab[nz] / n * np.log(tab[nz] * n / (px @ py)[nz])).sum()
        )

    xq = np.floor(li["l_quantity"] / 10.0).astype(int)
    xd = np.floor(np.round(li["l_discount"] * 100) / 3.0).astype(int)
    py = y.value_counts(normalize=True).to_numpy()
    hy = float(-(py * np.log(py)).sum())
    [r] = registry.QUERIES["mutual_information_features"](
        spark, sf_smoke
    ).collect()
    assert r.n == len(li)
    assert abs(r.mi_quantity - mi(xq)) < 1e-5
    assert abs(r.mi_discount - mi(xd)) < 1e-5
    assert abs(r.target_entropy - hy) < 1e-5
    assert 0 <= r.mi_quantity_norm <= 1 and 0 <= r.mi_discount_norm <= 1


def test_conformal_coverage_matches_numpy_and_guarantee(spark, sf_smoke):
    """conformal_interval_coverage recomputed independently in numpy
    (hash split, lstsq fit, order-statistic radius) AND checked
    against the split-conformal guarantee: held-out coverage must sit
    near the nominal 90% (finite-sample band)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    key = (
        li["l_orderkey"].to_numpy() * 8 + li["l_linenumber"].to_numpy()
    )
    split = (key * 10460353 + 1779033703) % 2147483647 % 3
    x = li["l_quantity"].to_numpy(dtype=np.float64)
    y = np.round(li["l_extendedprice"] * 100).astype("int64").astype(
        np.float64
    )
    xt, yt = x[split == 0], y[split == 0]
    A = np.column_stack([np.ones(len(xt)), xt])
    coef, *_ = np.linalg.lstsq(A, yt, rcond=None)
    a, b = coef
    rc = np.sort(np.abs(y[split == 1] - a - b * x[split == 1]))
    k = int(np.ceil((len(rc) + 1) * 0.9))
    radius = rc[k - 1]
    rt = np.abs(y[split == 2] - a - b * x[split == 2])
    cov = float((rt <= radius).mean())

    [r] = registry.QUERIES["conformal_interval_coverage"](
        spark, sf_smoke
    ).collect()
    assert r.n_train == (split == 0).sum()
    assert r.n_cal == len(rc) and r.n_test == len(rt)
    assert abs(r.intercept - a / 100) < 1e-4
    assert abs(r.slope - b / 100) < 1e-6
    assert abs(r.radius - radius / 100) < 1e-4
    assert abs(r.coverage - cov) < 1e-6
    # the distribution-free guarantee, with finite-sample slack
    assert 0.85 <= r.coverage <= 0.97, r.coverage


def test_pacf_matches_yule_walker_solve(spark, sf_smoke):
    """pacf_daily_revenue's Durbin-Levinson recursion checked against
    the DEFINITION: pacf(k) is the last coefficient of the k×k
    Toeplitz Yule-Walker solve — a different algorithm for the same
    quantity, solved with numpy.linalg. Also pins ρ against a direct
    global-mean autocovariance recompute."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    od = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    cents = np.round(od["o_totalprice"] * 100).astype("int64")
    daily = (
        pd.DataFrame({"day": od["o_orderdate"].dt.normalize(), "c": cents})
        .groupby("day")["c"]
        .sum()
        .sort_index()
        .to_numpy()
        .astype(np.float64)
    )
    n = len(daily)
    mu = daily.mean()
    den = ((daily - mu) ** 2).sum()
    rho = np.array(
        [
            ((daily[:-k] - mu) * (daily[k:] - mu)).sum() / den
            for k in range(1, 6)
        ]
    )
    [r] = registry.QUERIES["pacf_daily_revenue"](spark, sf_smoke).collect()
    got_rho = [r.rho1, r.rho2, r.rho3, r.rho4, r.rho5]
    assert np.allclose(got_rho, rho, atol=1e-6), (got_rho, rho)
    got_pacf = [r.pacf1, r.pacf2, r.pacf3, r.pacf4, r.pacf5]
    full = np.concatenate([[1.0], rho])
    for k in range(1, 6):
        toep = np.array(
            [[full[abs(i - j)] for j in range(k)] for i in range(k)]
        )
        phi = np.linalg.solve(toep, rho[:k])
        assert abs(got_pacf[k - 1] - phi[-1]) < 1e-5, (k, got_pacf, phi)


def test_isotonic_minimax_equals_pava(spark, sf_smoke):
    """isotonic_calibration uses the minimax closed form; an
    independent sequential pool-adjacent-violators implementation
    must produce the same monotone fit (the classic equivalence
    theorem, checked numerically on real data)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    g = (
        pd.DataFrame(
            {
                "bin": li["l_quantity"].astype(int),
                "y": (li["l_returnflag"] == "R").astype(int),
            }
        )
        .groupby("bin")
        .agg(n=("y", "size"), pos=("y", "sum"))
        .sort_index()
    )
    # sequential PAVA over (value, weight) blocks
    blocks = [
        [p / n, n] for p, n in zip(g["pos"].astype(float), g["n"])
    ]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] > blocks[i + 1][0] + 1e-15:
            v1, w1 = blocks[i]
            v2, w2 = blocks[i + 1]
            blocks[i] = [(v1 * w1 + v2 * w2) / (w1 + w2), w1 + w2]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    # expand blocks back to bins: each block pooled w rows' worth of
    # consecutive bins — walk bin widths until the block is consumed
    fit = []
    widths = list(g["n"])
    bi = 0
    for v, w in blocks:
        acc = 0
        while acc < w - 1e-9:
            acc += widths[bi]
            fit.append(v)
            bi += 1
    rows = registry.QUERIES["isotonic_calibration"](
        spark, sf_smoke
    ).collect()
    rows.sort(key=lambda r: r.bin)
    assert [r.bin for r in rows] == list(g.index)
    got = np.array([r.iso_rate for r in rows])
    assert np.all(np.diff(got) >= -1e-9)  # monotone
    assert np.allclose(got, np.array(fit), atol=2e-6), (
        list(got),
        fit,
    )


def test_cox_ph_matches_numpy(spark, sf_smoke):
    """cox_proportional_hazards recomputed with an independent numpy
    Breslow partial-likelihood Newton (explicit risk-set suffix sums,
    no SQL) — the shared-text query needs an out-of-band formula
    pin."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    od = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    od = od.assign(
        grp=od["o_orderpriority"].isin(["1-URGENT", "2-HIGH"]).astype(int),
        day=(od["o_orderdate"].dt.normalize()
             - pd.Timestamp("1990-01-01")).dt.days,
    ).sort_values(["o_custkey", "day", "o_orderkey"])
    nxt = od.groupby("o_custkey")["day"].shift(-1)
    ev = pd.DataFrame(
        {"x": od["grp"], "t": (nxt - od["day"])}
    ).dropna()
    ev["t"] = ev["t"].astype(int)
    hist = ev.groupby("t").agg(d=("x", "size"), d1=("x", "sum"))
    hist = hist.sort_index(ascending=False)
    hist["n"] = hist["d"].cumsum()
    hist["n1"] = hist["d1"].cumsum()
    d1tot = ev["x"].sum()

    def step(beta):
        eb = np.exp(beta)
        s = (eb * hist["n1"]) / ((hist["n"] - hist["n1"]) + eb * hist["n1"])
        u = d1tot - (hist["d"] * s).sum()
        i = (hist["d"] * s * (1 - s)).sum()
        return u / i, i

    beta = 0.0
    for k in range(2):
        delta, _ = step(beta)
        beta += delta
        if k == 0:
            beta1 = beta
    _, i2 = step(beta)
    [r] = registry.QUERIES["cox_proportional_hazards"](
        spark, sf_smoke
    ).collect()
    assert r.n_events == len(ev) and r.n_group1_events == d1tot
    assert abs(r.beta_step1 - beta1) < 1e-5
    assert abs(r.beta - beta) < 1e-5
    assert abs(r.hazard_ratio - np.exp(beta)) < 1e-5
    assert abs(r.se - 1 / np.sqrt(i2)) < 1e-5
    assert abs(r.z - beta * np.sqrt(i2)) < 1e-4


def test_theil_sen_and_mann_kendall_match_numpy(spark, sf_smoke):
    """Both trend statistics recomputed independently in numpy from
    the same daily-cents series."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    od = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    cents = np.round(od["o_totalprice"] * 100).astype("int64")
    daily = (
        pd.DataFrame(
            {"day": od["o_orderdate"].dt.floor("D"), "c": cents}
        )
        .groupby("day")["c"]
        .sum()
        .sort_index()
        .to_numpy()
    )
    n = len(daily)
    i, j = np.triu_indices(n, k=1)
    slopes = (daily[j] - daily[i]) / (j - i)
    want_slope = np.median(slopes)
    [r] = registry.QUERIES["theil_sen_trend"](spark, sf_smoke).collect()
    assert r.n_pairs == len(slopes)
    assert abs(r.theil_sen_slope_cents_per_day - want_slope) < 1e-6

    s = int(np.sign(daily[j] - daily[i]).sum())
    vals, counts = np.unique(daily, return_counts=True)
    tie = int(sum(c * (c - 1) * (2 * c + 5) for c in counts if c > 1))
    var18 = n * (n - 1) * (2 * n + 5) - tie
    corr = s - 1 if s > 0 else (s + 1 if s < 0 else 0)
    want_z = corr / np.sqrt(var18 / 18.0)
    [m] = registry.QUERIES["mann_kendall_trend"](spark, sf_smoke).collect()
    assert m.s_stat == s and m.var_times_18 == var18
    assert abs(m.z - want_z) < 1e-6


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_hamming_band_pairs_complete_for_random_tables(spark, data):
    """For ANY fingerprint table and radius < n_bands, the band join
    must return exactly the brute-force Hamming pair set — the
    pigeonhole completeness contract, checked beyond the fixtures."""
    from itertools import combinations

    from kafka_spark_streaming_app_spark.operators.multimodal import (
        hamming_band_pairs,
    )

    n = data.draw(st.integers(min_value=2, max_value=14))
    radius = data.draw(st.integers(min_value=0, max_value=3))
    rows = []
    for i in range(n):
        bands = [
            data.draw(st.integers(min_value=0, max_value=(1 << 16) - 1))
            for _ in range(4)
        ]
        rows.append((i, *bands))
    df = spark.createDataFrame(
        rows, "media_id bigint, b0 bigint, b1 bigint, b2 bigint, b3 bigint"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_band_pairs(df, radius=radius).collect()
    }
    want = set()
    table = {r[0]: r[1:] for r in rows}
    for a, b in combinations(sorted(table), 2):
        ham = sum(
            bin(x ^ y).count("1") for x, y in zip(table[a], table[b])
        )
        if ham <= radius:
            want.add((a, b, ham))
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_partitioned_state_equals_from_scratch_fold(spark, tmp_path_factory, data):
    """For ANY sequence of batches (including replayed batch ids), the
    bucket-partitioned incremental state must equal the from-scratch
    additive fold of the DEDUPLICATED batch sequence."""
    from collections import Counter

    from pyspark.sql import functions as F

    from kafka_spark_streaming_app_spark.streaming.state import (
        merge_into_partitioned_state,
    )

    def merge(existing, part):
        if existing is None:
            return part
        return (
            existing.unionByName(part)
            .groupBy("bucket", "k")
            .agg(F.sum("c").alias("c"))
        )

    n_batches = data.draw(st.integers(min_value=1, max_value=4))
    # batch ids with possible replays
    ids = [data.draw(st.integers(min_value=0, max_value=2)) for _ in range(n_batches)]
    state_dir = str(tmp_path_factory.mktemp("hstate") / "s" / "counts")
    expected = Counter()
    applied_ids = set()
    for bid in ids:
        rows = [
            (
                data.draw(st.integers(min_value=0, max_value=2)),
                data.draw(st.sampled_from(["a", "b", "c"])),
                data.draw(st.integers(min_value=1, max_value=5)),
            )
            for _ in range(data.draw(st.integers(min_value=0, max_value=4)))
        ]
        part = (
            spark.createDataFrame(rows, "bucket int, k string, c bigint")
            # the helper's contract: part arrives PRE-AGGREGATED
            .groupBy("bucket", "k")
            .agg(F.sum("c").alias("c"))
        )
        merge_into_partitioned_state(state_dir, bid, part, merge, "bucket")
        if bid not in applied_ids:  # replays must be no-ops
            applied_ids.add(bid)
            for b, k, c in rows:
                expected[(b, k)] += c
    if expected:
        got = Counter(
            {
                (r.bucket, r.k): r.c
                for r in spark.read.parquet(state_dir).collect()
            }
        )
        assert got == expected


def test_anova_oneway_matches_numpy(spark, sf_smoke):
    """anova_oneway recomputed with a direct numpy SSB/SSW split (the
    SQL is shared text across both engines, so the oracle gate alone
    can't catch a formula bug — this pin can)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()]
    v = np.round(ev["value"].to_numpy() * 100) / 100.0
    grp = ev["event_type"].to_numpy()
    groups = ["click", "error", "purchase", "signup", "view"]
    grand = v.mean()
    ssb = sum(
        (grp == g).sum() * (v[grp == g].mean() - grand) ** 2 for g in groups
    )
    ssw = sum(((v[grp == g] - v[grp == g].mean()) ** 2).sum() for g in groups)
    n, k = len(v), len(groups)
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    [r] = registry.QUERIES["anova_oneway"](spark, sf_smoke).collect()
    assert r.n == n and r.k == k
    assert [r.n1, r.n2, r.n3, r.n4, r.n5] == [
        int((grp == g).sum()) for g in groups
    ]
    assert abs(r.ssb - ssb) < 1e-3 * max(1.0, abs(ssb))
    assert abs(r.ssw - ssw) < 1e-3 * max(1.0, abs(ssw))
    assert abs(r.f_stat - f_stat) < 1e-4 * max(1.0, abs(f_stat))
    assert abs(r.eta_sq - ssb / (ssb + ssw)) < 1e-6


def test_jarque_bera_matches_numpy(spark, sf_smoke):
    """jarque_bera_test recomputed with numpy central moments; also
    pins scale-invariance (cents vs units must cancel)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()]
    rows = {
        r.event_type: r
        for r in registry.QUERIES["jarque_bera_test"](
            spark, sf_smoke
        ).collect()
    }
    for g, sub in ev.groupby("event_type"):
        v = np.round(sub["value"].to_numpy() * 100)  # cents, exact ints
        n = len(v)
        m = v.mean()
        m2 = ((v - m) ** 2).mean()
        m3 = ((v - m) ** 3).mean()
        m4 = ((v - m) ** 4).mean()
        skew = m3 / m2**1.5
        kurt = m4 / m2**2 - 3.0
        jb = n / 6.0 * (skew**2 + kurt**2 / 4.0)
        r = rows[g]
        assert r.n == n
        assert abs(r.skewness - skew) < 1e-5
        assert abs(r.excess_kurtosis - kurt) < 1e-5
        assert abs(r.jb_stat - jb) < 1e-3 * max(1.0, jb)
        assert r.reject_normal_5pct == (jb > 5.991464547107979)


def test_gini_concentration_matches_numpy(spark, sf_smoke):
    """gini_concentration recomputed with the mean-absolute-difference
    definition of Gini (a DIFFERENT formula than the engine's
    rank-weighted sum — same quantity) and a direct share-squared HHI."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    cust = pd.read_parquet(f"{sf_smoke}/customer.parquet")
    orders = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    nation = pd.read_parquet(f"{sf_smoke}/nation.parquet")
    rev = (
        orders.assign(cents=np.round(orders["o_totalprice"] * 100))
        .groupby("o_custkey")["cents"]
        .sum()
        .rename("rev")
        .reset_index()
    )
    j = rev.merge(
        cust[["c_custkey", "c_nationkey"]],
        left_on="o_custkey",
        right_on="c_custkey",
    ).merge(nation[["n_nationkey", "n_name"]], left_on="c_nationkey",
            right_on="n_nationkey")
    got = {
        r.nation: r
        for r in registry.QUERIES["gini_concentration"](
            spark, sf_smoke
        ).collect()
    }
    assert set(got) == set(j["n_name"].unique())
    for name, sub in j.groupby("n_name"):
        x = sub["rev"].to_numpy(dtype=np.float64)
        n = len(x)
        # mean absolute difference form: G = Σ|xi−xj| / (2 n² μ̄)
        mad = np.abs(x[:, None] - x[None, :]).sum()
        gini = mad / (2.0 * n * x.sum())
        hhi = ((x / x.sum()) ** 2).sum()
        r = got[name]
        assert r.n_customers == n
        assert abs(r.total_revenue - x.sum() / 100.0) < 0.5
        assert abs(r.gini - gini) < 1e-6, (name, r.gini, gini)
        assert abs(r.hhi - hhi) < 1e-6


def test_tokenizer_fertility_matches_pure_python(spark, sf_smoke):
    """tokenizer_fertility recomputed with a from-scratch pure-Python
    BPE (Sennrich train loop + greedy merge application) — an
    INDEPENDENT algorithm (list-based merging, not string replace), so
    it pins both the merge semantics and the fertility arithmetic."""
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")

    def norm_tokens(t):
        t = re.sub(r"\s+", " ", (t or "").lower().strip())
        return t.split(" ")

    # vocabulary as symbol TUPLES (not delimiter strings)
    vocab = Counter()
    for t in docs["text"]:
        for w in norm_tokens(t):
            if w and "\x1f" not in w:
                vocab[tuple(w)] += 1
    merges = []
    for _ in range(3):
        pairs = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_vocab = Counter()
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += f
        vocab = new_vocab
    n_sym = {"".join(syms): len(syms) for syms in vocab}
    want = {}
    for lang, sub in docs.groupby("lang"):
        words = tokens_n = nbytes = nchars = 0
        for t in sub["text"]:
            for w in norm_tokens(t):
                if w in n_sym:
                    words += 1
                    tokens_n += n_sym[w]
                    nbytes += len(w.encode("utf-8"))
                    nchars += len(w)
        want[lang] = (words, tokens_n, nbytes, nchars)
    got = {
        r.lang: r
        for r in registry.QUERIES["tokenizer_fertility"](
            spark, sf_smoke
        ).collect()
    }
    assert set(got) == set(want)
    for lang, (words, tokens_n, nbytes, nchars) in want.items():
        r = got[lang]
        assert (r.n_words, r.n_bpe_tokens, r.n_bytes, r.n_chars) == (
            words, tokens_n, nbytes, nchars,
        ), lang
        assert abs(r.fertility - tokens_n / words) < 1e-6
        assert abs(r.bytes_per_token - nbytes / tokens_n) < 1e-6


def test_fim_transform_reassembles_and_cuts_match_md5(spark, sf_smoke):
    """fim_transform pinned two independent ways: (1) the PSM pieces
    reassemble EXACTLY to the normalized document (no token lost or
    duplicated at any boundary), (2) the cut points recompute from
    first principles (hashlib md5, not Spark's md5)."""
    import hashlib
    import re

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet").set_index(
        "doc_id"
    )
    out = registry.QUERIES["fim_transform"](spark, sf_smoke).toPandas()
    assert len(out) == len(docs)
    pat = re.compile(
        r"<fim_prefix>(.*)<fim_suffix>(.*)<fim_middle>(.*)", re.S
    )

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for r in out.itertuples():
        text = docs.loc[r.doc_id, "text"]
        norm = re.sub(r"\s+", " ", (text or "").lower().strip())
        toks = norm.split(" ")
        n = len(toks)
        assert r.n_tokens == n
        a = h60py(f"fim_a|{r.doc_id}") % (n + 1)
        b = h60py(f"fim_b|{r.doc_id}") % (n + 1)
        assert (r.cut_lo, r.cut_hi) == (min(a, b), max(a, b))
        m = pat.fullmatch(r.psm_text)
        assert m, r.psm_text[:80]
        prefix, suffix, middle = m.group(1), m.group(2), m.group(3)
        pieces = [p for p in (prefix, middle, suffix) if p != ""]
        assert " ".join(pieces) == norm, r.doc_id
        assert prefix == " ".join(toks[: r.cut_lo])
        assert middle == " ".join(toks[r.cut_lo : r.cut_hi])
        assert suffix == " ".join(toks[r.cut_hi :])


def test_mixture_sampling_weights_matches_numpy(spark, sf_smoke):
    """mixture_sampling_weights recomputed unquantized in numpy; also
    pins the flattening property (α<1 raises rare-source weights and
    lowers dominant ones) and Σw = 1."""
    import re

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")

    def ntok(t):
        return len(re.sub(r"\s+", " ", (t or "").lower().strip()).split(" "))

    counts = docs.assign(nt=docs["text"].map(ntok)).groupby("source")[
        "nt"
    ].sum()
    out = registry.QUERIES["mixture_sampling_weights"](
        spark, sf_smoke
    ).toPandas().set_index("source")
    assert (out["n_tokens"] == counts.reindex(out.index)).all()
    share = counts / counts.sum()
    for alpha, col in ((0.3, "w_alpha_03"), (0.7, "w_alpha_07"),
                       (1.0, "w_alpha_10")):
        w = share**alpha / (share**alpha).sum()
        assert np.allclose(
            out[col], w.reindex(out.index), atol=1e-5
        ), col
        assert abs(out[col].sum() - 1.0) < 1e-4
    # flattening: the dominant source loses weight as α shrinks,
    # the rarest gains
    big, small = share.idxmax(), share.idxmin()
    assert out.loc[big, "w_alpha_03"] < out.loc[big, "w_alpha_10"]
    assert out.loc[small, "w_alpha_03"] > out.loc[small, "w_alpha_10"]
    # epochs at the 10M budget
    want_ep = 1e7 * out["w_alpha_03"] / out["n_tokens"]
    assert np.allclose(out["epochs_alpha_03"], want_ep, atol=1e-3)


def test_ngram_novelty_matches_pure_python(spark, sf_smoke):
    """ngram_novelty recomputed with plain Python set arithmetic."""
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    sets = {}
    for r in docs.itertuples():
        toks = re.sub(
            r"\s+", " ", (r.text or "").lower().strip()
        ).split(" ")
        sets[r.doc_id] = {
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
        }
    df = Counter()
    for s in sets.values():
        df.update(s)
    out = registry.QUERIES["ngram_novelty"](spark, sf_smoke).toPandas()
    assert len(out) == len(docs)
    for r in out.itertuples():
        s = sets[r.doc_id]
        shared = sum(1 for g in s if df[g] > 1)
        assert r.n_shingles == len(s)
        assert r.n_shared == shared
        if len(s) > 0:
            assert abs(r.novelty - (1.0 - shared / len(s))) < 1e-6
        else:
            assert r.novelty is None or pd.isna(r.novelty)
        assert r.dup_risk == (shared >= 5)


def test_colbert_maxsim_matches_numpy(spark, sf_smoke):
    """colbert_maxsim_topk recomputed with dense numpy matrices
    (reshape to (8,8) token vectors, full cosine matrix, max-per-row
    then sum) — no quantization, so agreement to ~1e-5 pins both the
    chunking and the MaxSim algebra."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64).reshape(8, 8)
        for r in emb.itertuples()
    }
    out = registry.QUERIES["colbert_maxsim_topk"](
        spark, sf_smoke
    ).toPandas()
    for qid in range(5):
        qm = vecs[qid]
        qn = np.linalg.norm(qm, axis=1)
        qkeep = qn > 0
        scores = {}
        for cid, cm in vecs.items():
            if cid == qid:
                continue
            cn = np.linalg.norm(cm, axis=1)
            ckeep = cn > 0
            if not qkeep.any() or not ckeep.any():
                continue
            cosm = (qm[qkeep] @ cm[ckeep].T) / np.outer(
                qn[qkeep], cn[ckeep]
            )
            scores[cid] = cosm.max(axis=1).sum()
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        sub = out[out["query_id"] == qid].sort_values("rank")
        assert list(sub["corpus_id"]) == [cid for cid, _ in top], qid
        for (cid, s), got in zip(top, sub["maxsim"]):
            assert abs(got - s) < 1e-4, (qid, cid, got, s)


def test_colbert_maxsim_ivf_matches_numpy(spark, sf_smoke):
    """colbert_maxsim_ivf recomputed end-to-end in numpy: doc-level
    IVF routing (first-16 centroids, cosine argmax assignment, 2-probe
    queries) then dense MaxSim over the candidates only — pins the
    routing AND that scoring equals the flat MaxSim restricted to the
    probed cells."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    flat = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    # doc-level routing with the query's exact tie-break (rounded
    # cosine desc, centroid_id asc)
    cents = {i: flat[i] for i in range(16) if np.linalg.norm(flat[i]) > 0}

    def ranked_cells(v):
        nv = np.linalg.norm(v)
        sims = [
            (-round(float(v @ cv) / (nv * np.linalg.norm(cv)), 6), cid)
            for cid, cv in cents.items()
        ]
        return [cid for _, cid in sorted(sims)]

    assign = {
        vid: ranked_cells(v)[0]
        for vid, v in flat.items()
        if np.linalg.norm(v) > 0
    }
    out = registry.QUERIES["colbert_maxsim_ivf"](spark, sf_smoke).toPandas()
    vecs = {vid: v.reshape(8, 8) for vid, v in flat.items()}
    for qid in range(5):
        probes = set(ranked_cells(flat[qid])[:2])
        cand = {
            vid for vid, cell in assign.items()
            if cell in probes and vid != qid
        }
        qm = vecs[qid]
        qn = np.linalg.norm(qm, axis=1)
        qkeep = qn > 0
        scores = {}
        for cid in cand:
            cm = vecs[cid]
            cn = np.linalg.norm(cm, axis=1)
            ckeep = cn > 0
            if not qkeep.any() or not ckeep.any():
                continue
            cosm = (qm[qkeep] @ cm[ckeep].T) / np.outer(
                qn[qkeep], cn[ckeep]
            )
            scores[cid] = cosm.max(axis=1).sum()
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        sub = out[out["query_id"] == qid].sort_values("rank")
        assert list(sub["corpus_id"]) == [cid for cid, _ in top], qid
        for (cid, s), got in zip(top, sub["maxsim"]):
            assert abs(got - s) < 1e-4, (qid, cid, got, s)


def test_matryoshka_recall_matches_numpy(spark, sf_smoke):
    """matryoshka_prefix_recall recomputed densely in numpy: per-dim
    prefix-cosine top-10 with the (rounded-6 desc, id asc) tie-break,
    overlap against the full-dim top-10 — pins slicing, norm
    handling, and the recall arithmetic."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    out = registry.QUERIES["matryoshka_prefix_recall"](
        spark, sf_smoke
    ).toPandas()

    def topk(qid, d):
        qv = vecs[qid][:d]
        qn = np.linalg.norm(qv)
        if qn == 0:
            return []
        scored = []
        for cid, v in vecs.items():
            if cid == qid:
                continue
            cv = v[:d]
            cn = np.linalg.norm(cv)
            if cn == 0:
                continue
            scored.append((-round(float(qv @ cv) / (qn * cn), 6), cid))
        return [cid for _, cid in sorted(scored)[:10]]

    for qid in range(5):
        full = set(topk(qid, 64))
        for d in (8, 16, 32, 64):
            got = out[(out["query_id"] == qid) & (out["dim"] == d)]
            assert len(got) == 1, (qid, d)
            expect = len(set(topk(qid, d)) & full)
            assert int(got["n_overlap"].iloc[0]) == expect, (qid, d)
            assert abs(
                float(got["recall_at_10"].iloc[0]) - expect / 10.0
            ) < 1e-9
        assert int(
            out[(out["query_id"] == qid) & (out["dim"] == 64)][
                "n_overlap"
            ].iloc[0]
        ) == 10  # the dim=64 self-check row


def test_hilbert_layout_matches_pure_python(spark, sf_smoke):
    """hilbert_layout recomputed with the reference xy2d walk in pure
    Python, plus the defining curve property checked directly: two
    points at consecutive Hilbert indices are grid-adjacent (Manhattan
    distance exactly 1) — true of Hilbert, false of Morton, so it pins
    the rotation logic, not just agreement between two ports."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    def xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = s - 1 - x
                    y = s - 1 - y
                x, y = y, x
            s //= 2
        return d

    # curve property on the full 32x32 grid
    idx = {xy2d(32, x, y): (x, y) for x in range(32) for y in range(32)}
    assert len(idx) == 1024  # bijective
    for d in range(1023):
        (x1, y1), (x2, y2) = idx[d], idx[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d

    registry.load_all()
    orders = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    ledger = {}
    for r in orders.itertuples():
        x = int(r.o_custkey) % 1024
        y = (pd.Timestamp(r.o_orderdate) - pd.Timestamp("1970-01-01")).days % 1024
        b = xy2d(1024, x, y) >> 12
        n, mnx, mxx, mny, mxy = ledger.get(
            b, (0, 10**9, -1, 10**9, -1)
        )
        ledger[b] = (
            n + 1, min(mnx, x), max(mxx, x), min(mny, y), max(mxy, y)
        )
    out = registry.QUERIES["hilbert_layout"](spark, sf_smoke).toPandas()
    assert len(out) == len(ledger)
    for r in out.itertuples():
        n, mnx, mxx, mny, mxy = ledger[int(r.h_bucket)]
        assert (
            r.n_rows, r.min_x, r.max_x, r.min_y, r.max_y
        ) == (n, mnx, mxx, mny, mxy), r.h_bucket


def test_dsir_weights_match_pure_python(spark, sf_smoke):
    """dsir_importance_weights recomputed with hashlib + math.log (no
    Spark, no SQL): hashed-bigram counts for target ('en') and source
    pools, add-1 smoothed per-feature log ratios floor-quantized at
    1e-6, summed per doc."""
    import hashlib
    import math
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    B = 1024

    def feats(text):
        norm = re.sub(r"\s+", " ", (text or "").strip().lower())
        ws = norm.split(" ")
        return [
            int(hashlib.md5(f"{a}|{b}".encode()).hexdigest()[:15], 16) % B
            for a, b in zip(ws, ws[1:])
        ]

    per_doc = {r.doc_id: feats(r.text) for r in docs.itertuples()}
    langs = dict(zip(docs.doc_id, docs.lang))
    tgt, src = Counter(), Counter()
    for did, fs in per_doc.items():
        src.update(fs)
        if langs[did] == "en":
            tgt.update(fs)
    nt, ns = sum(tgt.values()), sum(src.values())
    q = {
        f: math.floor(
            1e6
            * math.log(
                ((tgt.get(f, 0) + 1) * (ns + B))
                / ((src[f] + 1) * (nt + B))
            )
        )
        for f in src
    }
    out = registry.QUERIES["dsir_importance_weights"](
        spark, sf_smoke
    ).toPandas()
    assert len(out) == len(docs)
    for r in out.itertuples():
        fs = per_doc[r.doc_id]
        assert r.n_feats == len(fs), r.doc_id
        if not fs:
            assert pd.isna(r.dsir_weight)
        else:
            expect = round(sum(q[f] for f in fs) / 1e6, 6)
            assert abs(r.dsir_weight - expect) < 1e-9, r.doc_id


def test_streaming_reservoir_matches_pure_python(spark, sf_smoke):
    """streaming_reservoir_sample recomputed from the events parquet
    with math.log (no Spark, no SQL): the per-day top-20 by the
    quantized ES key must match what the multi-batch streaming
    maintenance produced — batch-boundary independence pinned against
    a from-first-principles implementation."""
    import math

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"] > 0]
    P, A, C = 2147483647, 9_436_571, 1_987_654_321 % 2147483647
    want = {}
    for r in ev.itertuples():
        u = ((r.event_id * A + C) % P + 1.0) / P
        key = math.floor(1e12 * (math.log(u) / r.value))
        day = pd.Timestamp(r.ts).date()
        want.setdefault(day, []).append((-key, r.event_id, r.event_type))
    out = registry.QUERIES["streaming_reservoir_sample"](
        spark, sf_smoke
    ).toPandas()
    for day, rows in want.items():
        top = sorted(rows)[:20]
        sub = out[out["day"].dt.date == day].sort_values("sample_rank")
        assert len(sub) == min(20, len(rows)), day
        assert [eid for _, eid, _ in top] == list(sub["event_id"]), day
        assert [(-k) for k, _, _ in top] == list(sub["es_key_q"]), day


def test_dataset_datasheet_matches_pandas_pivot(spark, sf_smoke):
    """dataset_datasheet's grouping-set algebra recomputed with pandas
    groupbys at each granularity; spot-checks totals consistency
    (the () row equals the sum over (lang, source) cells)."""
    import re

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")

    def stats(t):
        toks = re.sub(r"\s+", " ", (t or "").lower().strip()).split(" ")
        return len(toks), len(set(toks))

    docs[["n_tokens", "n_distinct"]] = [
        stats(t) for t in docs["text"]
    ]
    out = registry.QUERIES["dataset_datasheet"](spark, sf_smoke).toPandas()
    nl = docs["lang"].nunique()
    ns = docs["source"].nunique()
    ncell = docs.groupby(["lang", "source"]).ngroups
    assert len(out) == ncell + nl + ns + 1
    # per-lang rows
    for lang, sub in docs.groupby("lang"):
        r = out[(out["lang"] == lang) & (out["source"] == "ALL")]
        assert len(r) == 1
        r = r.iloc[0]
        assert r["n_docs"] == len(sub)
        assert r["total_tokens"] == sub["n_tokens"].sum()
        assert abs(r["mean_ttr"]
                   - sub["n_distinct"].sum() / sub["n_tokens"].sum()) < 1e-6
    # grand total row
    tot = out[(out["lang"] == "ALL") & (out["source"] == "ALL")].iloc[0]
    assert tot["n_docs"] == len(docs)
    assert tot["total_tokens"] == docs["n_tokens"].sum()
    assert tot["total_chars"] == docs["n_chars"].sum()
    assert tot["min_tokens"] == docs["n_tokens"].min()
    assert tot["max_tokens"] == docs["n_tokens"].max()
    # cell rows sum to the total
    cells = out[(out["lang"] != "ALL") & (out["source"] != "ALL")]
    assert cells["n_docs"].sum() == len(docs)
    assert cells["total_tokens"].sum() == docs["n_tokens"].sum()


def test_contrastive_pairs_matches_pure_python(spark, sf_smoke):
    """contrastive_pairs pinned by plain-Python crop arithmetic and
    set-based hard-negative mining; also checks the contrastive
    contract (anchor/positive overlap is at least n/3 tokens, and the
    hard negative genuinely maximizes shared shingles)."""
    import math
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    toks = {}
    sets = {}
    for r in docs.itertuples():
        t = re.sub(r"\s+", " ", (r.text or "").lower().strip()).split(" ")
        toks[r.doc_id] = t
        sets[r.doc_id] = {
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        }
    out = registry.QUERIES["contrastive_pairs"](spark, sf_smoke).toPandas()
    assert len(out) == len(docs)
    # shingle -> docs inverted index for fast shared counts
    inv = {}
    for d, s in sets.items():
        for g in s:
            inv.setdefault(g, []).append(d)
    for r in out.sample(n=60, random_state=7).itertuples():
        t = toks[r.doc_id]
        n = len(t)
        assert r.n_tokens == n
        assert r.anchor_text == " ".join(t[: math.ceil(2 * n / 3)])
        assert r.positive_text == " ".join(t[n // 3 :])
        shared = Counter()
        for g in sets[r.doc_id]:
            for d in inv[g]:
                if d != r.doc_id:
                    shared[d] += 1
        if not shared:
            assert pd.isna(r.hard_negative_id)
            assert r.shared_shingles == 0
            continue
        best = min(
            shared.items(), key=lambda kv: (-kv[1], kv[0])
        )
        assert (r.hard_negative_id, r.shared_shingles) == best, r.doc_id


def test_bleu_rouge_matches_pure_python(spark, sf_smoke):
    """bleu_rouge_eval recomputed with a from-scratch pure-Python
    corpus BLEU (Counter-clipped matches, unquantized math.log/exp)
    and ROUGE-N recall — independent of both engines' SQL."""
    import hashlib
    import math
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    per_source = {}
    for r in docs.itertuples():
        ref = re.sub(
            r"\s+", " ", (r.text or "").lower().strip()
        ).split(" ")
        cand = [
            t
            for p, t in enumerate(ref)
            if h60py(f"bleu|{r.doc_id}|{p}") % 5 != 0
        ]
        per_source.setdefault(r.source, []).append((cand, ref))
    out = registry.QUERIES["bleu_rouge_eval"](spark, sf_smoke).toPandas()
    assert len(out) == len(per_source)
    for row in out.itertuples():
        pairs = per_source[row.source]
        c_tok = sum(len(c) for c, _ in pairs)
        r_tok = sum(len(r_) for _, r_ in pairs)
        assert (row.c_tokens, row.r_tokens) == (c_tok, r_tok)
        assert row.n_docs == len(pairs)
        logs = 0.0
        for n in range(1, 5):
            matched = total_c = total_r = 0
            for cand, ref in pairs:
                cg = Counter(
                    tuple(cand[i : i + n])
                    for i in range(len(cand) - n + 1)
                )
                rg = Counter(
                    tuple(ref[i : i + n]) for i in range(len(ref) - n + 1)
                )
                matched += sum(
                    min(cnt, rg[g]) for g, cnt in cg.items()
                )
                total_c += max(len(cand) - n + 1, 0)
                total_r += max(len(ref) - n + 1, 0)
            p = matched / total_c
            assert abs(getattr(row, f"p{n}") - p) < 1e-6, (row.source, n)
            if n == 1:
                assert abs(row.rouge1_recall - matched / total_r) < 1e-6
            if n == 2:
                assert abs(row.rouge2_recall - matched / total_r) < 1e-6
            logs += math.log(p) / 4.0
        bp = math.exp(1.0 - r_tok / c_tok) if c_tok < r_tok else 1.0
        assert abs(row.bleu - bp * math.exp(logs)) < 1e-5, row.source
        assert 0.0 < row.bleu < 1.0  # deletion corruption: nontrivial


def test_wasserstein_drift_matches_numpy(spark, sf_smoke):
    """wasserstein_length_drift recomputed with the QUANTILE-function
    definition of W1 (mean |sorted-sample interpolation| via the
    pooled-grid CDF integral in numpy) — a different formulation of
    the same quantity than the engine's cross-multiplied CDF area."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    out = registry.QUERIES["wasserstein_length_drift"](
        spark, sf_smoke
    ).toPandas().set_index("source")
    all_vals = np.sort(docs["n_chars"].unique())
    for source, sub in docs.groupby("source"):
        a = np.sort(sub["n_chars"].to_numpy())
        b = np.sort(docs.loc[docs["source"] != source, "n_chars"].to_numpy())
        # CDF-integral W1 on the merged grid
        fa = np.searchsorted(a, all_vals, side="right") / len(a)
        fb = np.searchsorted(b, all_vals, side="right") / len(b)
        w1 = float(np.sum(np.abs(fa - fb)[:-1] * np.diff(all_vals)))
        r = out.loc[source]
        assert r["n_docs"] == len(a)
        assert abs(r["w1_vs_rest"] - w1) < 1e-6, (source, r["w1_vs_rest"], w1)


def test_cuped_matches_numpy(spark, sf_smoke):
    """cuped_variance_reduction recomputed with numpy per-user arrays
    (population-moment θ, direct variance of the adjusted metric) —
    pins θ, both mean differences, and that the variance-reduction
    ratio equals ρ²(X,Y)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["cents"] = np.round(ev["value"] * 100).astype("int64")
    ev["pre"] = ev["ts"].dt.date < pd.Timestamp("2024-01-16").date()
    per_user = ev.groupby("user_id").apply(
        lambda g: pd.Series(
            {
                "x": g.loc[g["pre"], "cents"].sum(),
                "y": g.loc[~g["pre"], "cents"].sum(),
            }
        ),
        include_groups=False,
    )
    x = per_user["x"].to_numpy(dtype=np.float64)
    y = per_user["y"].to_numpy(dtype=np.float64)
    arm = (per_user.index.to_numpy() % 2).astype(int)
    theta = np.cov(x, y, bias=True)[0, 1] / x.var()
    y_adj = y - theta * (x - x.mean())
    [r] = registry.QUERIES["cuped_variance_reduction"](
        spark, sf_smoke
    ).collect()
    assert (r.n0, r.n1) == (int((arm == 0).sum()), int((arm == 1).sum()))
    assert abs(r.theta - theta) < 1e-5
    assert abs(
        r.mean_diff_raw - (y[arm == 1].mean() - y[arm == 0].mean()) / 100
    ) < 1e-4
    assert abs(
        r.mean_diff_cuped
        - (y_adj[arm == 1].mean() - y_adj[arm == 0].mean()) / 100
    ) < 1e-4
    assert abs(r.var_y_pooled - y.var() / 1e4) < 1e-2 * max(1, y.var() / 1e4)
    assert abs(r.var_y_cuped - y_adj.var() / 1e4) < 1e-2 * max(
        1, y_adj.var() / 1e4
    )
    rho2 = np.corrcoef(x, y)[0, 1] ** 2
    assert abs(r.variance_reduction - rho2) < 1e-5
    # CUPED must actually help on this fixture
    assert r.var_y_cuped < r.var_y_pooled


def test_msprt_matches_numpy_and_is_monotone(spark, sf_smoke):
    """msprt_always_valid recomputed day-by-day in numpy (unquantized
    Λ path); pins the likelihood-ratio formula, the running-max
    inversion, and the always-valid contract (p non-increasing)."""
    import math

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["cents"] = np.round(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.normalize()
    ev["arm"] = (ev["user_id"] % 2).astype(int)
    out = registry.QUERIES["msprt_always_valid"](
        spark, sf_smoke
    ).toPandas().sort_values("day").reset_index(drop=True)
    tau2 = 25.0
    best_lam = 0.0
    prev_p = 1.0
    for i, day in enumerate(sorted(ev["day"].unique())):
        sub = ev[ev["day"] <= day]
        a = sub.loc[sub["arm"] == 0, "cents"].to_numpy() / 100.0
        b = sub.loc[sub["arm"] == 1, "cents"].to_numpy() / 100.0
        delta = b.mean() - a.mean()
        se2 = a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
        lam = math.sqrt(se2 / (se2 + tau2)) * math.exp(
            delta * delta * tau2 / (2 * se2 * (se2 + tau2))
        )
        best_lam = max(best_lam, lam)
        p = min(1.0, 1.0 / best_lam)
        r = out.iloc[i]
        assert (r["n0"], r["n1"]) == (len(a), len(b))
        assert abs(r["delta"] - delta) < 1e-5
        assert abs(r["se"] - math.sqrt(se2)) < 1e-5
        assert abs(r["lambda_t"] - lam) < 1e-4 * max(1, lam)
        assert abs(r["p_always_valid"] - p) < 1e-4
        assert r["p_always_valid"] <= prev_p + 1e-9  # monotone
        prev_p = r["p_always_valid"]
        assert r["significant_5pct"] == (r["p_always_valid"] < 0.05)


def test_srm_check_matches_scipy_reference(spark, sf_smoke):
    """srm_check recomputed with the direct χ² GOF formula over
    per-user arm counts (scipy-free reference)."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    arms = (ev.groupby("user_id").size().index % 2).astype(int)
    n0 = int((arms == 0).sum())
    n1 = int((arms == 1).sum())
    e = (n0 + n1) / 2.0
    chi2 = (n0 - e) ** 2 / e + (n1 - e) ** 2 / e
    [r] = registry.QUERIES["srm_check"](spark, sf_smoke).collect()
    assert (r.n0, r.n1, r.n) == (n0, n1, n0 + n1)
    assert abs(r.chi2 - chi2) < 1e-6
    assert r.srm_detected_5pct == (chi2 > 3.841458820694124)


def test_qte_matches_numpy(spark, sf_smoke):
    """quantile_treatment_effect recomputed with numpy linear-
    interpolation percentiles on the cents grid — a THIRD
    implementation vs Spark's percentile() and DuckDB's
    quantile_cont."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()]
    cents = np.round(ev["value"].to_numpy() * 100).astype("int64")
    arm = (ev["user_id"].to_numpy() % 2).astype(int)
    [r] = registry.QUERIES["quantile_treatment_effect"](
        spark, sf_smoke
    ).collect()
    assert (r.n0, r.n1) == (int((arm == 0).sum()), int((arm == 1).sum()))
    for a in (0, 1):
        v = cents[arm == a]
        for q in (10, 25, 50, 75, 90):
            want = float(np.percentile(v, q)) / 100.0
            got = getattr(r, f"p{q}_arm{a}")
            assert abs(got - want) < 1e-9, (a, q, got, want)
    for q in (10, 25, 50, 75, 90):
        assert abs(
            getattr(r, f"qte_p{q}")
            - (getattr(r, f"p{q}_arm1") - getattr(r, f"p{q}_arm0"))
        ) < 1e-6


def test_lsa_top_terms_matches_numpy_iteration_and_svd(spark, sf_smoke):
    """lsa_top_terms pinned two ways: (1) exact replay of the
    quantized integer power iteration in numpy (bit-identical
    loadings/ranking), (2) the resulting direction must align with
    numpy's TRUE top right-singular vector of the unquantized TF-IDF
    matrix (|cos| — two power iterations from a random seed should
    already be strongly aligned)."""
    import hashlib
    import math
    import re

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    n_docs = len(docs)
    tf = {}
    dfc = {}
    for r in docs.itertuples():
        toks = re.sub(
            r"\s+", " ", (r.text or "").lower().strip()
        ).split(" ")
        row = {}
        for t in toks:
            row[t] = row.get(t, 0) + 1
        tf[r.doc_id] = row
        for t in row:
            dfc[t] = dfc.get(t, 0) + 1
    terms = sorted(t for t, d in dfc.items() if d < 400)
    tidx = {t: i for i, t in enumerate(terms)}
    dids = sorted(tf)
    A = np.zeros((len(dids), len(terms)))
    Wq = np.zeros_like(A, dtype=np.int64)
    for di, d in enumerate(dids):
        for t, c in tf[d].items():
            if t in tidx:
                w = c * math.log(n_docs / dfc[t])
                A[di, tidx[t]] = w
                Wq[di, tidx[t]] = math.floor(1e6 * w)

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    v = np.array(
        [1 if h60py(f"lsa|{t}") % 2 == 0 else -1 for t in terms],
        dtype=np.int64,
    )

    def norm_grid(x):
        m = np.abs(x).max()
        return np.floor(1e6 * x.astype(np.float64) / m).astype(np.int64)

    u = norm_grid(Wq @ v)
    v = norm_grid(Wq.T @ u)
    u = norm_grid(Wq @ v)
    v2 = Wq.T @ u
    m = np.abs(v2).max()
    order = sorted(
        range(len(terms)), key=lambda i: (-abs(int(v2[i])), terms[i])
    )[:20]
    out = registry.QUERIES["lsa_top_terms"](spark, sf_smoke).toPandas()
    assert list(out["token"]) == [terms[i] for i in order]
    for rank, i in enumerate(order):
        assert abs(
            out["loading"].iloc[rank] - round(float(v2[i]) / m, 6)
        ) < 1e-9
        assert out["df"].iloc[rank] == dfc[terms[i]]
    # alignment with the true top singular direction
    _, _, vt = np.linalg.svd(A, full_matrices=False)
    true_v = vt[0]
    cos = abs(
        float(v2 @ true_v) / (np.linalg.norm(v2) * np.linalg.norm(true_v))
    )
    assert cos > 0.9, cos


def test_kneser_ney_matches_pure_python(spark, sf_smoke):
    """kneser_ney_perplexity recomputed with a from-scratch pure-
    Python KN bigram model (dict counts, unquantized math.log); also
    pins KN > MLE perplexity on self-evaluation (the discount's
    held-out insurance premium)."""
    import math
    import re
    from collections import Counter, defaultdict

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    out = registry.QUERIES["kneser_ney_perplexity"](
        spark, sf_smoke
    ).toPandas().set_index("lang")
    D = 0.75
    for lang, sub in docs.groupby("lang"):
        c12 = Counter()
        for t in sub["text"]:
            toks = re.sub(
                r"\s+", " ", (t or "").lower().strip()
            ).split(" ")
            for a, b in zip(toks, toks[1:]):
                c12[(a, b)] += 1
        c1 = Counter()
        nfw = defaultdict(set)
        nbw = defaultdict(set)
        for (a, b), c in c12.items():
            c1[a] += c
            nfw[a].add(b)
            nbw[b].add(a)
        B = len(c12)
        n = sum(c12.values())
        lp_kn = lp_mle = 0.0
        for (a, b), c in c12.items():
            p = (c - D) / c1[a] + D * len(nfw[a]) / c1[a] * (
                len(nbw[b]) / B
            )
            lp_kn += c * math.log(p)
            lp_mle += c * math.log(c / c1[a])
        pp_kn = math.exp(-lp_kn / n)
        pp_mle = math.exp(-lp_mle / n)
        r = out.loc[lang]
        assert r["n_bigrams"] == n
        assert r["bigram_types"] == B
        assert abs(r["pp_kneser_ney"] - pp_kn) < 1e-3 * pp_kn, lang
        assert abs(r["pp_mle"] - pp_mle) < 1e-3 * pp_mle, lang
        assert r["pp_kneser_ney"] > r["pp_mle"], lang


def test_grouped_arrow_median_center_matches_pandas(spark, sf_smoke):
    """grouped_median_center_arrow recomputed with pandas order
    statistics; also pins Σ dev2 ≈ 0-ish properties per group (sum of
    deviations from the median needn't be 0, but count above ==
    count below within ties)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["vc"] = np.round(ev["value"] * 100).astype("int64")
    out = registry.QUERIES["grouped_median_center_arrow"](
        spark, sf_smoke
    ).toPandas()
    assert len(out) == len(ev)
    for g, sub in ev.groupby("event_type"):
        v = np.sort(sub["vc"].to_numpy())
        n = len(v)
        lo, hi = int(v[(n - 1) // 2]), int(v[n // 2])
        osub = out[out["event_type"] == g].set_index("event_id")
        for r in sub.itertuples():
            assert (
                osub.loc[r.event_id, "dev2_from_median"]
                == 2 * r.vc - (lo + hi)
            )
        # median property: at most half strictly above / below
        dev = osub["dev2_from_median"]
        assert (dev > 0).sum() <= n / 2 + 1
        assert (dev < 0).sum() <= n / 2 + 1


def test_ips_offline_eval_matches_pure_python(spark, sf_smoke):
    """ips_offline_eval recomputed from first principles with hashlib
    h60 and plain floats; also pins the OPE sanity relations
    (ESS ≤ n, max_weight ≥ 1 impossible to assert in general but
    SNIPS must lie within the reward range)."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()]
    acts = ["click", "error", "purchase", "signup", "view"]

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def wgt(salt, u, a):
        return 1 + h60py(f"{salt}|{u}|{a}") % 5

    rho_q = []
    rc = []
    for r in ev.itertuples():
        wl = wgt("logp", r.user_id, r.event_type)
        wt = wgt("tgtp", r.user_id, r.event_type)
        wls = sum(wgt("logp", r.user_id, a) for a in acts)
        wts = sum(wgt("tgtp", r.user_id, a) for a in acts)
        rho_q.append(math.floor(1e6 * (wt * wls) / (wl * wts)))
        rc.append(round(r.value * 100))
    rho_q = np.array(rho_q, dtype=np.int64)
    rc = np.array(rc, dtype=np.int64)
    n = len(rc)
    [r] = registry.QUERIES["ips_offline_eval"](spark, sf_smoke).collect()
    assert r.n == n
    assert abs(r.v_logged - rc.sum() / 100 / n) < 1e-5
    assert abs(r.v_ips - float((rc * rho_q).sum()) / 1e6 / 100 / n) < 1e-5
    assert abs(
        r.v_snips - float((rc * rho_q).sum()) / float(rho_q.sum()) / 100
    ) < 1e-5
    assert abs(
        r.ess - float(rho_q.sum()) ** 2 / float((rho_q**2).sum())
    ) < 1e-3
    assert abs(r.max_weight - rho_q.max() / 1e6) < 1e-9
    # diagnostics behave: ESS cannot exceed n; SNIPS within range
    assert r.ess <= n
    assert 0 <= r.v_snips <= rc.max() / 100


def test_fellegi_sunter_matches_pure_python(spark, sf_smoke):
    """fellegi_sunter_linkage recomputed from first principles in
    Python (dict counts, math.log weights); also pins linkage QUALITY:
    precision and recall of the score>0 rule on the planted truth."""
    import math

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    cust = pd.read_parquet(f"{sf_smoke}/customer.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
    rot = dict(zip(segs, segs[1:] + segs[:1]))
    A, B = {}, {}
    for r in cust.itertuples():
        ck = r.c_custkey
        balb = round(r.c_acctbal / 100.0)
        A[ck] = (ck % 97, r.c_mktsegment, r.c_nationkey, balb)
        B[ck] = (
            (ck % 97 + 1) % 97 if ck % 7 == 0 else ck % 97,
            rot.get(r.c_mktsegment, "AUTOMOBILE")
            if ck % 10 == 0
            else r.c_mktsegment,
            r.c_nationkey,
            balb + (1 if ck % 4 == 0 else 0),
        )
    by_nat = {}
    for ck, (f1, seg, nat, bal) in A.items():
        by_nat.setdefault(nat, []).append(ck)
    nm = nu = 0
    mc = [0, 0, 0]
    uc = [0, 0, 0]
    pairs = []
    for nat, members in by_nat.items():
        for ca in members:
            for cb in members:
                g = (
                    A[ca][0] == B[cb][0],
                    A[ca][1] == B[cb][1],
                    A[ca][3] == B[cb][3],
                )
                m = ca == cb
                pairs.append((ca, cb, g, m))
                if m:
                    nm += 1
                    for i in range(3):
                        mc[i] += g[i]
                else:
                    nu += 1
                    for i in range(3):
                        uc[i] += g[i]
    wa = [
        math.floor(1e9 * math.log(
            ((mc[i] + 1) * (nu + 2)) / ((uc[i] + 1) * (nm + 2))
        ))
        for i in range(3)
    ]
    wd = [
        math.floor(1e9 * math.log(
            ((nm + 1 - mc[i]) * (nu + 2)) / ((nu + 1 - uc[i]) * (nm + 2))
        ))
        for i in range(3)
    ]
    want = {}
    for ca, cb, g, m in pairs:
        s = sum(wa[i] if g[i] else wd[i] for i in range(3))
        if s > 0:
            want[(ca, cb)] = (s, m)
    out = registry.QUERIES["fellegi_sunter_linkage"](
        spark, sf_smoke
    ).toPandas()
    got = {
        (r.ck_a, r.ck_b): (r.score_q, r.is_true_match)
        for r in out.itertuples()
    }
    assert got == want
    # linkage quality on the planted truth
    tp = sum(1 for s, m in got.values() if m)
    fp = len(got) - tp
    recall = tp / nm
    precision = tp / (tp + fp)
    assert recall > 0.85, recall
    assert precision > 0.3, precision


def test_forecast_backtest_matches_pandas(spark, sf_smoke):
    """forecast_backtest_rolling recomputed with pandas shifts/rolling
    — pins the no-lookahead frames, the exact cent errors, and the
    winner verdict."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    orders = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    daily = (
        orders.assign(
            day=pd.to_datetime(orders["o_orderdate"]).dt.normalize(),
            cents=np.round(orders["o_totalprice"] * 100).astype("int64"),
        )
        .groupby("day")["cents"]
        .sum()
        .sort_index()
    )
    f_naive = daily.shift(1)
    f_seasonal = daily.shift(7)
    f_mean7 = (
        daily.rolling(7, min_periods=1).sum().shift(1)
        / daily.rolling(7, min_periods=1).count().shift(1)
    ).apply(np.floor)
    mask = f_seasonal.notna()
    [r] = registry.QUERIES["forecast_backtest_rolling"](
        spark, sf_smoke
    ).collect()
    assert r.n_origins == int(mask.sum())
    maes = {}
    for name, fc in (
        ("naive", f_naive),
        ("seasonal", f_seasonal),
        ("mean7", f_mean7),
    ):
        e = (daily[mask] - fc[mask]).abs()
        mae = e.sum() / 100.0 / mask.sum()
        maes[name] = e.sum()
        assert abs(getattr(r, f"mae_{name}") - mae) < 1e-4, name
        mape = (
            np.floor(e * 1e6 / daily[mask]).sum() / 1e6 / mask.sum()
        )
        assert abs(getattr(r, f"mape_{name}") - mape) < 1e-5, name
    best = min(
        ["mean7", "naive", "seasonal"], key=lambda k: maes[k]
    )
    assert r.best_by_mae == best


def test_uplift_qini_matches_pandas(spark, sf_smoke):
    """uplift_qini_deciles recomputed with pandas qcut-free explicit
    ntile (rank arithmetic) and direct cumulative Qini increments."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["cents"] = np.round(ev["value"] * 100).astype("int64")
    ev["pre"] = ev["ts"].dt.date < pd.Timestamp("2024-01-16").date()
    per_user = pd.DataFrame(
        {
            "x": ev[ev["pre"]].groupby("user_id")["cents"].sum(),
            "y": ev[~ev["pre"]].groupby("user_id")["cents"].sum(),
        }
    ).fillna(0).astype("int64")
    per_user["arm"] = (per_user.index % 2).astype(int)
    pu = per_user.sort_values(
        ["x"], ascending=False, kind="mergesort"
    )
    # deterministic tie-break by user_id within equal x
    pu = per_user.reset_index().sort_values(
        ["x", "user_id"], ascending=[False, True]
    )
    n = len(pu)
    # SQL ntile: first (n % 10) buckets get ceil(n/10)
    base, extra = divmod(n, 10)
    sizes = [base + 1 if i < extra else base for i in range(10)]
    deciles = np.repeat(np.arange(1, 11), sizes)
    pu["decile"] = deciles
    out = registry.QUERIES["uplift_qini_deciles"](
        spark, sf_smoke
    ).toPandas().sort_values("decile")
    nt_c = nc_c = yt_c = yc_c = 0
    for i, dec in enumerate(range(1, 11)):
        sub = pu[pu["decile"] == dec]
        nt = int((sub["arm"] == 1).sum())
        nc = int((sub["arm"] == 0).sum())
        yt = int(sub.loc[sub["arm"] == 1, "y"].sum())
        yc = int(sub.loc[sub["arm"] == 0, "y"].sum())
        r = out.iloc[i]
        assert (r["nt"], r["nc"], r["yt"], r["yc"]) == (nt, nc, yt, yc)
        nt_c += nt
        nc_c += nc
        yt_c += yt
        yc_c += yc
        if nc_c == 0:
            assert pd.isna(r["qini_value"])
            continue
        qini = (yt_c - yc_c * nt_c / nc_c) / 100.0
        assert abs(r["qini_value"] - qini) < 1e-4, dec
        if nt_c > 0:
            assert abs(
                r["cum_uplift_per_user"]
                - (yt_c / nt_c / 100.0 - yc_c / nc_c / 100.0)
            ) < 1e-4, dec


def test_shapley_ols_matches_numpy_lstsq(spark, sf_smoke):
    """shapley_ols_attribution pinned against numpy lstsq betas (a
    different solver than the Cramer closed form) and direct
    mean|beta*(x-mean)| attribution."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    q = li["l_quantity"].to_numpy(dtype=np.float64)
    d = np.round(li["l_discount"] * 100).astype("int64").to_numpy(
        dtype=np.float64
    )
    y = np.round(li["l_extendedprice"] * 100).astype("int64").to_numpy(
        dtype=np.float64
    )
    X = np.column_stack([np.ones(len(q)), q, d])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    out = registry.QUERIES["shapley_ols_attribution"](
        spark, sf_smoke
    ).toPandas().set_index("l_returnflag")
    phi_q = np.abs(beta[1] * (q - q.mean()))
    phi_d = np.abs(beta[2] * (d - d.mean()))
    flags = li["l_returnflag"].to_numpy()
    assert len(out) == len(set(flags))
    for f in set(flags):
        m = flags == f
        r = out.loc[f]
        assert r["n"] == int(m.sum())
        assert abs(r["beta_qty"] - beta[1] / 100) < 1e-4
        assert abs(r["beta_disc"] - beta[2] / 100) < 1e-4
        assert abs(
            r["mean_abs_shap_qty"] - phi_q[m].mean() / 100
        ) < 1e-3 * max(1, phi_q[m].mean() / 100)
        assert abs(
            r["mean_abs_shap_disc"] - phi_d[m].mean() / 100
        ) < 1e-3 * max(1, phi_d[m].mean() / 100)
        assert r["qty_dominates"] == (phi_q[m].sum() > phi_d[m].sum())


def test_did_estimator_matches_numpy(spark, sf_smoke):
    """did_estimator recomputed with numpy cell arrays."""
    import math

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["v"] = np.round(ev["value"] * 100) / 100.0
    ev["arm"] = (ev["user_id"] % 2).astype(int)
    ev["post"] = (
        ev["ts"].dt.date >= pd.Timestamp("2024-01-16").date()
    ).astype(int)
    cells = {
        (a, p): ev.loc[(ev["arm"] == a) & (ev["post"] == p), "v"]
        for a in (0, 1)
        for p in (0, 1)
    }
    [r] = registry.QUERIES["did_estimator"](spark, sf_smoke).collect()
    for (a, p), v in cells.items():
        assert getattr(r, f"n{a}{p}") == len(v)
    m = {k: v.mean() for k, v in cells.items()}
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    var = sum(v.var(ddof=1) / len(v) for v in cells.values())
    assert abs(r.did_estimate - did) < 1e-4
    assert abs(r.did_se - math.sqrt(var)) < 1e-4
    assert abs(r.did_z - did / math.sqrt(var)) < 1e-3
    assert r.significant_5pct == (abs(did / math.sqrt(var)) > 1.96)


def test_shapley_channel_attribution_matches_pure_python(spark, sf_smoke):
    """shapley_channel_attribution recomputed with itertools coalition
    enumeration and factorial weights; pins the efficiency axiom
    Σφ = v(full) − v(∅) exactly."""
    from itertools import combinations
    from math import factorial

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    channels = {"click": 1, "error": 2, "signup": 4, "view": 8}
    masks = {}
    conv = {}
    for uid, sub in ev.groupby("user_id"):
        purchases = sub.loc[sub["event_type"] == "purchase", "ts"]
        fp = purchases.min() if len(purchases) else None
        m = 0
        for ch, bit in channels.items():
            rows = sub[sub["event_type"] == ch]
            if fp is not None:
                rows = rows[rows["ts"] < fp]
            if len(rows):
                m |= bit
        masks[uid] = m
        conv[uid] = fp is not None

    def v(S):
        return sum(
            1 for u, m in masks.items() if conv[u] and (m & ~S & 15) == 0
        )

    n = 4
    phi = {}
    for ch, bit in channels.items():
        total = 0.0
        others = [b for b in channels.values() if b != bit]
        for k in range(len(others) + 1):
            for combo in combinations(others, k):
                S = sum(combo)
                w = (
                    factorial(k) * factorial(n - 1 - k) / factorial(n)
                )
                total += w * (v(S | bit) - v(S))
        phi[ch] = total
    out = registry.QUERIES["shapley_channel_attribution"](
        spark, sf_smoke
    ).toPandas().set_index("channel")
    for ch in channels:
        assert abs(out.loc[ch, "shapley_conversions"] - phi[ch]) < 1e-5
        assert out.loc[ch, "conversions_with_all"] == v(15)
        assert out.loc[ch, "conversions_direct"] == v(0)
    # efficiency axiom
    assert abs(sum(phi.values()) - (v(15) - v(0))) < 1e-9
    assert abs(
        out["shapley_conversions"].sum() - (v(15) - v(0))
    ) < 1e-4


def test_skipgram_negative_sampling_matches_pure_python(spark, sf_smoke):
    """skipgram_negative_sampling replayed coin-by-coin in pure Python
    (hashlib h60): subsampling decisions, context windows, and every
    negative draw through the ^0.75 cumulative table must reproduce
    the exact training set; also pins the distributional property
    that negatives follow unigram^0.75 (chi-square sanity)."""
    import hashlib
    import math
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    toks = {}
    freq = Counter()
    for r in docs.itertuples():
        t = re.sub(r"\s+", " ", (r.text or "").lower().strip()).split(" ")
        toks[r.doc_id] = t
        freq.update(t)
    T = sum(freq.values())
    keep_q = {
        w: min(
            1000000,
            math.floor(
                1000000.0 * (math.sqrt(0.001 * T / c) + 0.001 * T / c)
            ),
        )
        for w, c in freq.items()
    }
    w75 = {
        w: math.floor(1000000.0 * math.exp(0.75 * math.log(c)))
        for w, c in freq.items()
    }
    cum = []
    lo = 0
    for w in sorted(w75):
        cum.append((w, lo, lo + w75[w]))
        lo += w75[w]
    tw = lo

    def draw_word(d):
        for w, a, b in cum:
            if a <= d < b:
                return w
        raise AssertionError(d)

    want = set()
    for doc_id, t in toks.items():
        if doc_id % 10 != 0:
            continue
        n = len(t)
        for pos in range(n):
            if h60py(f"ss|{doc_id}|{pos}") % 1000000 >= keep_q[t[pos]]:
                continue
            for o in (-2, -1, 1, 2):
                cp = pos + o
                if not (0 <= cp < n):
                    continue
                want.add((doc_id, pos, t[pos], o, t[cp], 1, 0))
                for j in (1, 2):
                    d = h60py(f"neg|{doc_id}|{pos}|{o}|{j}") % tw
                    want.add(
                        (doc_id, pos, t[pos], o, draw_word(d), 0, j)
                    )
    out = registry.QUERIES["skipgram_negative_sampling"](
        spark, sf_smoke
    ).toPandas()
    got = set(
        (r.doc_id, r.pos, r.center, r.offset, r.context, r.label,
         r.sample_idx)
        for r in out.itertuples()
    )
    assert got == want
    # negatives follow ~unigram^0.75: the heavier half of the vocab
    # must receive more total draws than the lighter half (aggregate
    # check — robust at tiny SFs where single-word ranks are noisy;
    # the exact-set equality above already pins every draw)
    negs = Counter(r.context for r in out.itertuples() if r.label == 0)
    by_weight = sorted(w75, key=lambda w: -w75[w])
    half = len(by_weight) // 2
    heavy = sum(negs.get(w, 0) for w in by_weight[:half])
    light = sum(negs.get(w, 0) for w in by_weight[half:])
    assert heavy > light, (heavy, light)


def test_iv_2sls_matches_numpy(spark, sf_smoke):
    """iv_2sls_wald recomputed with numpy covariances and the explicit
    TWO-STAGE formulation (regress x on z, then y on x̂) — a different
    route to the same estimator than the Wald ratio."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["cents"] = np.round(ev["value"] * 100).astype("int64")
    per = ev.groupby("user_id").agg(
        x=("event_id", "size"), y=("cents", "sum")
    )
    z = (per.index.to_numpy() % 3 == 0).astype(float)
    x = per["x"].to_numpy(dtype=float)
    y = per["y"].to_numpy(dtype=float)
    [r] = registry.QUERIES["iv_2sls_wald"](spark, sf_smoke).collect()
    assert r.n == len(per) and r.n_encouraged == int(z.sum())
    czx = np.cov(z, x, bias=True)[0, 1]
    czy = np.cov(z, y, bias=True)[0, 1]
    pi = czx / z.var()
    assert abs(r.first_stage_pi - pi) < 1e-4 * max(1, abs(pi))
    # two-stage route: x_hat from stage 1, beta from y ~ x_hat
    xhat = z * pi
    beta_2sls = np.cov(xhat, y, bias=True)[0, 1] / xhat.var()
    assert abs(r.beta_iv - beta_2sls / 100) < 1e-3 * max(
        1, abs(beta_2sls / 100)
    )
    assert abs(r.beta_iv - czy / czx / 100) < 1e-6 * max(
        1, abs(czy / czx / 100)
    )
    beta_ols = np.cov(x, y, bias=True)[0, 1] / x.var()
    assert abs(r.beta_ols_naive - beta_ols / 100) < 1e-4 * max(
        1, abs(beta_ols / 100)
    )
    # F statistic: n * pi^2 var(z) / (var(x) - pi*cov(z,x))
    f = len(x) * pi * pi * z.var() / (x.var() - pi * czx)
    assert abs(r.first_stage_f - f) < 1e-2 * max(1, abs(f))
    assert r.instrument_strong == (f > 10.0)


def test_rdd_matches_numpy_polyfit(spark, sf_smoke):
    """rdd_sharp_local_linear recomputed with numpy polyfit on each
    side — a different solver (QR) than the closed form."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["cents"] = np.round(ev["value"] * 100).astype("int64")
    ev["pre"] = ev["ts"].dt.date < pd.Timestamp("2024-01-16").date()
    per = pd.DataFrame(
        {
            "r": ev[ev["pre"]].groupby("user_id")["cents"].sum(),
            "y": ev[~ev["pre"]].groupby("user_id")["cents"].sum(),
        }
    ).fillna(0)
    per["rc"] = per["r"] - 160000
    w = per[(per["rc"] >= -60000) & (per["rc"] < 60000)]
    left = w[w["rc"] < 0]
    right = w[w["rc"] >= 0]
    [row] = registry.QUERIES["rdd_sharp_local_linear"](
        spark, sf_smoke
    ).collect()
    assert (row.n_left, row.n_right) == (len(left), len(right))

    def fit(sub):
        if len(sub) <= 1 or sub["rc"].nunique() <= 1:
            return None
        slope, icept = np.polyfit(
            sub["rc"].to_numpy(float), sub["y"].to_numpy(float), 1
        )
        return slope, icept

    fl, fr = fit(left), fit(right)
    if fl is None:
        assert row.limit_left is None
    else:
        assert abs(row.slope_left - fl[0]) < 1e-4 * max(1, abs(fl[0]))
        assert abs(row.limit_left - fl[1] / 100) < 1e-2
    if fr is None:
        assert row.limit_right is None
    else:
        assert abs(row.slope_right - fr[0]) < 1e-4 * max(1, abs(fr[0]))
        assert abs(row.limit_right - fr[1] / 100) < 1e-2
    if fl is not None and fr is not None:
        assert abs(
            row.rdd_estimate - (fr[1] - fl[1]) / 100
        ) < 2e-2, (row.rdd_estimate, (fr[1] - fl[1]) / 100)


def test_propensity_matching_matches_numpy(spark, sf_smoke):
    """propensity_matching_att recomputed with a direct argmin loop;
    pins ATT, both balance gaps, and that matching SHRINKS the score
    gap (the reason PSM exists)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["cents"] = np.round(ev["value"] * 100).astype("int64")
    ev["pre"] = ev["ts"].dt.date < pd.Timestamp("2024-01-16").date()
    per = pd.DataFrame(
        {
            "s": ev[ev["pre"]].groupby("user_id")["cents"].sum(),
            "y": ev[~ev["pre"]].groupby("user_id")["cents"].sum(),
        }
    ).fillna(0).astype("int64")
    per["arm"] = (per.index % 2).astype(int)
    t = per[per["arm"] == 1]
    c = per[per["arm"] == 0]
    matches = []
    for uid, row in t.iterrows():
        d = (c["s"] - row["s"]).abs()
        dmin = d.min()
        if dmin > 20000:
            continue
        cands = sorted(d[d == dmin].index)
        cid = cands[0]
        matches.append(
            (row["s"], row["y"], c.loc[cid, "s"], c.loc[cid, "y"], dmin)
        )
    [r] = registry.QUERIES["propensity_matching_att"](
        spark, sf_smoke
    ).collect()
    assert (r.n_treated, r.n_control) == (len(t), len(c))
    assert r.n_matched == len(matches)
    ty = np.array([m[1] for m in matches], dtype=float)
    cy = np.array([m[3] for m in matches], dtype=float)
    assert abs(r.att - (ty - cy).mean() / 100) < 1e-4
    gap_before = abs(t["s"].mean() - c["s"].mean()) / 100
    ts_ = np.array([m[0] for m in matches], dtype=float)
    cs = np.array([m[2] for m in matches], dtype=float)
    gap_after = abs(ts_.mean() - cs.mean()) / 100
    assert abs(r.score_gap_before - gap_before) < 1e-3
    assert abs(r.score_gap_after - gap_after) < 1e-3
    assert r.score_gap_after < r.score_gap_before
    assert abs(
        r.mean_match_distance
        - np.array([m[4] for m in matches]).mean() / 100
    ) < 1e-3


def test_bh_fdr_matches_numpy(spark, sf_smoke):
    """bh_fdr_daily_shifts recomputed in numpy; pins the z stats, the
    logistic-approx p's, and the BH step-up property (the discovery
    set is exactly the first k_max ordered hypotheses, and every
    BH discovery is also naive-significant at the same α)."""
    import math

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["vc"] = np.round(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.date
    out = registry.QUERIES["bh_fdr_daily_shifts"](
        spark, sf_smoke
    ).toPandas().sort_values("p_rank").reset_index(drop=True)
    rows = []
    for et, sub in ev.groupby("event_type"):
        mu = sub["vc"].mean()
        var = sub["vc"].var(ddof=0)
        for day, dsub in sub.groupby("day"):
            z = (dsub["vc"].mean() - mu) / math.sqrt(var / len(dsub))
            p = math.floor(
                1e9 * (2.0 / (1.0 + math.exp(1.702 * abs(z))))
            ) / 1e9
            rows.append((et, day, len(dsub), z, p))
    assert len(out) == len(rows)
    rows.sort(key=lambda r: (r[4], r[0], r[1]))
    m = len(rows)
    k_max = 0
    for k, r in enumerate(rows, 1):
        if r[4] <= k * 0.05 / m:
            k_max = k
    for i, (et, day, n, z, p) in enumerate(rows):
        o = out.iloc[i]
        assert (o["event_type"], o["n"]) == (et, n)
        assert abs(o["z"] - z) < 1e-4
        assert abs(o["p_approx"] - p) < 1e-6
        assert o["discovery_bh"] == (i + 1 <= k_max)
    # step-up sanity: BH discoveries are a PREFIX and a subset of the
    # naive-significant set
    assert list(out["discovery_bh"]) == [
        i < k_max for i in range(m)
    ]
    assert (
        out.loc[out["discovery_bh"], "naive_significant"]
    ).all()


def test_empirical_bayes_shrinkage_matches_numpy(spark, sf_smoke):
    """empirical_bayes_shrinkage recomputed in numpy (unquantized MoM
    τ²); pins shrinkage values plus the structural properties: shrunk
    means lie between raw and grand, and within a type, smaller cells
    have (weakly) larger B."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()].copy()
    ev["vc"] = np.round(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.date
    out = registry.QUERIES["empirical_bayes_shrinkage"](
        spark, sf_smoke
    ).toPandas()
    for et, sub in ev.groupby("event_type"):
        cells = sub.groupby("day")["vc"]
        n = cells.size()
        m = cells.mean()
        grand = sub["vc"].mean()
        G = len(n)
        within = (
            (cells.apply(lambda v: ((v - v.mean()) ** 2).sum())).sum()
            / (len(sub) - G)
        )
        btw = ((m - grand) ** 2).sum() / (G - 1)
        tau2 = max(0.0, btw - within * (1.0 / n).mean())
        o = out[out["event_type"] == et].set_index(
            out.loc[out["event_type"] == et, "day"].dt.date
        )
        for day in n.index:
            B = (within / n[day]) / (within / n[day] + tau2)
            shrunk = B * grand + (1 - B) * m[day]
            r = o.loc[day]
            assert r["n"] == n[day]
            assert abs(r["raw_mean"] - m[day] / 100) < 1e-4
            assert abs(r["shrinkage_b"] - B) < 1e-3, (et, day)
            assert abs(r["shrunk_mean"] - shrunk / 100) < 1e-3
            lo, hi = sorted([m[day] / 100, grand / 100])
            assert lo - 1e-6 <= r["shrunk_mean"] <= hi + 1e-6
        # monotonicity: bigger cells shrink (weakly) less
        ob = o.sort_values("n")
        assert (
            ob["shrinkage_b"].diff().dropna() <= 1e-9
        ).all() or tau2 == 0


def test_texttiling_matches_pure_python(spark, sf_smoke):
    """texttiling_segmentation recomputed from scratch in Python
    (Counter block vectors, float cosines re-quantized, explicit
    peak scan) — pins similarities, depth scores, the μ−σ/2
    threshold, and the exact boundary lists."""
    import math
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    out = registry.QUERIES["texttiling_segmentation"](
        spark, sf_smoke
    ).toPandas().set_index("doc_id")
    n_checked = 0
    for r in docs.itertuples():
        toks = re.sub(
            r"\s+", " ", (r.text or "").lower().strip()
        ).split(" ")
        blocks = [
            Counter(toks[i : i + 10]) for i in range(0, len(toks), 10)
        ]
        if len(blocks) < 2:
            assert r.doc_id not in out.index
            continue
        sims = []
        for a, b in zip(blocks, blocks[1:]):
            dot = sum(c * b[w] for w, c in a.items())
            na = sum(c * c for c in a.values())
            nb = sum(c * c for c in b.values())
            sims.append(math.floor(1e6 * dot / math.sqrt(na * nb)))
        depths = []
        for i, s in enumerate(sims):
            lp = max(sims[: i + 1])
            rp = max(sims[i:])
            depths.append((lp - s) + (rp - s))
        g = len(depths)
        mu = sum(depths) / g
        var = max(0.0, sum(d * d for d in depths) / g - mu * mu)
        thr = mu - math.sqrt(var) / 2
        bounds = [str(i) for i, d in enumerate(depths) if d > thr]
        row = out.loc[r.doc_id]
        assert row["n_blocks"] == len(blocks)
        assert row["n_gaps"] == g
        assert row["mean_sim_micro"] == sum(sims) // g
        assert row["n_boundaries"] == len(bounds), r.doc_id
        assert row["boundaries_csv"] == ",".join(bounds), r.doc_id
        n_checked += 1
    assert n_checked > 100


def test_markov_stationary_matches_numpy(spark, sf_smoke):
    """markov_stationary_distribution replayed with the quantized
    integer iteration in numpy AND sanity-checked against the true
    stationary distribution (eigenvector) and empirical
    frequencies."""
    import math

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    states = sorted(ev["event_type"].unique())
    idx = {s: i for i, s in enumerate(states)}
    C = np.zeros((len(states), len(states)), dtype=np.int64)
    for _, sub in ev.groupby("user_id"):
        seq = sub["event_type"].tolist()
        for a, b in zip(seq, seq[1:]):
            C[idx[a], idx[b]] += 1
    rt = C.sum(axis=1)
    pi = np.full(len(states), 200000000, dtype=np.int64)
    for _ in range(3):
        nxt = np.zeros(len(states), dtype=np.int64)
        for i in range(len(states)):
            for j in range(len(states)):
                if C[i, j]:
                    nxt[j] += math.floor(
                        float(pi[i]) * C[i, j] / rt[i]
                    )
        pi = nxt
    out = registry.QUERIES["markov_stationary_distribution"](
        spark, sf_smoke
    ).toPandas().set_index("state")
    for s in states:
        assert abs(
            out.loc[s, "pi_stationary_3step"] - pi[idx[s]] / 1e9
        ) < 2e-6, s
        assert out.loc[s, "n_events"] == int(
            (ev["event_type"] == s).sum()
        )
    # convergence sanity: 3 steps land near the true eigenvector
    P = C / rt[:, None]
    vals, vecs = np.linalg.eig(P.T)
    k = np.argmin(np.abs(vals - 1))
    true_pi = np.real(vecs[:, k])
    true_pi = true_pi / true_pi.sum()
    got = np.array(
        [out.loc[s, "pi_stationary_3step"] for s in states]
    )
    assert np.abs(got - true_pi).max() < 0.02


def test_dedup_pr_sweep_matches_pure_python(spark, sf_smoke):
    """dedup_pr_threshold_sweep recomputed from scratch: pure-Python
    MinHash (KM double hashing over hashlib h60), banding, exact
    Jaccard, and the PR table; plus the S-curve sanity that recall is
    non-decreasing in the threshold's implied similarity."""
    import hashlib
    import re
    from itertools import combinations

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    P = (1 << 56) - 5

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sets = {}
    for r in docs.itertuples():
        toks = re.sub(
            r"\s+", " ", (r.text or "").lower().strip()
        ).split(" ")
        sh = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        if sh:
            sets[r.doc_id] = sh
    sigs = {}
    for d, sh in sets.items():
        hs = [(h60py(s) % P, h60py("x|" + s) % P) for s in sh]
        sigs[d] = [
            min((h1 + i * h2) % P for h1, h2 in hs) for i in range(12)
        ]
    cand = set()
    for a, b in combinations(sorted(sigs), 2):
        for k in range(6):
            if (
                sigs[a][2 * k] == sigs[b][2 * k]
                and sigs[a][2 * k + 1] == sigs[b][2 * k + 1]
            ):
                cand.add((a, b))
                break
    jac = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            jac[(a, b)] = inter / len(sets[a] | sets[b])
    out = registry.QUERIES["dedup_pr_threshold_sweep"](
        spark, sf_smoke
    ).toPandas().sort_values("threshold").reset_index(drop=True)
    prev_recall = None
    for i, t in enumerate((0.3, 0.4, 0.5, 0.6, 0.7)):
        true_pairs = {p for p, j in jac.items() if j >= t}
        found = {p for p in cand if jac.get(p, 0.0) >= t}
        r = out.iloc[i]
        assert r["threshold"] == t
        assert r["n_true_pairs"] == len(true_pairs)
        assert r["n_candidates"] == len(cand)
        assert r["n_found"] == len(found)
        recall = len(found) / max(len(true_pairs), 1)
        assert abs(r["recall"] - recall) < 1e-6
        assert abs(
            r["precision"] - len(found) / max(len(cand), 1)
        ) < 1e-6
        # S-curve: recall at higher thresholds is >= (easier pairs)
        if prev_recall is not None and len(true_pairs) > 0:
            assert r["recall"] >= prev_recall - 1e-9
        if len(true_pairs) > 0:
            prev_recall = r["recall"]


def test_vocab_coverage_matches_pure_python(spark, sf_smoke):
    """vocab_coverage_estimate recomputed with Counter arithmetic;
    pins Chao1 >= observed richness and unseen mass in [0, 1]."""
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    out = registry.QUERIES["vocab_coverage_estimate"](
        spark, sf_smoke
    ).toPandas().set_index("lang")
    for lang, sub in docs.groupby("lang"):
        c = Counter()
        for t in sub["text"]:
            c.update(
                re.sub(r"\s+", " ", (t or "").lower().strip()).split(" ")
            )
        d = len(c)
        n = sum(c.values())
        f1 = sum(1 for v in c.values() if v == 1)
        f2 = sum(1 for v in c.values() if v == 2)
        chao1 = d + f1 * (f1 - 1) / (2 * (f2 + 1))
        r = out.loc[lang]
        assert (r["d_observed"], r["n_tokens"], r["f1"], r["f2"]) == (
            d, n, f1, f2,
        )
        assert abs(r["chao1_estimate"] - chao1) < 1e-4
        assert abs(r["good_turing_unseen_mass"] - f1 / n) < 1e-6
        assert abs(r["vocab_coverage"] - d / chao1) < 1e-6
        assert r["chao1_estimate"] >= d
        assert 0.0 <= r["good_turing_unseen_mass"] <= 1.0


def test_streaming_srm_monitor_matches_pandas(spark, sf_smoke):
    """streaming_srm_monitor recomputed from the parquet with pandas
    (global per-user min day — the quantity the min-merge state must
    reproduce regardless of micro-batch order)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    first = ev.groupby("user_id")["ts"].min().dt.date
    daily = pd.DataFrame(
        {
            "day": first.values,
            "arm": (first.index % 2).astype(int),
        }
    ).groupby(["day", "arm"]).size().unstack(fill_value=0)
    out = registry.QUERIES["streaming_srm_monitor"](
        spark, sf_smoke
    ).toPandas().sort_values("day").reset_index(drop=True)
    assert len(out) == len(daily)
    n0 = n1 = 0
    for i, (day, row) in enumerate(daily.sort_index().iterrows()):
        n0 += int(row.get(0, 0))
        n1 += int(row.get(1, 0))
        r = out.iloc[i]
        assert r["day"].date() == day
        assert (r["n0"], r["n1"]) == (n0, n1)
        e = (n0 + n1) / 2.0
        chi2 = (n0 - e) ** 2 / e + (n1 - e) ** 2 / e
        assert abs(r["chi2_cumulative"] - chi2) < 1e-6
        assert r["srm_alarm"] == (chi2 > 3.841458820694124)


def test_hll_audience_overlap_estimate_quality(spark, sf_smoke):
    """hll_audience_overlap pinned against pandas exact set overlaps;
    also recomputes the estimate path's ACCURACY directly (the
    tolerance boolean must not be vacuous: the inclusion-exclusion
    estimate should sit within a few percent of truth here)."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    sets = {
        et: set(sub["user_id"]) for et, sub in ev.groupby("event_type")
    }
    out = registry.QUERIES["hll_audience_overlap"](
        spark, sf_smoke
    ).toPandas()
    types = sorted(sets)
    assert len(out) == len(types) * (len(types) - 1) // 2
    for r in out.itertuples():
        a, b = sets[r.type_a], sets[r.type_b]
        assert r.exact_a == len(a)
        assert r.exact_b == len(b)
        assert r.exact_overlap == len(a & b)
        assert bool(r.sketch_within_tolerance), (r.type_a, r.type_b)


def test_source_overlap_kmv_matches_pure_python(spark, sf_smoke):
    """source_overlap_kmv recomputed from scratch: pure-Python h60
    shingle hashing, per-source bottom-64, pairwise union sketches and
    both KMV estimates; plus the accuracy sanity that when the union
    sketch is full the union-size estimate is within 60% of the true
    distinct-shingle union (k=64 => ~12.5% stderr)."""
    import hashlib
    import re

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    K = 64

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    per_source = {}
    for r in docs.itertuples():
        toks = re.sub(r"\s+", " ", (r.text or "").lower().strip()).split(" ")
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        per_source.setdefault(r.source, set()).update(h60py(s) for s in sh)
    sketches = {s: sorted(hs)[:K] for s, hs in per_source.items()}

    out = (
        registry.QUERIES["source_overlap_kmv"](spark, sf_smoke)
        .toPandas()
        .sort_values(["src_a", "src_b"])
        .reset_index(drop=True)
    )
    srcs = sorted(per_source)
    expected_pairs = [
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
    ]
    assert list(zip(out.src_a, out.src_b)) == expected_pairs

    for r in out.itertuples():
        sa, sb = set(sketches[r.src_a]), set(sketches[r.src_b])
        union_sketch = sorted(sa | sb)[:K]
        inter = sum(1 for h in union_sketch if h in sa and h in sb)
        ku = len(union_sketch)
        assert r.k_union == ku
        assert r.n_inter == inter
        assert abs(r.jaccard_est - inter / ku) < 1e-6
        if ku >= K:
            est = (ku - 1) * float(2**60) / union_sketch[-1]
            assert abs(r.union_est - est) / est < 1e-9
            true_union = len(per_source[r.src_a] | per_source[r.src_b])
            assert abs(r.union_est - true_union) / true_union < 0.6
        else:
            assert r.union_est == ku


def test_similarity_mmr_rerank_matches_numpy(spark, sf_smoke):
    """similarity_mmr_rerank recomputed with numpy: round-6 cosines,
    top-12 relevance pool, greedy 0.7/0.3 MMR selection of 6; plus the
    diversity sanity that rank-1 is the pure relevance argmax."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    norms = {i: float(np.sqrt((v * v).sum())) for i, v in vecs.items()}

    def cos(a, b):
        return round(float(vecs[a] @ vecs[b]) / (norms[a] * norms[b]), 6)

    expected = {}
    for q in range(5):
        scored = sorted(
            ((cos(q, c), c) for c in vecs if c != q),
            key=lambda t: (-t[0], t[1]),
        )
        pool = [(c, rel) for rel, c in scored[:12]]
        sel = [min(pool, key=lambda t: (-t[1], t[0]))]
        while len(sel) < 6:
            rest = [p for p in pool if p not in sel]
            best = min(
                rest,
                key=lambda t: (
                    -(0.7 * t[1] - 0.3 * max(cos(t[0], s[0]) for s in sel)),
                    t[0],
                ),
            )
            sel.append(best)
        expected[q] = sel

    out = (
        registry.QUERIES["similarity_mmr_rerank"](spark, sf_smoke)
        .toPandas()
        .sort_values(["query_id", "mmr_rank"])
        .reset_index(drop=True)
    )
    assert len(out) == 30
    for r in out.itertuples():
        c, rel = expected[int(r.query_id)][int(r.mmr_rank) - 1]
        assert int(r.corpus_id) == c, (r.query_id, r.mmr_rank)
        assert abs(r.rel - rel) < 1e-9


def test_gmm_em_1d_matches_numpy(spark, sf_smoke):
    """gmm_em_1d recomputed with numpy: same quantized EM (floor-1e8
    sufficient statistics, quartile-of-range init, 2 cycles); plus the
    mixture sanities (weights sum to 1, mu1 < mu2 under this init)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    orders = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    c = np.round(orders["o_totalprice"].to_numpy() * 100).astype(np.int64)
    u = c.astype(np.float64) / 100000.0
    n = float(len(u))

    def dsum(arr):
        return float(np.floor(arr).sum())

    su, suu = dsum(1e8 * u), dsum(1e8 * (u * u))
    mn, mx = float(u.min()), float(u.max())
    var0 = max((suu / 1e8) / n - ((su / 1e8) / n) * ((su / 1e8) / n), 1e-12)
    w1, w2 = 0.5, 0.5
    m1, m2 = mn + (mx - mn) / 4.0, mn + 3.0 * ((mx - mn) / 4.0)
    s1 = s2 = np.sqrt(var0)
    for _ in range(2):
        r = 1.0 / (
            1.0
            + ((w2 * s1) / (w1 * s2))
            * np.exp(
                0.5
                * (
                    ((u - m1) / s1) * ((u - m1) / s1)
                    - ((u - m2) / s2) * ((u - m2) / s2)
                )
            )
        )
        sr1, sx1, sxx1 = (
            dsum(1e8 * r),
            dsum(1e8 * (r * u)),
            dsum(1e8 * (r * u * u)),
        )
        q = 1.0 - r
        sr2, sx2, sxx2 = (
            dsum(1e8 * q),
            dsum(1e8 * (q * u)),
            dsum(1e8 * (q * u * u)),
        )
        w1, w2 = (sr1 / 1e8) / n, (sr2 / 1e8) / n
        m1, m2 = sx1 / sr1, sx2 / sr2
        s1 = np.sqrt(max(sxx1 / sr1 - (sx1 / sr1) ** 2, 1e-12))
        s2 = np.sqrt(max(sxx2 / sr2 - (sx2 / sr2) ** 2, 1e-12))

    out = registry.QUERIES["gmm_em_1d"](spark, sf_smoke).toPandas().iloc[0]
    assert out["n"] == len(u)
    for col, val in [
        ("weight1", w1), ("mu1_k", m1), ("sigma1_k", s1),
        ("weight2", w2), ("mu2_k", m2), ("sigma2_k", s2),
    ]:
        assert abs(out[col] - round(val, 6)) < 2e-6, (col, out[col], val)
    assert abs(out["weight1"] + out["weight2"] - 1.0) < 1e-4
    assert out["mu1_k"] < out["mu2_k"]


def test_embedding_hard_negatives_matches_numpy(spark, sf_smoke):
    """embedding_hard_negatives recomputed with numpy; pins that every
    mined negative has a different label than its anchor and is the
    cosine-argmax among different-label vectors."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    labels = {int(r.vec_id): int(r.label) for r in emb.itertuples()}
    norms = {i: float(np.sqrt((v * v).sum())) for i, v in vecs.items()}

    out = (
        registry.QUERIES["embedding_hard_negatives"](spark, sf_smoke)
        .toPandas()
        .sort_values(["anchor_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(out) == 20 * 5
    for a in range(20):
        cands = sorted(
            (
                (
                    -round(
                        float(vecs[a] @ vecs[c]) / (norms[a] * norms[c]), 6
                    ),
                    c,
                )
                for c in vecs
                if c != a and labels[c] != labels[a]
            )
        )[:5]
        got = out[out.anchor_id == a]
        assert list(got.negative_id) == [c for _, c in cands]
        assert all(got.negative_label != labels[a])
        assert list(got["cosine"]) == [-s for s, _ in cands]


def test_rocchio_prf_rerank_matches_numpy(spark, sf_smoke):
    """rocchio_prf_rerank recomputed with numpy (same fixed-order
    feedback sum); pins that feedback docs themselves rank highly
    under the expanded query (PRF pulls the neighborhood in)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    norms = {i: float(np.sqrt((v * v).sum())) for i, v in vecs.items()}

    def cos(qv, qn, c):
        return round(float(qv @ vecs[c]) / (qn * norms[c]), 6)

    out = (
        registry.QUERIES["rocchio_prf_rerank"](spark, sf_smoke)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(out) == 5 * 10
    for q in range(5):
        first = sorted(
            ((-cos(vecs[q], norms[q], c), c) for c in vecs if c != q)
        )[:5]
        fb_ids = [c for _, c in first]
        # fixed-order feedback sum: rank 1..5
        fsum = np.zeros_like(vecs[q])
        for c in fb_ids:
            fsum = fsum + vecs[c]
        pv = 1.0 * vecs[q] + (0.5 / 5) * fsum
        pn = float(np.sqrt((pv * pv).sum()))
        second = sorted(((-cos(pv, pn, c), c) for c in vecs if c != q))[:10]
        got = out[out.query_id == q]
        assert list(got.corpus_id) == [c for _, c in second]
        assert np.allclose(
            got.prf_cosine, [-s for s, _ in second], atol=1e-9
        )
        # PRF sanity: most feedback docs stay in the top-10
        assert len(set(fb_ids) & set(got.corpus_id)) >= 3


def test_wordpiece_greedy_tokenize_matches_pure_python(spark, sf_smoke):
    """wordpiece_greedy_tokenize recomputed from scratch in pure
    Python: vocab derivation (all single chars + top-40 multi-char by
    weight with the deterministic tiebreak) and greedy longest-match
    segmentation; pins that every word round-trips (pieces
    concatenate back to the word)."""
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    freq = Counter()
    for t in docs["text"]:
        for w in re.sub(r"\s+", " ", (t or "").lower().strip()).split(" "):
            if w:
                freq[w] += 1

    wt = Counter()
    for w, f in freq.items():
        for p in range(len(w)):
            for l in range(1, 5):
                if p + l <= len(w):
                    form = "start" if p == 0 else "cont"
                    wt[(form, w[p : p + l])] += f
    multi = sorted(
        ((k, v) for k, v in wt.items() if len(k[1]) >= 2),
        key=lambda kv: (-kv[1], -len(kv[0][1]), kv[0][0], kv[0][1]),
    )[:40]
    vocab = {k for k, _ in wt.items() if len(k[1]) == 1} | {
        k for k, _ in multi
    }

    n_words = Counter()
    total_uses = Counter()
    for w, f in freq.items():
        pos, pieces = 0, []
        while pos < len(w):
            for l in range(4, 0, -1):
                form = "start" if pos == 0 else "cont"
                cand = w[pos : pos + l]
                if len(cand) == l and (form, cand) in vocab:
                    pieces.append((form, cand))
                    pos += l
                    break
            else:
                raise AssertionError(f"no match in {w} at {pos}")
        assert "".join(p for _, p in pieces) == w  # round-trip
        for k in set(pieces):
            n_words[k] += 1
        for k in pieces:
            total_uses[k] += f

    out = registry.QUERIES["wordpiece_greedy_tokenize"](
        spark, sf_smoke
    ).toPandas()
    got = {
        (r.form, r.piece): (int(r.n_words), int(r.total_uses))
        for r in out.itertuples()
    }
    expected = {
        k: (n_words[k], total_uses[k]) for k in total_uses
    }
    assert got == expected


def test_privacy_release_matches_pure_python(spark, sf_smoke):
    """dp_noisy_release and k_anonymity_audit recomputed with
    pandas/pure-Python: the derived-Laplace noise (inverse CDF of the
    md5 uniform, floor(x+0.5) integerization) and the cell audit."""
    import hashlib
    import math

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()

    orders = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    counts = orders.groupby("o_orderpriority").size()
    out = (
        registry.QUERIES["dp_noisy_release"](spark, sf_smoke)
        .toPandas()
        .set_index("o_orderpriority")
    )
    assert set(out.index) == set(counts.index)
    for key, n in counts.items():
        h = int(hashlib.md5(f"dp|{key}".encode()).hexdigest()[:15], 16)
        u = (h + 0.5) / 2**60
        sign = -1.0 if u < 0.5 else 1.0
        x = -(1.0 / 1.0) * sign * math.log(1.0 - 2.0 * abs(u - 0.5))
        noise = math.floor(x + 0.5)
        r = out.loc[key]
        assert r["noise"] == noise
        assert r["noisy_count"] == n + noise

    cust = pd.read_parquet(f"{sf_smoke}/customer.parquet")
    cust["band"] = (cust["c_acctbal"] / 1000.0).apply(math.floor)
    cells = cust.groupby(["c_nationkey", "c_mktsegment"]).agg(
        n=("c_custkey", "size"), bands=("band", "nunique")
    )
    ka = (
        registry.QUERIES["k_anonymity_audit"](spark, sf_smoke)
        .toPandas()
        .set_index(["c_nationkey", "c_mktsegment"])
    )
    assert len(ka) == len(cells)
    for idx, row in cells.iterrows():
        r = ka.loc[idx]
        assert r["n"] == row["n"]
        assert r["n_sensitive_bands"] == row["bands"]
        assert r["k_anonymous"] == (row["n"] >= 5)
        assert r["l_diverse"] == (row["bands"] >= 3)
        assert r["must_suppress"] == (
            row["n"] < 5 or row["bands"] < 3
        )


def test_group_fairness_metrics_matches_pandas(spark, sf_smoke):
    """group_fairness_metrics recomputed with pandas from the quality
    query's own output; pins the parity-gap identity (weighted gaps
    sum to ~0) and rate bounds."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    q = (
        registry.QUERIES["quality_classifier"](spark, sf_smoke)
        .toPandas()[["doc_id", "keep"]]
    )
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")[
        ["doc_id", "lang", "n_chars"]
    ]
    j = q.merge(docs, on="doc_id")
    j["is_long"] = j.n_chars >= 300
    rate_all = j.keep.mean()

    out = (
        registry.QUERIES["group_fairness_metrics"](spark, sf_smoke)
        .toPandas()
        .set_index("lang")
    )
    assert set(out.index) == set(j.lang)
    for lang, g in j.groupby("lang"):
        r = out.loc[lang]
        assert r["n"] == len(g)
        assert r["n_keep"] == int(g.keep.sum())
        assert abs(r["keep_rate"] - g.keep.mean()) < 1e-6
        assert abs(r["parity_gap"] - (g.keep.mean() - rate_all)) < 1e-6
        long_g = g[g.is_long]
        short_g = g[~g.is_long]
        if len(long_g):
            assert abs(r["tpr_proxy"] - long_g.keep.mean()) < 1e-6
        if len(short_g):
            assert abs(r["fpr_proxy"] - short_g.keep.mean()) < 1e-6
    # weighted parity gaps sum to zero by construction
    w = sum(out.loc[lang, "parity_gap"] * out.loc[lang, "n"]
            for lang in out.index)
    assert abs(w) < 1e-3 * len(j)


def test_ab_interleaving_eval_matches_pure_python(spark, sf_smoke):
    """ab_interleaving_eval recomputed from scratch: both rankings,
    the md5 coins, the team-draft loop, and the label-click credit;
    plus the draft invariant that each team contributes exactly 5 of
    the 10 interleaved picks."""
    import hashlib

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    labels = {int(r.vec_id): int(r.label) for r in emb.itertuples()}
    norms = {i: float(np.sqrt((v * v).sum())) for i, v in vecs.items()}

    def coin(q, r):
        h = int(
            hashlib.md5(f"il|{q}|{r}".encode()).hexdigest()[:15], 16
        )
        return h % 2

    expected = {}
    for q in range(5):
        la = [
            c
            for _, c in sorted(
                (
                    (
                        -round(
                            float(vecs[q] @ vecs[c])
                            / (norms[q] * norms[c]),
                            6,
                        ),
                        c,
                    )
                    for c in vecs
                    if c != q
                )
            )[:10]
        ]
        lb = [
            c
            for _, c in sorted(
                (
                    (-round(float(vecs[q] @ vecs[c]), 6), c)
                    for c in vecs
                    if c != q
                )
            )[:10]
        ]
        sel, teams = [], []
        for r in range(1, 6):
            order = ("A", "B") if coin(q, r) == 0 else ("B", "A")
            for t in order:
                lst = la if t == "A" else lb
                pick = next(c for c in lst if c not in sel)
                sel.append(pick)
                teams.append(t)
        assert teams.count("A") == 5 and teams.count("B") == 5
        ca = sum(
            1
            for c, t in zip(sel, teams)
            if t == "A" and labels[c] == labels[q]
        )
        cb = sum(
            1
            for c, t in zip(sel, teams)
            if t == "B" and labels[c] == labels[q]
        )
        expected[q] = (
            ca,
            cb,
            "A" if ca > cb else ("B" if ca < cb else "tie"),
        )

    out = (
        registry.QUERIES["ab_interleaving_eval"](spark, sf_smoke)
        .toPandas()
        .set_index("query_id")
    )
    assert len(out) == 5
    for q, (ca, cb, w) in expected.items():
        r = out.loc[q]
        assert (r["clicks_a"], r["clicks_b"], r["winner"]) == (ca, cb, w)


def test_huber_irls_matches_numpy(spark, sf_smoke):
    """huber_irls_regression recomputed with numpy using the same
    quantized IRLS; pins that Huber downweights (weights < 1 exist)
    and that the robust slope stays finite and near the OLS slope on
    this clean fixture."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    x = li["l_quantity"].to_numpy().astype(np.int64).astype(np.float64)
    yc = np.round(li["l_extendedprice"].to_numpy() * 100).astype(
        np.int64
    ).astype(np.float64)
    n = float(len(x))
    sx, sy = x.sum(), yc.sum()
    sxx, sxy, syy = (x * x).sum(), (x * yc).sum(), (yc * yc).sum()
    b0 = ((sxy / n) - (sx / n) * (sy / n)) / (
        (sxx / n) - (sx / n) * (sx / n)
    )
    a0 = (sy / n) - b0 * (sx / n)
    sigma = np.sqrt(
        max(
            (syy / n)
            - 2.0 * a0 * (sy / n)
            - 2.0 * b0 * (sxy / n)
            + a0 * a0
            + 2.0 * a0 * b0 * (sx / n)
            + b0 * b0 * (sxx / n),
            1e-9,
        )
    )
    r = yc - a0 - b0 * x
    c = 1.345 * sigma
    hw = np.where(np.abs(r) <= c, 1.0, c / np.abs(r))
    assert (hw < 1.0).any()  # Huber actually downweights something

    def dsum(a):
        return np.floor(a).sum()

    sw = dsum(1e6 * hw)
    swx = dsum(1e6 * (hw * x))
    swy = dsum(1e6 * (hw * yc))
    swxx = dsum(1e6 * (hw * x * x))
    swxy = dsum(1e6 * (hw * x * yc))
    b1 = ((swxy / 1e6) * (sw / 1e6) - (swx / 1e6) * (swy / 1e6)) / (
        (swxx / 1e6) * (sw / 1e6) - (swx / 1e6) * (swx / 1e6)
    )
    a1 = ((swy / 1e6) - b1 * (swx / 1e6)) / (sw / 1e6)

    out = registry.QUERIES["huber_irls_regression"](
        spark, sf_smoke
    ).toPandas().iloc[0]
    assert out["n"] == len(x)
    assert abs(out["slope_ols"] - round(b0 / 100.0, 6)) < 2e-6
    assert abs(out["intercept_ols"] - round(a0 / 100.0, 6)) < 2e-6
    assert abs(out["sigma_ols"] - round(sigma / 100.0, 6)) < 2e-6
    assert abs(out["slope_huber"] - round(b1 / 100.0, 6)) < 2e-6
    assert abs(out["intercept_huber"] - round(a1 / 100.0, 6)) < 2e-6
    # clean synthetic data: robust fit close to OLS fit
    assert abs(out["slope_huber"] - out["slope_ols"]) < 0.25 * abs(
        out["slope_ols"]
    )


def test_ab_power_mde_matches_scipy_closed_form(spark, sf_smoke):
    """ab_power_mde recomputed with numpy (same cents quantization)
    and cross-checked against scipy's normal quantiles; pins the
    power identity that the implied power at effect=MDE is 0.8."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev.value.notna()]
    out = (
        registry.QUERIES["ab_power_mde"](spark, sf_smoke)
        .toPandas()
        .set_index("event_type")
    )
    za, zb = 1.9599639845400545, 0.8416212335729143
    try:
        from scipy.stats import norm

        assert abs(norm.ppf(0.975) - za) < 1e-12
        assert abs(norm.ppf(0.8) - zb) < 1e-12
    except ImportError:
        pass
    for et, g in ev.groupby("event_type"):
        vc = np.floor(g.value.to_numpy() * 100)
        n = float(len(vc))
        var = max((vc * vc).sum() / n - (vc.sum() / n) ** 2, 0.0)
        mde = (za + zb) * np.sqrt(2.0 * var / (n / 2.0))
        r = out.loc[et]
        assert r["n"] == len(vc)
        assert abs(r["mean_value"] - round(vc.sum() / n / 100.0, 6)) < 2e-6
        assert abs(r["sd_value"] - round(np.sqrt(var) / 100.0, 6)) < 2e-6
        assert abs(r["mde_abs"] - round(mde / 100.0, 6)) < 2e-6
        assert abs(
            r["mde_rel"] - round(mde / (vc.sum() / n), 6)
        ) < 2e-6
        # power identity: at delta=MDE the z-test power is ~0.8
        se = np.sqrt(2.0 * var / (n / 2.0))
        if se > 0:
            try:
                from scipy.stats import norm

                power = 1 - norm.cdf(za - mde / se)
                assert abs(power - 0.8) < 1e-9
            except ImportError:
                pass


def test_textrank_keywords_matches_pure_python(spark, sf_smoke):
    """textrank_keywords recomputed with the exact fixed-point
    arithmetic in pure Python over the same co-occurrence graph; pins
    that scores sum to ~1 and high-degree words outrank leaf words."""
    import math
    import re

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry
    from kafka_spark_streaming_app_spark.operators.graph import PR_SCALE

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    und = set()
    for t in docs["text"]:
        ws = [
            w
            for w in re.sub(
                r"\s+", " ", (t or "").lower().strip()
            ).split(" ")
            if w
        ]
        for a, b in zip(ws, ws[1:]):
            if a != b:
                und.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in adj.items()}
    n_nodes = len(deg)
    prs = {n: int(PR_SCALE) // n_nodes for n in deg}
    for _ in range(2):
        sc = {n: 0 for n in deg}
        for a, nbrs in adj.items():
            c = prs[a] // deg[a]
            for b in nbrs:
                sc[b] += c
        prs = {
            n: int(math.floor(PR_SCALE * (1.0 - 0.85) / n_nodes))
            + int(math.floor(0.85 * float(sc[n])))
            for n in deg
        }
    expected = {n: v / PR_SCALE for n, v in prs.items()}

    out = registry.QUERIES["textrank_keywords"](spark, sf_smoke).toPandas()
    got = dict(zip(out.word, out.textrank))
    assert got == expected
    assert abs(sum(got.values()) - 1.0) < 1e-4
    hi = max(deg, key=lambda n: (deg[n], n))
    lo = min(deg, key=lambda n: (deg[n], n))
    if deg[hi] > deg[lo]:
        assert got[hi] > got[lo]


def test_hill_tail_index_matches_numpy(spark, sf_smoke):
    """hill_tail_index recomputed with numpy (same quantized log sum);
    pins the Pareto identity on a synthetic alpha=2 sample: the
    estimator recovers alpha within 3/sqrt(k)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    orders = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    x = np.sort(orders["o_totalprice"].to_numpy())[::-1]
    k = 100
    thr = x[k]
    s = np.floor(1e9 * np.log(x[:k] / thr)).sum() / 1e9
    out = registry.QUERIES["hill_tail_index"](
        spark, sf_smoke
    ).toPandas().iloc[0]
    assert out["k"] == k
    assert abs(out["threshold"] - round(float(thr), 6)) < 2e-6
    assert abs(out["hill_h"] - round(s / k, 6)) < 2e-6
    assert abs(out["tail_index_alpha"] - round(k / s, 6)) < 2e-6

    # estimator sanity on a known Pareto(alpha=2): deterministic
    # inverse-CDF sample, Hill recovers alpha within 3/sqrt(k)
    u = (np.arange(1, 5001) - 0.5) / 5000.0
    par = np.sort((1.0 - u) ** (-1.0 / 2.0))[::-1]
    thr2 = par[k]
    h2 = np.log(par[:k] / thr2).sum() / k
    assert abs(1.0 / h2 - 2.0) < 3.0 / np.sqrt(k) * 2.0


def test_semantic_contamination_matches_numpy(spark, sf_smoke):
    """semantic_contamination recomputed with numpy argmax; pins that
    the flag fires exactly at max_cosine >= 0.98."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    norms = {i: float(np.sqrt((v * v).sum())) for i, v in vecs.items()}
    out = (
        registry.QUERIES["semantic_contamination"](spark, sf_smoke)
        .toPandas()
        .set_index("benchmark_id")
    )
    assert len(out) == 5
    for q in range(5):
        best = min(
            (
                (
                    -round(
                        float(vecs[q] @ vecs[c]) / (norms[q] * norms[c]),
                        6,
                    ),
                    c,
                )
                for c in vecs
                if c != q
            )
        )
        r = out.loc[q]
        assert r["top_match_id"] == best[1]
        assert abs(r["max_cosine"] - (-best[0])) < 1e-9
        assert r["contaminated"] == (-best[0] >= 0.98)


def test_markov_removal_attribution_matches_pure_python(spark, sf_smoke):
    """markov_removal_attribution recomputed from scratch: journey
    truncation at first purchase, transition counts, the exact
    fixed-point value iteration, and removal effects; plus the
    monotonicity pin that redirect-to-NULL removal can only lower
    the conversion probability (effect >= 0)."""
    import math

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev.user_id.notna()].sort_values(
        ["user_id", "ts", "event_id"]
    )
    from collections import Counter, defaultdict

    tc = Counter()
    channels = set()
    for _, g in ev.groupby("user_id"):
        types = list(g.event_type)
        path = []
        for t in types:
            path.append(t)
            if t == "purchase":
                break
        prev = "START"
        for t in path:
            if t == "purchase":
                tc[(prev, "CONV")] += 1
                prev = None
                break
            channels.add(t)
            tc[(prev, t)] += 1
            prev = t
        if prev is not None:
            tc[(prev, "NULL")] += 1

    SCALE = 10**9

    def solve(removed):
        trans = {
            (s, t): n for (s, t), n in tc.items() if s != removed
        }
        ns = defaultdict(int)
        for (s, t), n in trans.items():
            ns[s] += n
        vq = {s: 0 for s in ns}
        for _ in range(20):
            new = {}
            for s in ns:
                num = 0
                for (a, t), n in trans.items():
                    if a != s:
                        continue
                    if t == "CONV":
                        num += n * SCALE
                    else:
                        num += n * vq.get(t, 0)
                new[s] = int(math.floor(float(num) / ns[s]))
            vq = new
        return vq["START"]

    bvq = solve(None)
    expected = {}
    for c in sorted(channels):
        rvq = solve(c)
        eq = int(math.floor(1e6 * (1.0 - float(rvq) / bvq)))
        expected[c] = (bvq, rvq, eq)
    tot = sum(e[2] for e in expected.values())

    out = (
        registry.QUERIES["markov_removal_attribution"](spark, sf_smoke)
        .toPandas()
        .set_index("channel")
    )
    assert set(out.index) == channels
    for c, (b, r, eq) in expected.items():
        row = out.loc[c]
        assert abs(row["conv_prob_base"] - round(b / SCALE, 6)) < 1e-9
        assert abs(
            row["conv_prob_removed"] - round(r / SCALE, 6)
        ) < 1e-9
        assert abs(row["removal_effect"] - round(eq / 1e6, 6)) < 1e-9
        assert abs(
            row["attribution_share"] - round(eq / tot, 6)
        ) < 1e-9
        assert row["removal_effect"] >= 0  # removal can't help
    assert abs(out["attribution_share"].sum() - 1.0) < 1e-4


def test_ams_f2_sketch_matches_pure_python(spark, sf_smoke):
    """ams_f2_sketch recomputed in pure Python: same h60 sign hashes,
    same median-of-means fold — estimate, exact F2, and rel_error must
    all match bit-for-bit (the sketch is fully deterministic)."""
    import hashlib

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    users = ev["user_id"].dropna().astype(int).tolist()

    def sign(j: int, u: int) -> int:
        h = int(hashlib.md5(f"u:{u}".encode()).hexdigest()[:15], 16)
        return 1 - 2 * ((h >> j) & 1)

    xs = [sum(sign(j, u) for u in users) for j in range(60)]
    means = [
        sum(x * x for x in xs[g * 12:(g + 1) * 12]) / 12.0
        for g in range(5)
    ]
    est = sorted(means)[2]
    from collections import Counter

    exact = sum(n * n for n in Counter(users).values())

    row = registry.QUERIES["ams_f2_sketch"](spark, sf_smoke).collect()[0]
    assert row.f2_exact == exact
    assert row.f2_estimate == est
    assert row.rel_error == round(abs(est - exact) / exact, 6)


def test_als_rank1_matches_pure_python(spark, sf_smoke):
    """als_rank1_implicit recomputed sequentially in pure Python with
    the identical fixed-point schedule — every item factor must match
    exactly (int64 sums + one IEEE division are order-free)."""
    import json
    import math

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[
        ev["user_id"].notna()
        & ev["event_type"].isin(["view", "click", "purchase"])
    ]
    r: dict[tuple[int, int], int] = {}
    for u, props in zip(ev["user_id"].astype(int), ev["props"]):
        k = int(json.loads(props)["k"])
        r[(u, k)] = r.get((u, k), 0) + 1

    SCALE = 10_000
    items = sorted({k for _, k in r})
    vq = {k: SCALE for k in items}
    for _ in range(2):
        num: dict[int, int] = {}
        den: dict[int, int] = {}
        for (u, k), cnt in r.items():
            num[u] = num.get(u, 0) + cnt * vq[k]
            den[u] = den.get(u, 0) + vq[k] * vq[k]
        uq = {
            u: math.floor(SCALE * float(SCALE) * num[u] / den[u])
            for u in num
        }
        num, den = {}, {}
        for (u, k), cnt in r.items():
            num[k] = num.get(k, 0) + cnt * uq[u]
            den[k] = den.get(k, 0) + uq[u] * uq[u]
        vq = {
            k: math.floor(SCALE * float(SCALE) * num[k] / den[k])
            for k in num
        }

    got = {
        row.item_k: row.factor
        for row in registry.QUERIES["als_rank1_implicit"](
            spark, sf_smoke
        ).collect()
    }
    expected = {k: round(v / SCALE, 4) for k, v in vq.items()}
    assert got == expected


def test_doubly_robust_eval_matches_pure_python(spark, sf_smoke):
    """doubly_robust_eval recomputed from first principles (hashlib
    h60 policies, even/odd sample split, per-action mean reward
    model); also pins the DR identity: with a PERFECT propensity
    model the DR estimate must land near IPS when the reward model is
    informative (here: exact quantized equality of every column)."""
    import hashlib
    import math

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["value"].notna()]
    acts = ["click", "error", "purchase", "signup", "view"]

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def wgt(salt, u, a):
        return 1 + h60py(f"{salt}|{u}|{a}") % 5

    fit_sum: dict[str, int] = {}
    fit_n: dict[str, int] = {}
    for r in ev.itertuples():
        if r.event_id % 2 == 0:
            c = round(r.value * 100)
            fit_sum[r.event_type] = fit_sum.get(r.event_type, 0) + c
            fit_n[r.event_type] = fit_n.get(r.event_type, 0) + 1
    qhat = {
        a: math.floor(1e6 * fit_sum[a] / fit_n[a]) if a in fit_n else 0
        for a in acts
    }
    n = 0
    sum_r = sum_r_rho = sum_dm = sum_cor = 0
    for r in ev.itertuples():
        if r.event_id % 2 == 0:
            continue
        n += 1
        rc = round(r.value * 100)
        wl = wgt("logp", r.user_id, r.event_type)
        wt = wgt("tgtp", r.user_id, r.event_type)
        wls = sum(wgt("logp", r.user_id, a) for a in acts)
        wts = sum(wgt("tgtp", r.user_id, a) for a in acts)
        rho_q = math.floor(1e6 * (wt * wls) / (wl * wts))
        dm_num = sum(
            wgt("tgtp", r.user_id, a) * qhat[a] for a in acts
        )
        dm_q = math.floor(dm_num / wts)
        sum_r += rc
        sum_r_rho += rc * rho_q
        sum_dm += dm_q
        sum_cor += rho_q * (rc * 1000000 - qhat[r.event_type])

    [row] = registry.QUERIES["doubly_robust_eval"](
        spark, sf_smoke
    ).collect()
    assert row.n == n
    assert row.v_logged == round(sum_r / 100.0 / n, 6)
    assert row.v_dm == round(sum_dm / 1e6 / 100.0 / n, 6)
    assert row.v_ips == round(sum_r_rho / 1e6 / 100.0 / n, 6)
    assert row.v_dr == round(
        (sum_dm / 1e6 + sum_cor / 1e12) / 100.0 / n, 6
    )


def test_out_of_order_profile_matches_pandas(spark, sf_smoke):
    """out_of_order_profile recomputed with pandas (running max per
    type in event_id order); also asserts the fixture actually
    contains late events, so the watermark-sizing metric is not a
    vacuous zero."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    import hashlib

    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev["us"] = ev["ts"].astype("int64")  # datetime64[us] -> us
    ev["arr_us"] = ev["us"] + ev["event_id"].map(
        lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        % 3600000000
        - 1800000000
    )
    expected = {}
    for t, g in ev.groupby("event_type"):
        g = g.sort_values(["arr_us", "event_id"])
        us = g["us"].to_numpy()
        prev_max = pd.Series(us).shift(1).cummax().to_numpy()
        late = us < prev_max
        late_by = (prev_max - us)[late]
        n_late = int(late.sum())
        expected[t] = (
            len(g),
            n_late,
            round(float(late_by.max()) / 1e6, 6) if n_late else 0.0,
            round(float(late_by.sum()) / max(n_late, 1) / 1e6, 6),
        )
    assert any(v[1] > 0 for v in expected.values())

    got = {
        r.event_type: (
            r.n_events,
            r.n_late,
            r.max_late_secs,
            r.avg_late_secs,
        )
        for r in registry.QUERIES["out_of_order_profile"](
            spark, sf_smoke
        ).collect()
    }
    assert set(got) == set(expected)
    for t, (n, nl, mx, avg) in expected.items():
        gn, gnl, gmx, gavg = got[t]
        # counts exact; the two float columns within a rounding ulp
        # (Spark/DuckDB round() vs Python round() can differ in the
        # 6th decimal — the ENGINES agree bit-for-bit via the oracle)
        assert (gn, gnl) == (n, nl)
        assert abs(gmx - mx) < 1e-5 and abs(gavg - avg) < 1e-5


def test_shuffle_skew_audit_matches_pandas(spark, sf_smoke):
    """shuffle_skew_audit recomputed with pandas + hashlib h60."""
    import hashlib

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    u = ev["user_id"].dropna().astype(int)
    part = u.map(
        lambda x: int(
            hashlib.md5(str(x).encode()).hexdigest()[:15], 16
        )
        % 32
    )
    n = len(u)
    kn = u.value_counts()
    pn = part.value_counts()
    [r] = registry.QUERIES["shuffle_skew_audit"](
        spark, sf_smoke
    ).collect()
    assert r.n_rows == n
    assert r.parts_hit == pn.size
    assert r.max_part_rows == int(pn.max())
    assert r.max_key_rows == int(kn.max())
    assert abs(r.part_imbalance - pn.max() / (n / 32)) < 1e-5
    assert abs(r.top_key_share - kn.max() / n) < 1e-5


def test_product_analytics_trio_matches_pandas(spark, sf_smoke):
    """event_path_mining / funnel_time_to_convert /
    rolling_distinct_users recomputed with pandas."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["user_id"].notna()].copy()
    ev = ev.sort_values(["user_id", "ts", "event_id"])

    # paths
    paths = {}
    for _, g in ev.groupby("user_id"):
        ts = g["event_type"].tolist()
        for i in range(len(ts) - 2):
            p = " > ".join(ts[i : i + 3])
            paths[p] = paths.get(p, 0) + 1
    top = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r.path, r.n)
        for r in registry.QUERIES["event_path_mining"](
            spark, sf_smoke
        ).collect()
    ]
    assert got == top

    # time to convert (Timestamp.value is always ns; the engines take
    # floor-epoch-seconds per stamp, then diff)
    secs = []
    for _, g in ev.groupby("user_id"):
        tv = g.loc[g["event_type"] == "view", "ts"].min()
        tp = g.loc[g["event_type"] == "purchase", "ts"].min()
        if pd.notna(tv) and pd.notna(tp) and tp > tv:
            secs.append(tp.value // 10**9 - tv.value // 10**9)
    secs = np.array(sorted(secs))
    [r] = registry.QUERIES["funnel_time_to_convert"](
        spark, sf_smoke
    ).collect()
    assert r.n_converting == len(secs)
    assert r.min_secs == int(secs.min())
    assert r.max_secs == int(secs.max())
    assert abs(r.p50_secs - np.percentile(secs, 50)) < 1e-6
    assert abs(r.p90_secs - np.percentile(secs, 90)) < 1e-6

    # rolling distinct users
    ud = ev.assign(day=ev["ts"].dt.floor("D")).drop_duplicates(
        ["user_id", "day"]
    )[["user_id", "day"]]
    days = sorted(ud["day"].unique())
    expected = {}
    for d in days:
        lo = d - pd.Timedelta(days=6)
        expected[pd.Timestamp(d)] = ud.loc[
            (ud["day"] >= lo) & (ud["day"] <= d), "user_id"
        ].nunique()
    got = {
        pd.Timestamp(r.day): r.users_7d
        for r in registry.QUERIES["rolling_distinct_users"](
            spark, sf_smoke
        ).collect()
    }
    assert got == expected


def test_spatial_radius_join_is_blocking_complete(spark, sf_smoke):
    """spatial_radius_join vs brute-force all-pairs in pandas — the
    grid blocking must be COMPLETE (no pair within R missed), not
    just deterministic."""
    import hashlib

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    cust = pd.read_parquet(f"{sf_smoke}/customer.parquet")

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    ck = cust["c_custkey"].astype(int).to_numpy()
    lat = np.array([h60py(f"lat:{c}") % 10000000 / 1e6 for c in ck])
    lon = np.array([h60py(f"lon:{c}") % 10000000 / 1e6 for c in ck])
    expected = set()
    for i in range(len(ck)):
        d2 = (lat - lat[i]) ** 2 + (lon - lon[i]) ** 2
        for j in np.where((d2 <= 0.25) & (ck > ck[i]))[0]:
            expected.add((int(ck[i]), int(ck[j])))
    assert expected, "fixture produced no close pairs"

    got = {
        (r.ck_a, r.ck_b)
        for r in registry.QUERIES["spatial_radius_join"](
            spark, sf_smoke
        ).collect()
    }
    assert got == expected


def test_max_concurrent_intervals_matches_pandas_sweep(spark, sf_smoke):
    """Sweep-line peak concurrency recomputed with pandas."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    o = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    s = pd.to_datetime(o["o_orderdate"]).dt.floor("D")
    e = s + pd.to_timedelta((o["o_orderkey"] % 30) + 1, unit="D")
    deltas = pd.concat(
        [
            pd.DataFrame({"day": s, "d": 1}),
            pd.DataFrame({"day": e + pd.Timedelta(days=1), "d": -1}),
        ]
    )
    net = deltas.groupby("day")["d"].sum().sort_index()
    run = net.cumsum()
    peak = int(run.max())
    first = run[run == peak].index.min()

    [r] = registry.QUERIES["max_concurrent_intervals"](
        spark, sf_smoke
    ).collect()
    assert r.n_intervals == len(o)
    assert r.peak_concurrency == peak
    assert pd.Timestamp(r.first_peak_day) == first


def test_erasure_audit_and_decay_popularity_match_pandas(spark, sf_smoke):
    """user_erasure_audit and time_decay_popularity recomputed with
    pandas; the erasure fixture must actually select subjects."""
    import json

    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")

    # erasure audit
    uid = ev["user_id"]
    victims = set(uid[uid.notna() & (uid % 29 == 0)].astype(int))
    assert victims
    erased = uid.isin(victims)
    cents = (ev["value"] * 100).round().fillna(0).astype("int64")
    [r] = registry.QUERIES["user_erasure_audit"](
        spark, sf_smoke
    ).collect()
    assert r.n_subjects == len(victims)
    assert r.n_rows_erased == int(erased.sum())
    assert r.n_rows_before == len(ev)
    assert r.value_before == round(cents.sum() / 100.0, 2)
    assert r.value_after == round(cents[~erased].sum() / 100.0, 2)
    assert (
        abs(r.value_share_erased - cents[erased].sum() / cents.sum())
        < 1e-5
    )

    # time-decay popularity
    e2 = ev[ev["event_type"].isin(["view", "click", "purchase"])].copy()
    day = e2["ts"].dt.floor("D")
    now = day.max()
    age_w = np.minimum(((now - day).dt.days // 7).to_numpy(), 20)
    e2["wq"] = (2.0 ** (20 - age_w)).astype("int64")
    e2["item_k"] = e2["props"].map(lambda p: int(json.loads(p)["k"]))
    g = e2.groupby("item_k").agg(sq=("wq", "sum"), n=("wq", "size"))
    got = {
        r.item_k: (r.n_events, r.decay_score)
        for r in registry.QUERIES["time_decay_popularity"](
            spark, sf_smoke
        ).collect()
    }
    assert set(got) == set(g.index.astype(int))
    for k, (n, score) in got.items():
        assert n == int(g.loc[k, "n"])
        assert score == round(int(g.loc[k, "sq"]) / 1048576.0, 6)


def test_spatial_point_in_polygon_matches_halfplane_bruteforce(
    spark, sf_smoke
):
    """spatial_point_in_polygon vs an INDEPENDENT containment method:
    the polygons are convex by construction, so strict half-plane
    tests (all edge cross products the same sign) decide membership
    without ray casting — and brute force over every (point, polygon)
    pair checks the grid blocking is complete, not just
    deterministic."""
    import hashlib

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    import pandas as pd

    cust = pd.read_parquet(f"{sf_smoke}/customer.parquet")
    nat = pd.read_parquet(f"{sf_smoke}/nation.parquet")

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    TPL = {
        4: [(2, 0), (0, 2), (-2, 0), (0, -2)],
        5: [(2, 0), (1, 2), (-1, 2), (-2, 0), (0, -2)],
        6: [(2, 0), (1, 2), (-1, 2), (-2, 0), (-1, -2), (1, -2)],
    }
    polys = {}
    for nk in nat["n_nationkey"].astype(int):
        k = nk % 3 + 4
        s = h60py(f"ps:{nk}") % 61 + 20
        cx = h60py(f"pcx:{nk}") % 3200 + 400
        cy = h60py(f"pcy:{nk}") % 3200 + 400
        polys[nk] = [(cx + ox * s, cy + oy * s) for ox, oy in TPL[k]]

    def inside_convex(px, py, verts):
        signs = set()
        for i in range(len(verts)):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % len(verts)]
            cr = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
            if cr == 0:
                return False  # boundary: excluded by the strict rule
            signs.add(cr > 0)
        return len(signs) == 1

    expected = {nk: [] for nk in polys}
    for ck in cust["c_custkey"].astype(int):
        px = h60py(f"px:{ck}") % 4000
        py = h60py(f"py:{ck}") % 4000
        for nk, verts in polys.items():
            if inside_convex(px, py, verts):
                expected[nk].append(ck)
    assert any(expected.values()), "fixture produced no contained points"

    got = {
        r.nationkey: (r.n_inside, r.sum_inside_keys)
        for r in registry.QUERIES["spatial_point_in_polygon"](
            spark, sf_smoke
        ).collect()
    }
    assert got == {
        nk: (len(cks), sum(cks)) for nk, cks in expected.items()
    }


def test_kalman_filter_1d_matches_numpy_replay(spark, sf_smoke):
    """kalman_filter_1d vs a plain-Python replay of the predict/update
    recursion, exact equality per user; and the posterior variance
    must approach the steady-state Riccati fixed point
    p* = (-Q + sqrt(Q^2 + 4*Q*R)) / 2 from above."""
    import math

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    expected = {}
    for uid, grp in ev.groupby("user_id"):
        zs = [float(z) for z in grp["value"]]
        x, p = zs[0], 1.0
        for z in zs[1:]:
            pp = p + 0.25
            k = pp / (pp + 1.0)
            x = x + k * (z - x)
            p = (1.0 - k) * pp
        expected[int(uid)] = (len(zs), x, p)

    rows = registry.QUERIES["kalman_filter_1d"](spark, sf_smoke).collect()
    assert len(rows) == len(expected)
    p_star = (-0.25 + math.sqrt(0.25 * 0.25 + 4 * 0.25 * 1.0)) / 2
    for r in rows:
        n, x, p = expected[r.user_id]
        assert r.n_obs == n
        assert r.x_final == x  # bit-exact: same IEEE expression tree
        assert r.p_final == p
        if n >= 10:
            assert p_star <= r.p_final < p_star + 1e-6


def test_periodicity_scan_anova_matches_pandas_replay(spark, sf_smoke):
    """periodicity_scan_anova vs an independent pandas/numpy replay
    that computes SSB/SST the direct way (group means, not the
    multiplied-through exact-integer form the engine uses)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    orders = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    daily = (
        orders.assign(
            day=pd.to_datetime(orders["o_orderdate"]).dt.floor("D"),
            cents=(orders["o_totalprice"] * 100).round(0).astype("int64"),
        )
        .groupby("day")["cents"]
        .sum()
        .sort_index()
        .to_numpy(dtype=np.float64)
    )
    n = daily.size
    sst = ((daily - daily.mean()) ** 2).sum()
    expected = {}
    for p in range(2, 31):
        ssb = 0.0
        for r in range(p):
            grp = daily[r::p]
            ssb += grp.size * (grp.mean() - daily.mean()) ** 2
        expected[p] = ssb / sst

    rows = registry.QUERIES["periodicity_scan_anova"](
        spark, sf_smoke
    ).collect()
    assert [r.period for r in rows] == list(range(2, 31))
    for r in rows:
        assert r.n_days == n
        assert 0.0 <= r.explained_ratio <= 1.0
        assert abs(r.explained_ratio - expected[r.period]) < 5e-6, r.period


def test_viterbi_segmentation_is_optimal_vs_python_dp(spark, sf_smoke):
    """viterbi_segmentation vs an independent pure-Python DP over an
    independently-rebuilt vocab: piece counts must be exactly the
    brute-force optimum, segmentations must re-concatenate to the
    word, and no greedy longest-match result may beat the DP."""
    import re
    from collections import Counter

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    docs = pd.read_parquet(f"{sf_smoke}/documents.parquet")
    words = Counter()
    for text in docs["text"]:
        for w in re.findall(r"[a-z0-9]+", str(text).lower()):
            words[w] += 1
    # rebuild the vocab rule: all single chars + top-40 multi (2..4)
    cand = Counter()
    for w, f in words.items():
        for p in range(len(w)):
            for ln in range(1, 5):
                if p + ln <= len(w):
                    form = "start" if p == 0 else "cont"
                    cand[(form, w[p : p + ln])] += f
    multi = sorted(
        ((wt, len(pc), form, pc) for (form, pc), wt in cand.items()
         if len(pc) >= 2),
        key=lambda t: (-t[0], -t[1], t[2], t[3]),
    )[:40]
    vocab = {(form, pc) for (form, pc), _ in cand.items() if len(pc) == 1}
    vocab |= {(form, pc) for _, _, form, pc in multi}

    def dp_min_pieces(w):
        best = [None] * (len(w) + 1)
        best[0] = 0
        for pos in range(len(w)):
            if best[pos] is None:
                continue
            form = "start" if pos == 0 else "cont"
            for ln in range(1, 5):
                if pos + ln <= len(w) and (form, w[pos : pos + ln]) in vocab:
                    nxt = best[pos] + 1
                    if best[pos + ln] is None or nxt < best[pos + ln]:
                        best[pos + ln] = nxt
        return best[len(w)]

    rows = registry.QUERIES["viterbi_segmentation"](spark, sf_smoke).collect()
    assert {r.word for r in rows} == set(words)
    for r in rows:
        assert r.n_pieces == dp_min_pieces(r.word), r.word
        joined = r.segmentation.replace(" ##", "")
        assert joined == r.word
        assert r.freq == words[r.word]


def test_t_closeness_audit_matches_pandas_replay(spark, sf_smoke):
    """t_closeness_audit vs an independent pandas replay computing the
    ordered-category EMD the direct way (float cumulative probability
    differences, not the engine's cross-multiplied integer form)."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    cust = pd.read_parquet(f"{sf_smoke}/customer.parquet")
    cust["band"] = np.floor(cust["c_acctbal"] / 1000.0).astype("int64")
    bands = np.sort(cust["band"].unique())
    m = len(bands)
    q = (
        cust["band"].value_counts().reindex(bands, fill_value=0)
        / len(cust)
    ).to_numpy()
    rows = registry.QUERIES["t_closeness_audit"](spark, sf_smoke).collect()
    seen = 0
    for (nat, seg), grp in cust.groupby(["c_nationkey", "c_mktsegment"]):
        p = (
            grp["band"].value_counts().reindex(bands, fill_value=0)
            / len(grp)
        ).to_numpy()
        emd = np.abs(np.cumsum(p - q)).sum() / (m - 1)
        row = next(
            r for r in rows
            if r.c_nationkey == nat and r.c_mktsegment == seg
        )
        assert row.n_cell == len(grp)
        assert abs(row.t_emd - emd) < 5e-6, (nat, seg)
        assert row.t_close == (emd <= 0.35 + 1e-12) or abs(emd - 0.35) < 1e-9
        seen += 1
    assert seen == len(rows)


def test_hmm_viterbi_matches_exhaustive_enumeration(spark, tmp_path):
    """hmm_viterbi_sessions vs brute-force path enumeration (3^n
    paths) over a synthetic corpus of short sessions — proves the DP
    recurrence and tie-break, not just cross-engine agreement (real
    corpus sessions are 50+ events, far past the enumeration budget
    — the real corpus is covered by the recursive-CTE oracle)."""
    import itertools
    import random

    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    rng = random.Random(41)
    rows_in = []
    eid = 0
    for uid in range(8):
        for i in range(rng.randint(1, 8)):
            rows_in.append(
                {
                    "event_id": eid,
                    "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(
                        minutes=10 * i + uid
                    ),
                    "user_id": uid,
                    "event_type": "view",
                    "value": float(rng.randint(0, 400)) + 0.25,
                    "props": "{}",
                }
            )
            eid += 1
    pd.DataFrame(rows_in).to_parquet(tmp_path / "events.parquet")
    out = {
        r.user_id: r
        for r in registry.QUERIES["hmm_viterbi_sessions"](
            spark, str(tmp_path)
        ).collect()
    }
    emis = lambda s, vb: ((7 * s + 3 * vb + 1) * 5) % 17  # noqa: E731
    trans = [[((sp * 3 + s) * 7) % 11 for s in range(3)] for sp in range(3)]
    ev = pd.DataFrame(rows_in).sort_values(["user_id", "ts", "event_id"])
    for uid, grp in ev.groupby("user_id"):
        vb = [int(v) % 5 for v in grp["value"]]
        assert out[uid].n_events == len(vb)
        best = None
        best_final = None
        for path in itertools.product(range(3), repeat=len(vb)):
            c = emis(path[0], vb[0])
            for i in range(1, len(vb)):
                c += trans[path[i - 1]][path[i]] + emis(path[i], vb[i])
            if best is None or c < best:
                best, best_final = c, {path[-1]}
            elif c == best:
                best_final.add(path[-1])
        assert out[uid].best_cost == best, uid
        assert out[uid].best_state in best_final, uid
    assert len(out) == 8


def test_ols_influence_matches_numpy_hat_matrix(spark, sf_smoke):
    """ols_influence_diagnostics vs the textbook hat-matrix route:
    H = X (X'X)^-1 X' via numpy lstsq machinery — an independent
    formulation of leverage/studentized/Cook's."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    li = pd.read_parquet(f"{sf_smoke}/lineitem.parquet")
    x = li["l_quantity"].to_numpy(dtype=np.float64)
    y = (li["l_extendedprice"] * 100).round(0).to_numpy(dtype=np.float64)
    rid = (li["l_orderkey"] * 10 + li["l_linenumber"]).to_numpy()
    X = np.column_stack([np.ones_like(x), x])
    XtX_inv = np.linalg.inv(X.T @ X)
    beta = XtX_inv @ (X.T @ y)
    e = y - X @ beta
    h = np.einsum("ij,jk,ik->i", X, XtX_inv, X)
    s2 = (e @ e) / (len(x) - 2)
    rstud = e / np.sqrt(s2 * (1 - h))
    cooks = rstud**2 * h / (2 * (1 - h))
    order = np.lexsort((rid, -cooks))[:20]
    rows = registry.QUERIES["ols_influence_diagnostics"](
        spark, sf_smoke
    ).collect()
    assert len(rows) == 20
    for r, i in zip(rows, order):
        assert r.row_id == rid[i], (r.row_id, rid[i])
        assert abs(r.leverage - h[i]) < 5e-6
        assert abs(r.rstudent - rstud[i]) < 5e-5
        assert abs(r.cooks_d - cooks[i]) < 5e-5


def test_time_weighted_average_matches_pandas_replay(spark, sf_smoke):
    """time_weighted_average vs a direct pandas replay of the
    last-observation-carried-forward weighting."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    rows = {
        r.user_id: r
        for r in registry.QUERIES["time_weighted_average"](
            spark, sf_smoke
        ).collect()
    }
    for uid, grp in ev.groupby("user_id"):
        t = grp["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        vc = (grp["value"] * 100).round(0).to_numpy(dtype=np.int64)
        if len(t) < 2 or t[-1] == t[0]:
            assert uid not in rows or rows[uid].span_micros > 0
            continue
        dt = np.diff(t)
        twap = float((vc[:-1] * dt).sum()) / float(dt.sum()) / 100.0
        r = rows[uid]
        assert r.span_micros == int(dt.sum())
        assert abs(r.twap - twap) < 5e-6, uid


def test_interval_union_coverage_matches_merge_replay(spark, sf_smoke):
    """interval_union_coverage vs the textbook sort-and-merge interval
    union computed directly in pandas."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev["t0"] = ev["ts"].astype("datetime64[us]").astype("int64")
    ev["t1"] = ev["t0"] + 60_000_000
    rows = {
        r.user_id: r
        for r in registry.QUERIES["interval_union_coverage"](
            spark, sf_smoke
        ).collect()
    }
    for uid, grp in ev.groupby("user_id"):
        ivs = sorted(zip(grp["t0"], grp["t1"]))
        total = 0
        cur_s, cur_e = ivs[0]
        for s, t in ivs[1:]:
            if s > cur_e:
                total += cur_e - cur_s
                cur_s, cur_e = s, t
            else:
                cur_e = max(cur_e, t)
        total += cur_e - cur_s
        r = rows[uid]
        assert r.n_events == len(ivs)
        assert r.covered_micros == total, uid


def _power_iter_replay(X, iters=6, target_bits=14):
    """Independent big-int replay of the exact recurrence."""
    import numpy as np

    v = [16384] * X.shape[1]
    for _ in range(iters):
        u = [int(sum(int(x) * vv for x, vv in zip(row, v))) for row in X]
        w = [
            int(sum(int(X[i][j]) * u[i] for i in range(X.shape[0])))
            for j in range(X.shape[1])
        ]
        m = max(abs(x) for x in w)
        shift = max(0, m.bit_length() - 1 - target_bits)
        # floor division by a power of two == arithmetic right shift
        v = [x // (1 << shift) for x in w]
    return v


def test_power_iteration_iterate_is_exact_vs_bigint_replay(spark, sf_smoke):
    """The iterate after 6 rounds IS the contract: the engine's
    integer vector must equal an arbitrary-precision Python replay of
    the identical recurrence (quantize, u=Xv, w=X'u, bit-shift
    rescale) — no tolerance."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    emb = pd.read_parquet(f"{sf_smoke}/embeddings.parquet")
    X = np.floor(
        np.stack(emb["embedding"].to_numpy()) * 1024 + 0.5
    ).astype(np.int64)
    expect = _power_iter_replay(X)
    rows = registry.QUERIES["power_iteration_top_eigvec"](
        spark, sf_smoke
    ).collect()
    got = [r.component for r in sorted(rows, key=lambda r: r.dim)]
    assert got == expect


def test_power_iteration_converges_on_spiked_corpus(spark, tmp_path):
    """On a spectrum WITH a real gap (a planted dominant direction),
    six rounds must align with numpy's top eigenvector (|cos| >
    0.999). The testdata embeddings are near-isotropic (top gap
    ~1.07), so convergence is pinned here on a spiked corpus and the
    real corpus is held to iterate-exactness instead."""
    import numpy as np
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    rng = np.random.default_rng(7)
    d = rng.standard_normal(64)
    d /= np.linalg.norm(d)
    V = 0.5 * np.outer(rng.standard_normal(400), d)
    V += 0.05 * rng.standard_normal((400, 64))
    pd.DataFrame(
        {
            "vec_id": np.arange(400, dtype="int64"),
            "embedding": [row.astype("float32") for row in V],
            "label": ["x"] * 400,
        }
    ).to_parquet(tmp_path / "embeddings.parquet")
    rows = registry.QUERIES["power_iteration_top_eigvec"](
        spark, str(tmp_path)
    ).collect()
    v = np.array(
        [r.component for r in sorted(rows, key=lambda r: r.dim)],
        dtype=np.float64,
    )
    X = np.floor(V * 1024 + 0.5)
    top = np.linalg.eigh(X.T @ X)[1][:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999, cos


def test_hist_running_totals_shapes_agree(spark, sf_smoke, monkeypatch):
    """The size-conditional cumulative scan (spearman/mann_whitney/ks)
    must produce IDENTICAL rows in both shapes: the single-task
    ordered window (small inputs) and the two-level distributed
    prefix sum (large inputs). Forcing the threshold to 0 flips all
    three queries to the distributed shape; their single-row stats
    must equal the default shape's bit-for-bit."""
    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    names = [
        "spearman_correlation",
        "mann_whitney_u",
        "ks_test_two_sample",
        "equidepth_histogram",
    ]
    monkeypatch.delenv("SPARK_GRAFT_PREFIX_SUM_BYTES", raising=False)
    small = {n: registry.QUERIES[n](spark, sf_smoke).collect() for n in names}
    monkeypatch.setenv("SPARK_GRAFT_PREFIX_SUM_BYTES", "0")
    large = {n: registry.QUERIES[n](spark, sf_smoke).collect() for n in names}
    for n in names:
        assert sorted(map(tuple, small[n])) == sorted(map(tuple, large[n])), n


def test_h60_three_faces_agree(spark, sf_smoke):
    """h60 (Spark), h60_sql (DuckDB) and h60_py (driver Python) must
    compute the SAME 60-bit value — driver fixpoints (the
    interleaving coin) flip coins the SQL oracle re-derives, so a
    change to one face must break this pin, not silently diverge."""
    import duckdb

    from pyspark.sql import functions as F

    from kafka_spark_streaming_app_spark.functions.hashing import (
        h60,
        h60_py,
        h60_sql,
    )

    samples = [f"il|{q}|{r}" for q in range(5) for r in range(1, 4)]
    samples += ["", "a", "unicode-ß-✓", "fold|123|7"]
    got_spark = [
        r.h
        for r in spark.createDataFrame(
            [(s,) for s in samples], "s string"
        ).select(h60("s").alias("h")).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {h60_sql('?')}", [s]).fetchone()[0]
        for s in samples
    ]
    got_py = [h60_py(s) for s in samples]
    assert got_spark == got_duck == got_py
