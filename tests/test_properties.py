"""Property-based tests (hypothesis) for the scalar library and dedup
operators (SURVEY §5.4): fallback round-trips, idempotence,
normalization invariance, subset/determinism laws.

Each property batches its generated examples into ONE Spark job (a
single-column DataFrame) so hypothesis cost stays bounded.
"""

from __future__ import annotations

import re as _re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.functions import scalars as S
from magshield_data_pipeline_spark.operators import dedup as D
from magshield_data_pipeline_spark.operators import text as T

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish text, newlines included (clean_text's whole domain)
texts = st.lists(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=60,
    ),
    min_size=1,
    max_size=20,
)


def _col_apply(spark, values, expr_fn):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r.o for r in df.select(expr_fn("v").alias("o")).collect()]


@settings(**_SETTINGS)
@given(vals=texts)
def test_clean_text_idempotent(spark, vals):
    clean = lambda c: F.expr(S.clean_text(c))  # noqa: E731
    once = _col_apply(spark, vals, clean)
    twice = _col_apply(spark, once, clean)
    assert once == twice
    assert all("\n" not in (o or "") and "\r" not in (o or "") for o in once)


@settings(**_SETTINGS)
@given(vals=texts)
def test_date_format_passthrough_for_unparseable(spark, vals):
    # F2 contract: any string that doesn't parse comes back unchanged
    unparseable = [
        v for v in vals
        if not _re.match(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", v or "")
    ]
    out = _col_apply(spark, unparseable, lambda c: F.expr(S.format_date_quote(c)))
    assert out == unparseable


@settings(**_SETTINGS)
@given(vals=texts)
def test_fingerprint_whitespace_invariant(spark, vals):
    mangled = ["  " + (v or "").replace(" ", "   ") + "\t" for v in vals]
    a = _col_apply(spark, vals, T.fingerprint)
    b = _col_apply(spark, mangled, T.fingerprint)
    assert a == b


@settings(**_SETTINGS)
@given(vals=st.lists(st.text(alphabet=st.characters(codec="ascii"), max_size=40),
                     min_size=1, max_size=15))
def test_fingerprint_ascii_case_invariant(spark, vals):
    # ASCII only: Unicode special casings (e.g. 'ß'.upper() == 'SS') are
    # legitimately NOT fingerprint-invariant — hypothesis found that one
    mangled = [(v or "").upper() for v in vals]
    a = _col_apply(spark, vals, T.fingerprint)
    b = _col_apply(spark, mangled, T.fingerprint)
    assert a == b


@settings(**_SETTINGS)
@given(vals=st.lists(st.text(alphabet="ab c", min_size=0, max_size=30),
                     min_size=1, max_size=15))
def test_exact_dedup_is_subset_and_deterministic(spark, vals):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, text string"
    )
    out1 = sorted(r.doc_id for r in D.exact_dedup(df).collect())
    out2 = sorted(r.doc_id for r in D.exact_dedup(df).collect())
    assert out1 == out2  # deterministic
    assert set(out1) <= set(range(len(vals)))  # subset of input
    # survivor count equals distinct normalized text count
    n_distinct = df.select(T.normalize_text("text").alias("n")).distinct().count()
    assert len(out1) == n_distinct


@settings(**_SETTINGS)
@given(vals=st.lists(st.text(alphabet="xy z", min_size=0, max_size=40),
                     min_size=1, max_size=10))
def test_shingles_nonempty_and_window_sized(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "text string")
    rows = df.select(
        D.word_shingles("text").alias("sh"),
        F.size(F.split(T.normalize_text("text"), " ")).alias("nw"),
    ).collect()
    for r in rows:
        assert len(r.sh) >= 1  # every doc contributes at least one shingle
        assert len(r.sh) == max(1, r.nw - 2)  # n-2 trigrams (or the whole text)


# ---------------------------------------------------------------------------
# round-3 curation operators

_vecs = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=16,
)


@settings(**_SETTINGS)
@given(vs=st.lists(_vecs, min_size=1, max_size=8))
def test_quantize_int8_codes_bounded(spark, vs):
    from magshield_data_pipeline_spark.operators import similarity as V

    df = spark.createDataFrame([(v,) for v in vs], "v array<double>")
    rows = df.select(V.quantize_int8(F.col("v")).alias("q")).collect()
    for r in rows:
        for q in r.q:
            # null only for the all-zero vector; codes always in [-128, 127]
            # (-128 reachable only at x = -max|x| with the +1/2 bias: never,
            # so effectively [-127, 127]; floor keeps it >= -128 regardless)
            assert q is None or -128 <= q <= 127


@settings(**_SETTINGS)
@given(vals=texts)
def test_chunk_spans_cover_text_exactly(spark, vals):
    size, stride = 7, 5
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, text string"
    )
    out = T.chunk_spans(df, size=size, stride=stride).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, v in enumerate(vals):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        n = len(v)
        # chunk grid: starts 0, stride, ... <= max(n-1, 0); every char
        # covered; last chunk reaches the end of the text
        assert chunks[0].chunk_start == 0
        assert chunks[-1].chunk_start + chunks[-1].chunk_len == max(n, 0) or n == 0
        for c in chunks:
            assert c.chunk_len == min(size, max(n - c.chunk_start, 0))


@settings(**_SETTINGS)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=10**9), min_size=1, max_size=12)
)
def test_temperature_threshold_monotone_and_bounded(spark, counts):
    from magshield_data_pipeline_spark.operators import sampling as SA

    n_min = min(counts)
    df = spark.createDataFrame(
        [(c, n_min) for c in counts], "n_group long, n_min long"
    )
    rows = df.select(
        F.col("n_group"),
        SA.temperature_threshold(F.col("n_group"), F.col("n_min")).alias("t"),
    ).collect()
    got = {r.n_group: r.t for r in rows}
    for c in counts:
        assert 0 <= got[c] <= 256
    assert got[n_min] == 256  # smallest source keeps everything
    # monotone: bigger sources never get a higher threshold
    ordered = sorted(got.items())
    for (c1, t1), (c2, t2) in zip(ordered, ordered[1:]):
        assert t1 >= t2


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1)),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_morton_interleave_matches_reference_model(spark, pairs):
    # JVM bit folds vs a direct python model; injectivity within range
    from magshield_data_pipeline_spark.operators import layout as L

    df = spark.createDataFrame(pairs, "x long, y long")
    got = [
        r.z
        for r in df.select(
            L.interleave_bits(F.col("x"), F.col("y"), 16).alias("z")
        ).collect()
    ]

    def morton(x, y):
        return sum(
            ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
            for i in range(16)
        )

    assert got == [morton(x, y) for x, y in pairs]
    assert len(set(got)) == len(set(pairs))  # injective on the domain


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=80).map(
            lambda s: " ".join(s.split()) or "a"
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_passage_dedup_invariants(spark, docs):
    # kept + dropped == total blocks; a corpus with globally unique
    # blocks reassembles every doc to its original text hash
    import hashlib

    from magshield_data_pipeline_spark.operators import text as T2

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = {r.doc_id: r for r in T2.passage_dedup(df, block_words=3).collect()}
    assert set(out) == set(range(len(docs)))
    for r in out.values():
        assert r.n_kept + r.n_dropped == r.n_blocks
        assert r.n_blocks >= 1
    # docs that lost nothing must hash back to their own text
    for i, text in enumerate(docs):
        if out[i].n_dropped == 0:
            assert out[i].dedup_fp == hashlib.md5(text.encode()).hexdigest()


@given(
    corpus_n=st.integers(10, 200),
    batch_dups=st.integers(0, 10),
    batch_fresh=st.integers(1, 10),
)
@settings(**_SETTINGS)
def test_bloom_dedup_equals_plain_on_random_overlap(
    spark, corpus_n, batch_dups, batch_fresh
):
    from magshield_data_pipeline_spark.operators import dedup as D2

    corpus = spark.range(corpus_n).selectExpr(
        "id AS doc_id", "concat('doc ', id) AS text"
    )
    batch = spark.range(batch_dups + batch_fresh).selectExpr(
        "id + 1000000 AS doc_id",
        f"CASE WHEN id < {batch_dups} THEN concat('doc ', id) "
        "ELSE concat('fresh ', id) END AS text",
    )
    plain = {
        tuple(r) for r in D2.incremental_exact_dedup(corpus, batch).collect()
    }
    bloomed = {
        tuple(r) for r in D2.bloom_incremental_dedup(corpus, batch).collect()
    }
    assert bloomed == plain
    assert len(plain) == batch_fresh


# ---------------------------------------------------------------------------
# round-5 operators: CMS, KMV, E-S sampling, Hilbert


@settings(**_SETTINGS)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=500), min_size=1, max_size=200
    )
)
def test_cms_estimate_never_underestimates(spark, keys):
    # CMS law: for EVERY key, est >= exact (collisions only add)
    from collections import Counter

    from magshield_data_pipeline_spark.operators import sketches as SK

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sketch = SK.cms_sketch(df, "k")
    probes = spark.createDataFrame([(k,) for k in set(keys)], "k long").select(
        F.col("k").cast("string").alias("k")
    )
    est = {
        r["k"]: r["est_count"]
        for r in SK.cms_estimate(sketch, probes, "k").collect()
    }
    exact = Counter(str(k) for k in keys)
    assert all(est[k] >= exact[k] for k in est)


@settings(**_SETTINGS)
@given(
    a=st.sets(st.integers(min_value=0, max_value=2000), min_size=1, max_size=300),
    b=st.sets(st.integers(min_value=0, max_value=2000), min_size=1, max_size=300),
)
def test_kmv_merge_equals_union_sketch(spark, a, b):
    # mergeability law: k smallest of (sketch(A) ∪ sketch(B)) equals
    # the direct sketch of A ∪ B; and sub-k unions are EXACT
    from magshield_data_pipeline_spark.operators import sketches as SK

    rows = [(x, "A") for x in a] + [(x, "B") for x in b]
    df = spark.createDataFrame(rows, "k long, seg string")
    kmv = SK.kmv_per_group(df, key_col="k", group_col="seg")
    merged = [
        r["h"]
        for r in kmv.select("h").distinct().orderBy("h").limit(SK.KMV_K).collect()
    ]
    direct = [
        r["h"]
        for r in SK.kmv_per_group(
            df.withColumn("seg", F.lit("all")), key_col="k", group_col="seg"
        ).orderBy("h").collect()
    ]
    assert merged == direct
    if len(a | b) < SK.KMV_K:
        assert len(direct) == len(a | b)


@settings(**_SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_hilbert_matches_reference_model(spark, pairs):
    from magshield_data_pipeline_spark.operators import layout as L

    def xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    df = spark.createDataFrame(pairs, "x long, y long")
    got = {
        (r["x"], r["y"]): r["_hkey"]
        for r in L.with_hilbert(df, "x", "y", bits=8).collect()
    }
    assert got == {(x, y): xy2d(256, x, y) for x, y in pairs}


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.floats(min_value=0.1, max_value=1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=100,
        unique_by=lambda t: t[0],
    )
)
def test_es_key_deterministic_and_weight_monotone(spark, rows):
    # determinism: same (id, weight) → same key on re-evaluation; and
    # doubling every weight strictly increases every key (ln(u) < 0)
    from magshield_data_pipeline_spark.operators import sampling as SA

    df = spark.createDataFrame(rows, "id long, w double")
    k1 = {
        r["id"]: r["k"]
        for r in df.select(
            "id", SA.es_weight_key(F.col("id"), F.col("w")).alias("k")
        ).collect()
    }
    k2 = {
        r["id"]: r["k"]
        for r in df.select(
            "id", SA.es_weight_key(F.col("id"), F.col("w")).alias("k")
        ).collect()
    }
    assert k1 == k2
    doubled = {
        r["id"]: r["k"]
        for r in df.select(
            "id", SA.es_weight_key(F.col("id"), F.col("w") * 2).alias("k")
        ).collect()
    }
    # rounded to 9 decimals: monotone non-strict at tiny magnitudes
    assert all(doubled[i] >= k1[i] for i in k1)


# ---------------------------------------------------------------------------
# r8 operators


@settings(**_SETTINGS)
@given(
    obs=st.dictionaries(
        st.integers(min_value=0, max_value=14),  # day offsets in the span
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False),
        max_size=10,
    )
)
def test_gap_fill_locf_matches_python_reference(spark, obs):
    """LOCF over any sparse observation set equals the sequential
    python fold: carry the last seen value, default before the first
    observation; was_gap marks exactly the non-observed days."""
    import datetime

    from magshield_data_pipeline_spark.operators import temporal as TP

    d0 = datetime.date(2024, 3, 1)
    days = [d0 + datetime.timedelta(days=i) for i in range(15)]
    sparse = spark.createDataFrame(
        [("k", d0 + datetime.timedelta(days=i), v) for i, v in obs.items()],
        "key string, day date, value double",
    )
    keys = spark.createDataFrame([("k",)], "key string")
    span = spark.createDataFrame([(days[0], days[-1])], "d0 date, d1 date")
    got = {
        r["day"]: (r["value_filled"], r["was_gap"])
        for r in TP.gap_fill_locf(sparse, keys, span).collect()
    }
    last = 0.0
    for i, day in enumerate(days):
        if i in obs:
            last = obs[i]
        assert got[day] == (last, i not in obs)
    assert len(got) == len(days)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.text(
            # include combining marks (Mn) and precomposed latin so the
            # NFC/NFD paths actually exercise; exclude surrogates
            alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
            max_size=30,
        ),
        min_size=1,
        max_size=15,
    )
)
def test_unicode_canonicalize_matches_unicodedata(spark, vals):
    import unicodedata

    from magshield_data_pipeline_spark.operators import text as TT

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    out = TT.unicode_canonicalize(df, text_col="v").collect()
    for r in out:
        v = r["v"]
        assert r["nfc_text"] == unicodedata.normalize("NFC", v)
        assert r["stripped_text"] == "".join(
            ch
            for ch in unicodedata.normalize("NFD", v)
            if unicodedata.category(ch) != "Mn"
        )
        # idempotence: canonical forms are fixed points
        assert unicodedata.normalize("NFC", r["nfc_text"]) == r["nfc_text"]


@settings(**_SETTINGS)
@given(n_words=st.integers(min_value=0, max_value=120))
def test_windowed_chunks_closed_form(n_words):
    """Window positions/sizes follow the closed form the SQL twin
    states: starts at multiples of the stride while < n_words; window
    p holds min(size, n - p*stride) words; consecutive windows overlap
    by size - stride."""
    from magshield_data_pipeline_spark.operators.udtfs import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        WindowedChunks,
    )

    words = [f"w{i}" for i in range(n_words)]
    rows = list(WindowedChunks().eval(" ".join(words)))
    expect_n = 0 if n_words == 0 else (n_words - 1) // CHUNK_STRIDE + 1
    assert len(rows) == expect_n
    for pos, n, text in rows:
        start = pos * CHUNK_STRIDE
        assert n == min(CHUNK_SIZE, n_words - start)
        assert text.split() == words[start : start + CHUNK_SIZE]
