"""Training-data operators not covered by a DuckDB oracle: simhash
dedup (Python-side hash), IVF/LSH approximate search (recall vs the
exact baseline), multimodal plumbing, streaming ingest, salted join."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(40):
        words = base.split()
        words[i % len(words)] = f"tok{i}"
        rows.append((i, " ".join(words), "src"))
    # two exact near-dup pairs
    rows.append((100, base + " extra", "src"))
    rows.append((101, base + " extra", "src"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string").cache()


def test_simhash_matches_python_oracle(spark, docs):
    from surfactant_spark.functions.hashing import simhash64
    from surfactant_spark.operators.dedup import dedup_simhash

    got = {(r.id1, r.id2): r.hamming for r in dedup_simhash(docs, max_hamming=10).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}

    def sh(t):
        return simhash64(t.lower().split())

    want = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sh(texts[a]) ^ sh(texts[b])).count("1")
            if h <= 10:
                want[(a, b)] = h
    # blocking guarantees recall only for hamming <= n_blocks-1 = 3;
    # everything found must be exact, and all <=3 pairs must be found
    for pair, h in got.items():
        assert want.get(pair) == h
    for pair, h in want.items():
        if h <= 3:
            assert pair in got
    assert (100, 101) in got and got[(100, 101)] == 0


def test_simhash_degenerate_corpus_bounded(spark):
    """10k identical/empty docs all share every simhash block; the
    max_bucket cap must drop the mega-buckets instead of building a
    ~10k^2-pair bucket (the 100 TB hot-block guard)."""
    import time

    from surfactant_spark.operators.dedup import dedup_simhash

    rows = [(i, "") for i in range(5000)] + [(10000 + i, "same text here") for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.time()
    n = dedup_simhash(df, max_hamming=3).count()
    wall = time.time() - t0
    # every bucket is degenerate (width 5000 > 64) -> all dropped
    assert n == 0
    assert wall < 60  # quadratic would be ~25M pairs per block x 8

    # sanity: the cap does not suppress normal-width buckets
    small = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], "doc_id long, text string"
    )
    assert dedup_simhash(small, max_hamming=3).count() == 1


def test_ngram_refuses_unblocked_cartesian(spark, docs):
    from surfactant_spark.operators.dedup import dedup_ngram_jaccard

    with pytest.raises(ValueError, match="cartesian"):
        dedup_ngram_jaccard(docs)
    # explicit opt-in still works for small verification runs
    got = dedup_ngram_jaccard(docs, threshold=0.9, allow_full_cartesian=True)
    assert {(r.id1, r.id2) for r in got.collect()} >= {(100, 101)}


def test_embedding_dedup_and_blocking(spark):
    from surfactant_spark.operators.dedup import dedup_embedding

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),   # near-dup of 1, same block
        (3, [0.0, 1.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0], 1),      # identical to 1 but other block: not paired
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r.id1, r.id2) for r in dedup_embedding(df, threshold=0.95).collect()}
    assert got == {(1, 2)}


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(200, 16)).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": range(200),
            "embedding": [list(map(float, v)) for v in vecs],
            "label": [i % 5 for i in range(200)],
        }
    )
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>, label int").cache()


def test_bruteforce_matches_numpy(spark, emb):
    from surfactant_spark.operators.similarity import topk_bruteforce

    q = emb.where(F.col("vec_id") < 3)
    got = topk_bruteforce(q, emb, k=3).toPandas()
    pdf = emb.toPandas()
    mat = np.array(pdf.embedding.tolist(), dtype="float64")
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid in range(3):
        sims = mat @ mat[qid]
        sims[qid] = -np.inf
        want = set(np.argsort(-np.round(sims, 6))[:3])
        got_ids = set(got[got.query_id == qid].match_id)
        assert got_ids == {int(x) for x in want}


def test_ivf_and_lsh_recall(spark, emb):
    from surfactant_spark.operators.similarity import topk_bruteforce, topk_ivf, topk_lsh

    q = emb.where(F.col("vec_id") < 10)
    exact = topk_bruteforce(q, emb, k=5).toPandas()
    ivf = topk_ivf(q, emb, k=5, nprobe=3).toPandas()
    lsh = topk_lsh(q, emb, k=5, n_planes=3).toPandas()

    def recall(approx):
        hits = tot = 0
        for qid in range(10):
            want = set(exact[exact.query_id == qid].match_id)
            got = set(approx[approx.query_id == qid].match_id)
            hits += len(want & got)
            tot += len(want)
        return hits / tot

    assert recall(ivf) >= 0.5   # nprobe=3 of 5 lists
    assert recall(lsh) >= 0.2   # 8 buckets; recall traded for 8x scan cut
    # every approximate hit must carry the exact cosine score
    merged = ivf.merge(exact, on=["query_id", "match_id"], suffixes=("_ivf", "_exact"))
    assert (merged.cosine_ivf == merged.cosine_exact).all()


def test_multimodal_features_deterministic(spark, docs):
    from surfactant_spark.operators.multimodal import (
        decode_image,
        documents_as_media,
        extract_media_features,
        frame_sample,
    )

    media = documents_as_media(docs)
    feats = extract_media_features(media).toPandas()
    assert len(feats) == docs.count()
    assert all(len(f) == 16 for f in feats.features)
    again = extract_media_features(media).toPandas().set_index("media_id")
    byid = feats.set_index("media_id")
    for mid in byid.index:
        assert list(byid.loc[mid, "features"]) == list(again.loc[mid, "features"])
        assert byid.loc[mid, "sha256"] == again.loc[mid, "sha256"]
    # real codec is stubbed (no imaging libs in this container)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    # frame sampling explodes n_frames and keeps every n-th
    m = spark.createDataFrame(
        [(1, "video", bytearray(b"x"), (None, None, None, 30))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    frames = frame_sample(m, every_n=10).collect()
    assert sorted(r.frame_idx for r in frames) == [0, 10, 20]


def test_streaming_incremental_equals_batch(spark, docs, tmp_path):
    from surfactant_spark.operators.extract import extract_pages
    from surfactant_spark.streaming.incremental import run_incremental_batch

    pages = docs.select(
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text"),
        F.lit("en").alias("lang"),
    )
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    out = run_incremental_batch(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    batch = extract_pages(pages).select("url", "content_sha256").toPandas()
    stream = out.select("url", "content_sha256").toPandas()
    assert (
        batch.sort_values("url").reset_index(drop=True).equals(
            stream.sort_values("url").reset_index(drop=True)
        )
    )


def test_salted_join_equals_plain_join(spark):
    from surfactant_spark.operators.link import salted_join

    big = spark.createDataFrame(
        [(k % 3, i) for i, k in enumerate(range(300))], "key int, val int"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "key int, tag string")
    plain = {(r.key, r.val, r.tag) for r in big.join(small, "key").collect()}
    salted = {(r.key, r.val, r.tag) for r in salted_join(big, small, "key", n_salt=4).collect()}
    assert salted == plain


def test_embedding_degenerate_block_bounded(spark):
    """One hot quantizer cell holding 10k identical vectors: the
    max_bucket width guard must drop the cell (no 50M-pair quadratic
    self-join), while normal-width cells still pair."""
    import time

    from surfactant_spark.operators.dedup import dedup_embedding

    rows = [(i, [1.0, 0.0], 0) for i in range(10_000)]
    rows += [(20_000, [0.0, 1.0], 1), (20_001, [0.0, 1.0], 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    t0 = time.time()
    got = {(r.id1, r.id2) for r in dedup_embedding(df, threshold=0.95, max_bucket=1024).collect()}
    assert got == {(20_000, 20_001)}  # hot cell dropped, small cell kept
    assert time.time() - t0 < 60


def test_simhash_dropped_buckets_diagnostic(spark):
    from surfactant_spark.operators.dedup import simhash_dropped_buckets

    rows = [(i, "") for i in range(200)] + [(1000, "alpha beta"), (1001, "alpha beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dropped = simhash_dropped_buckets(df, max_bucket=64).collect()
    # the 200 empty docs share simhash 0 -> 4 blocks of width 200 dropped
    assert len(dropped) == 4
    assert all(r.width == 200 for r in dropped)
    assert simhash_dropped_buckets(df, max_bucket=500).count() == 0


def test_embedding_dropped_buckets_diagnostic(spark):
    """The embedding family's recall audit, twin of the simhash one:
    quantizer cells wider than the cap are reported, not silently
    absent from the pair output."""
    from surfactant_spark.operators.dedup import embedding_dropped_buckets

    rows = [(i, [1.0, 0.0], 0) for i in range(300)]
    rows += [(20_000, [0.0, 1.0], 1), (20_001, [0.0, 1.0], 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    dropped = embedding_dropped_buckets(df, max_bucket=256).collect()
    assert [(r.block, r.width) for r in dropped] == [(0, 300)]
    assert embedding_dropped_buckets(df, max_bucket=1024).count() == 0


def test_lsh_bucket_dim_mismatch_is_null_not_zero(spark):
    """A vector whose length disagrees with the plane dim must get a
    NULL bucket (visible drop), never silently collapse into bucket 0."""
    from surfactant_spark.operators.similarity import lsh_bucket

    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 5)], "vec_id long, embedding array<float>"
    )
    got = {
        r.vec_id: r.bucket
        for r in df.select(
            "vec_id", lsh_bucket(F.col("embedding"), 4, 8).alias("bucket")
        ).collect()
    }
    assert got[1] is not None
    assert got[2] is None


def test_exact_quantiles_hand_computed(spark):
    """quantile_disc semantics: value at 0-based rank floor(q*(N-1)) of
    the sorted multiset, verified against Python sorting; the window
    runs over the histogram, never the input rows."""
    from surfactant_spark.operators.textops import exact_quantiles

    vals = [5, 1, 9, 1, 7, 3, 3, 3, 12, 2]  # N=10
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    qs = (0.0, 0.25, 0.5, 0.9, 1.0)
    got = {r.q: r.value for r in exact_quantiles(df, qs).collect()}
    s = sorted(vals)
    want = {float(q): s[int(q * (len(s) - 1))] for q in qs}
    assert got == want

    # single value and empty-safe degenerate
    one = spark.createDataFrame([(4,)], "v int")
    assert {r.value for r in exact_quantiles(one, (0.5,)).collect()} == {4}


def test_exact_quantiles_integer_rank_arithmetic(spark):
    """The rank must come from exact integer arithmetic: with N=11 and
    q=0.7 the rational rank is exactly 7, but IEEE 0.7*(11-1) evaluates
    to 6.999... and floor() would select rank 6 (value 6, not 7)."""
    from fractions import Fraction

    from surfactant_spark.operators.textops import exact_quantiles

    df = spark.createDataFrame([(v,) for v in range(11)], "v int")
    qs = (0.7, 0.1, 0.3)  # IEEE 0.3*10 = 2.999... also lands one low
    got = {r.q: r.value for r in exact_quantiles(df, qs).collect()}
    want = {
        float(q): (Fraction(str(q)).numerator * 10)
        // Fraction(str(q)).denominator
        for q in qs
    }
    assert got == want == {0.7: 7, 0.1: 1, 0.3: 3}


def test_exact_quantiles_grouped(spark):
    from surfactant_spark.operators.textops import exact_quantiles

    rows = [("a", v) for v in [1, 2, 3, 4]] + [("b", v) for v in [10, 20]]
    df = spark.createDataFrame(rows, "g string, v int")
    got = {
        (r.g, r.q): r.value
        for r in exact_quantiles(df, (0.5, 1.0), group_cols=("g",)).collect()
    }
    # a sorted [1,2,3,4]: rank floor(.5*3)=1 -> 2; rank 3 -> 4
    # b sorted [10,20]:   rank floor(.5*1)=0 -> 10; rank 1 -> 20
    assert got == {
        ("a", 0.5): 2, ("a", 1.0): 4,
        ("b", 0.5): 10, ("b", 1.0): 20,
    }


def test_collocations_hand_computed(spark):
    """'a b a b c': bigrams ab,ba,ab,bc -> with min_count=2 only
    (a,b) survives: n_ab=2, n_a=2, n_b=2, N=5, lift=2*5/(2*2)=2.5."""
    from surfactant_spark.operators.textops import collocations

    docs = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    rows = collocations(docs, min_count=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.tok_a, r.tok_b, r.n_ab, r.n_a, r.n_b, r.n_tokens, r.lift) == (
        "a", "b", 2, 2, 2, 5, 2.5
    )


def test_collocations_ordered_pairs_and_single_token_docs(spark):
    """Bigrams are ORDERED (ba != ab) and a 1-token document
    contributes unigrams but no bigrams (the slice guard)."""
    from surfactant_spark.operators.textops import collocations

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "y x"), (4, "solo")],
        "doc_id long, text string",
    )
    got = {(r.tok_a, r.tok_b): r.n_ab for r in collocations(docs, min_count=1).collect()}
    assert got == {("x", "y"): 2, ("y", "x"): 1}


def test_pack_sequences_hand_computed(spark):
    """Per-source stream in doc_id order, budget 10: source s docs of
    4/5/4/3 tokens start at 0/4/9/13 -> bins 0/0/0/1 (doc at offset 9
    straddles the boundary but belongs to bin 0 by its start)."""
    import pytest as _pytest

    from surfactant_spark.operators.textops import pack_sequences

    docs = spark.createDataFrame(
        [
            (1, "s", "a b c d"),
            (2, "s", "e f g h i"),
            (3, "s", "j k l m"),
            (4, "s", "n o p"),
            (10, "t", "q r"),  # independent stream restarts at 0
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r.doc_id: (r.source, r.n_tokens, r.start_offset, r.bin)
        for r in pack_sequences(docs, budget=10).collect()
    }
    assert got == {
        1: ("s", 4, 0, 0),
        2: ("s", 5, 4, 0),
        3: ("s", 4, 9, 0),
        4: ("s", 3, 13, 1),
        10: ("t", 2, 0, 0),
    }
    with _pytest.raises(ValueError):
        pack_sequences(docs, budget=0)


def test_quality_filter_precedence_and_partition(spark):
    """drop_reason is the FIRST failing rule (too_short outranks all);
    keep is true iff no rule fired; both rule classes actually fire on
    the fixture corpus."""
    from surfactant_spark.queries import QF_MIN_TOKENS, q_quality_filter
    from tests.conftest import SF_DIR

    rows = q_quality_filter(spark, SF_DIR).collect()
    assert rows
    kept = [r for r in rows if r.keep]
    dropped = [r for r in rows if not r.keep]
    assert kept and dropped
    for r in rows:
        assert r.keep == (r.drop_reason is None)
        if r.n_tokens < QF_MIN_TOKENS:
            assert r.drop_reason == "too_short"
    assert {r.drop_reason for r in dropped} >= {"too_short"}


# ---------------------------------------------------------------------------
# properties: collocations and sequence packing vs pure-python references
# ---------------------------------------------------------------------------
import re
from collections import Counter

from hypothesis import given, settings, strategies as st

_word = st.sampled_from(["aa", "bb", "cc", "dd"])
_text = st.lists(_word, min_size=1, max_size=8).map(" ".join)
_docs_st = st.lists(_text, min_size=1, max_size=10)


def _round6_half_up(x):
    """Spark's round(col, 6) = BigDecimal.valueOf(double).setScale(6,
    HALF_UP), i.e. HALF_UP on the shortest decimal repr — and DuckDB's
    round() ties away from zero identically (verified on the exact
    binary tie 90/256 = 0.3515625 -> 0.351563 in both engines).
    Python's builtin round() does banker's rounding (-> 0.351562) and
    is NOT a valid reference for either engine on ties."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _py_collocations(texts):
    uni, big = Counter(), Counter()
    total = 0
    for s in texts:
        toks = re.split(r"\s+", s.strip().lower())
        uni.update(toks)
        total += len(toks)
        big.update(zip(toks, toks[1:]))
    out = {}
    for (a, b), n_ab in big.items():
        lift = _round6_half_up(n_ab * total / (uni[a] * uni[b]))
        out[(a, b)] = (n_ab, uni[a], uni[b], total, lift)
    return out


@settings(max_examples=8, deadline=None)
@given(_docs_st)
def test_collocations_match_python_counter(spark, texts):
    from surfactant_spark.operators.textops import collocations

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.tok_a, r.tok_b): (r.n_ab, r.n_a, r.n_b, r.n_tokens, r.lift)
        for r in collocations(docs, min_count=1).collect()
    }
    assert got == _py_collocations(texts)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["s", "t"]), _text), min_size=1, max_size=12
    ),
    st.integers(min_value=1, max_value=9),
)
def test_pack_sequences_match_python_cumsum(spark, rows, budget):
    from surfactant_spark.operators.textops import pack_sequences

    docs = spark.createDataFrame(
        [(i, g, t) for i, (g, t) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.start_offset, r.bin)
        for r in pack_sequences(docs, budget=budget).collect()
    }
    offsets = {"s": 0, "t": 0}
    want = {}
    for i, (g, t) in enumerate(rows):  # doc_id == index == group order
        n = len(re.split(r"\s+", t.strip().lower()))
        want[i] = (n, offsets[g], offsets[g] // budget)
        offsets[g] += n
    assert got == want


def test_tfidf_terms_hand_computed(spark):
    """3-doc corpus with a within-doc score tie (banana/cherry in doc 2
    resolve by term asc) and a cross-term tie in doc 3 (cherry/date at
    3.0 push apple to rank 3, outside top_n=2)."""
    from surfactant_spark.operators.textops import tfidf_terms

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df, r.n_docs, r.score)
        for r in tfidf_terms(docs, top_n=2).collect()
    }
    assert got == {
        (1, 1): ("apple", 2, 2, 3, 3.0),
        (1, 2): ("banana", 1, 2, 3, 1.5),
        (2, 1): ("banana", 1, 2, 3, 1.5),
        (2, 2): ("cherry", 1, 2, 3, 1.5),
        (3, 1): ("cherry", 2, 2, 3, 3.0),
        (3, 2): ("date", 1, 1, 3, 3.0),
    }


def test_inverted_index_caps_and_hot_token_null(spark):
    """df/n_occurrences stay exact for EVERY token, but the posting
    list materializes only under the max_df cap (the bounded-buffer
    skew control) and is sliced to max_postings."""
    from surfactant_spark.operators.textops import inverted_index

    docs = spark.createDataFrame(
        [(1, "the apple the"), (2, "the banana"), (3, "the apple")],
        "doc_id long, text string",
    )
    got = {
        r.token: (r.df, r.n_occurrences, r.postings)
        for r in inverted_index(docs, max_postings=8, max_df=2).collect()
    }
    assert got == {
        "the": (3, 4, None),  # hot: counts exact, postings dropped
        "apple": (2, 2, "1,3"),
        "banana": (1, 1, "2"),
    }
    got1 = {
        r.token: r.postings
        for r in inverted_index(docs, max_postings=1, max_df=2).collect()
    }
    assert got1["apple"] == "1"  # slice keeps the smallest doc_id


def _py_tfidf(texts, top_n):
    n_docs = len(texts)
    tf = Counter()
    for i, s in enumerate(texts):
        for t in re.split(r"\s+", s.strip().lower()):
            if t:
                tf[(i, t)] += 1
    df = Counter(t for (_, t) in tf)
    out = {}
    for i in range(n_docs):
        scored = sorted(
            (
                (-_round6_half_up(n * n_docs / df[t]), t, n)
                for (d, t), n in tf.items()
                if d == i
            ),
        )
        for rank, (neg_score, t, n) in enumerate(scored[:top_n], start=1):
            out[(i, rank)] = (t, n, df[t], n_docs, -neg_score)
    return out


@settings(max_examples=8, deadline=None)
@given(_docs_st, st.integers(min_value=1, max_value=4))
def test_tfidf_matches_python_counter(spark, texts, top_n):
    from surfactant_spark.operators.textops import tfidf_terms

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df, r.n_docs, r.score)
        for r in tfidf_terms(docs, top_n=top_n).collect()
    }
    assert got == _py_tfidf(texts, top_n)


def _py_inverted_index(texts, max_postings, max_df):
    per_doc = Counter()
    for i, s in enumerate(texts):
        for t in re.split(r"\s+", s.strip().lower()):
            if t:
                per_doc[(t, i)] += 1
    out = {}
    toks = {t for (t, _) in per_doc}
    for tok in toks:
        docs = sorted(d for (t, d) in per_doc if t == tok)
        occ = sum(n for (t, _), n in per_doc.items() if t == tok)
        posts = (
            ",".join(str(d) for d in docs[:max_postings])
            if len(docs) <= max_df
            else None
        )
        out[tok] = (len(docs), occ, posts)
    return out


@settings(max_examples=8, deadline=None)
@given(
    _docs_st,
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=1, max_value=5),
)
def test_inverted_index_matches_python_counter(spark, texts, max_postings, max_df):
    from surfactant_spark.operators.textops import inverted_index

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.token: (r.df, r.n_occurrences, r.postings)
        for r in inverted_index(
            docs, max_postings=max_postings, max_df=max_df
        ).collect()
    }
    assert got == _py_inverted_index(texts, max_postings, max_df)


# ---------------------------------------------------------------------------
# k-means embedding clustering
# ---------------------------------------------------------------------------
def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_hand_computed(spark):
    """Two orthogonal directions, lowest-id seeding: members follow
    their direction, centroids move to the means, sims land on 1.0;
    the equidistant vector ties at round6 and resolves to the lower
    cluster id."""
    from surfactant_spark.operators.similarity import kmeans_assign

    clean = _emb_df(
        spark,
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [2.0, 0.0]), (3, [0.0, 3.0])],
    )
    got = {
        r.vec_id: (r.cluster, r.sim)
        for r in kmeans_assign(clean, k=2, iters=1).collect()
    }
    assert got == {0: (0, 1.0), 2: (0, 1.0), 1: (1, 1.0), 3: (1, 1.0)}

    # the equidistant vector against the SEED centroids (iters=0):
    # cos 0.707107 to both after round6 -> lower cluster id wins
    tied = _emb_df(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (4, [1.0, 1.0])])
    got0 = {
        r.vec_id: (r.cluster, r.sim)
        for r in kmeans_assign(tied, k=2, iters=0).collect()
    }
    assert got0[4] == (0, 0.707107)


def test_kmeans_empty_cluster_disappears(spark):
    """Duplicate seeds: the tie sends both [1,0] vectors to cluster 0,
    cluster 1 starves and drops out — k shrinks, documented semantics."""
    from surfactant_spark.operators.similarity import kmeans_assign

    df = _emb_df(spark, [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])])
    got = {r.vec_id: r.cluster for r in kmeans_assign(df, k=3, iters=1).collect()}
    assert got == {0: 0, 1: 0, 2: 2}


def test_kmeans_exact_and_production_paths_agree(spark):
    """On well-separated data the production centroid path (avg,
    partition-order accumulation) must produce the same PARTITION as
    the canonical-order exact path (sims may differ in the last ulp,
    assignments must not)."""
    from surfactant_spark.operators.similarity import kmeans_assign

    rows = [(i, [10.0 + (i % 3), 0.1 * (i % 5), 0.0]) for i in range(0, 8)]
    rows += [(i, [0.0, 0.1 * (i % 5), 10.0 + (i % 3)]) for i in range(8, 16)]
    df = _emb_df(spark, rows)
    a = {r.vec_id: r.cluster for r in kmeans_assign(df, k=2, iters=2, exact=True).collect()}
    b = {r.vec_id: r.cluster for r in kmeans_assign(df, k=2, iters=2, exact=False).collect()}
    assert a == b
    assert len(set(a.values())) == 2


def _py_kmeans(vecs, k, iters):
    import math
    from collections import defaultdict

    ids = sorted(vecs)
    cents = {i: list(vecs[ids[i]]) for i in range(min(k, len(ids)))}

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        na, nb = math.sqrt(na), math.sqrt(nb)
        if na == 0.0 or nb == 0.0:
            return 0.0
        return dot / (na * nb)

    def assign(cents):
        out = {}
        for i in ids:
            cands = sorted(
                (-_round6_half_up(cos(vecs[i], c)), cl) for cl, c in cents.items()
            )
            out[i] = (cands[0][1], -cands[0][0])
        return out

    for _ in range(iters):
        a = assign(cents)
        members = defaultdict(list)
        for i in ids:
            members[a[i][0]].append(i)
        cents = {}
        for cl, mids in members.items():
            dim = len(vecs[mids[0]])
            cent = []
            for j in range(dim):
                s = 0.0
                for mid in sorted(mids):
                    s += vecs[mid][j]
                cent.append(s / len(mids))
            cents[cl] = cent
    return {i: (cl, abs(s)) for i, (cl, s) in assign(cents).items()}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2),
)
def test_kmeans_matches_python_replay(spark, vec_rows, k, iters):
    """Seeding, per-iteration assignment (round6 tie-break), canonical
    summation centroids, and the final sims all pinned to a pure-python
    replay — float32 inputs widened to double exactly like the engine."""
    import numpy as np

    from surfactant_spark.operators.similarity import kmeans_assign

    vecs = {
        i: [float(np.float32(x)) for x in row] for i, row in enumerate(vec_rows)
    }
    df = _emb_df(spark, [(i, v) for i, v in vecs.items()])
    got = {
        r.vec_id: (r.cluster, abs(r.sim))
        for r in kmeans_assign(df, k=k, iters=iters).collect()
    }
    assert got == _py_kmeans(vecs, k, iters)


# ---------------------------------------------------------------------------
# BPE merge induction
# ---------------------------------------------------------------------------
def test_bpe_merges_hand_computed(spark):
    """The Sennrich low/lower/newest example: (l,o) wins the first tie
    on sym order, (lo,w) chains, then (e,r) beats (low,e) on the rank-3
    tie — all counts corpus-frequency weighted."""
    from surfactant_spark.operators.textops import bpe_merges

    docs = spark.createDataFrame(
        [(0, "low low low"), (1, "lower lower"), (2, "newest")],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in bpe_merges(docs, n_merges=3).collect()]
    assert sorted(got) == [
        (0, "l", "o", "lo", 5),
        (1, "lo", "w", "low", 5),
        (2, "e", "r", "er", 2),
    ]


def test_bpe_merges_overlap_and_consecutive(spark):
    """'aaa' fuses ONCE per pass (non-overlapping left-to-right, the
    BPE semantic); 'abab' fuses BOTH occurrences in one pass."""
    from surfactant_spark.operators.textops import bpe_merges

    aaa = spark.createDataFrame([(0, "aaa")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_merges(aaa, n_merges=2).collect()]
    assert got == [(0, "a", "a", "aa", 2), (1, "aa", "a", "aaa", 1)]

    abab = spark.createDataFrame([(0, "abab")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_merges(abab, n_merges=2).collect()]
    assert got == [(0, "a", "b", "ab", 2), (1, "ab", "ab", "abab", 1)]


def test_bpe_merges_exhausted_corpus_stops_early(spark):
    from surfactant_spark.operators.textops import bpe_merges

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    out = bpe_merges(docs, n_merges=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "merge_rank", "sym_a", "sym_b", "merged", "n_occurrences",
    ]


def _py_bpe(texts, n_merges):
    wc = Counter()
    for s in texts:
        for w in re.split(r"\s+", s.strip().lower()):
            if w:
                wc[w] += 1
    seqs = {w: tuple(w) for w in wc}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, syms in seqs.items():
            for pair in zip(syms, syms[1:]):
                pc[pair] += wc[w]
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, n))
        new = {}
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[w] = tuple(out)
        seqs = new
    return merges, seqs, wc


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=5),
            min_size=1,
            max_size=6,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_bpe_merges_match_python_reference(spark, texts, n_merges):
    """The whole greedy loop (weighted pair counts, (count desc, pair
    asc) selection, non-overlapping fuse) pinned to an independent
    pure-python BPE on random corpora."""
    from surfactant_spark.operators.textops import bpe_merges

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_merges(docs, n_merges=n_merges).collect()]
    assert got == _py_bpe(texts, n_merges)[0]


# ---------------------------------------------------------------------------
# host boilerplate shingle mining
# ---------------------------------------------------------------------------
def _py_boilerplate(rows, n, min_pages, min_pct):
    from collections import defaultdict

    pages = defaultdict(int)
    counts = defaultdict(int)
    for url, text in rows:
        m = re.match(r"^[a-z]+://([^/?#]+)", url)
        host = m.group(1) if m else ""
        toks = re.split(r"\s+", text.strip().lower())
        grams = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
        pages[host] += 1
        for g in grams:
            counts[(host, g)] += 1
    return {
        (host, g): (c, pages[host])
        for (host, g), c in counts.items()
        if pages[host] >= min_pages and c * 100 >= pages[host] * min_pct
    }


def test_host_boilerplate_hand_computed(spark):
    """Template on 3/3 pages kept; a 2/3 (66 %) tail kept; a 1/3 tail
    dropped; a perfectly-templated 2-page host dropped by min_pages."""
    from surfactant_spark.operators.textops import host_boilerplate

    rows = [
        ("https://a.example/p/0", "a b c d e f z1 z2 z3 z4 z5"),
        ("https://a.example/p/1", "a b c d e f z1 z2 z3 z4 z5"),
        ("https://a.example/p/2", "a b c d e f q1 q2 q3 q4 q5"),
        ("https://b.example/p/0", "p q r s t u"),
        ("https://b.example/p/1", "p q r s t u"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {
        (r.host, r.shingle): (r.n_pages, r.n_host_pages)
        for r in host_boilerplate(df, n=5, min_pages=3, min_pct=60).collect()
    }
    assert got == _py_boilerplate(rows, 5, 3, 60)
    assert got[("a.example", "a b c d e")] == (3, 3)
    assert got[("a.example", "z1 z2 z3 z4 z5")] == (2, 3)
    assert ("a.example", "q1 q2 q3 q4 q5") not in got
    assert not any(h == "b.example" for h, _ in got)


def test_host_boilerplate_within_page_repeat_counts_once(spark):
    """A template repeated twice INSIDE one page still counts that page
    once (array_distinct), and a sub-n-token page contributes no
    shingles but does count toward n_host_pages."""
    from surfactant_spark.operators.textops import host_boilerplate

    rows = [
        ("https://c.example/p/0", "t1 t2 t3 t4 t5 t1 t2 t3 t4 t5"),
        ("https://c.example/p/1", "t1 t2 t3 t4 t5"),
        ("https://c.example/p/2", "hi"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {
        (r.host, r.shingle): (r.n_pages, r.n_host_pages)
        for r in host_boilerplate(df, n=5, min_pages=3, min_pct=60).collect()
    }
    assert got == _py_boilerplate(rows, 5, 3, 60)
    assert got[("c.example", "t1 t2 t3 t4 t5")] == (2, 3)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["h0", "h1"]), _text), min_size=1, max_size=12
    ),
    st.integers(min_value=2, max_value=4),
)
def test_host_boilerplate_matches_python_counter(spark, pages, n):
    from surfactant_spark.operators.textops import host_boilerplate

    rows = [
        (f"https://{h}.example.net/p/{i}", t)
        for i, (h, t) in enumerate(pages)
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {
        (r.host, r.shingle): (r.n_pages, r.n_host_pages)
        for r in host_boilerplate(df, n=n, min_pages=2, min_pct=50).collect()
    }
    assert got == _py_boilerplate(rows, n, 2, 50)


# ---------------------------------------------------------------------------
# cross-split n-gram novelty (val_oov)
# ---------------------------------------------------------------------------
def _py_split_oov(rows, weights, n, salt="split:v1"):
    from collections import Counter, defaultdict

    from surfactant_spark.functions.hashing import portable_hash64

    mod = 1_000_000
    names = list(weights)

    def split_of(doc_id):
        b = portable_hash64(f"{salt}:{doc_id}") % mod
        cum = 0
        for name in names[:-1]:
            cum += int(round(weights[name] * mod))
            if b < cum:
                return name
        return names[-1]

    train = set()
    val = defaultdict(Counter)
    for doc_id, lang, text in rows:
        toks = re.split(r"\s+", text.strip().lower())
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        s = split_of(doc_id)
        if s == "train":
            train.update(grams)
        elif s == "val":
            val[lang].update(grams)
    out = {}
    for lang, c in val.items():
        if not c:
            # a sub-n-token val doc yields no grams: explode drops the
            # row, so the engine emits no row for the language either
            continue
        nt = sum(c.values())
        no = sum(v for g, v in c.items() if g not in train)
        out[lang] = (
            nt,
            no,
            len(c),
            sum(1 for g in c if g not in train),
            _round6_half_up(no / nt),
        )
    return out


def test_split_oov_hand_labeled(spark):
    """Fully-covered and fully-novel val docs behave as expected: a val
    doc repeating only train trigrams scores 0, one sharing nothing
    scores 1. Split labels pinned by choosing ids whose hash buckets
    are known (computed with the same portable hash the engine uses)."""
    from surfactant_spark.functions.hashing import portable_hash64
    from surfactant_spark.operators.textops import split_oov

    # find concrete ids for each split under the test weights
    w = {"train": 0.5, "val": 0.5}
    train_ids = [i for i in range(60) if portable_hash64(f"split:v1:{i}") % 1_000_000 < 500_000]
    val_ids = [i for i in range(60) if i not in train_ids]
    rows = [
        (train_ids[0], "en", "a b c d e"),
        (val_ids[0], "en", "a b c d e"),        # every trigram seen in train
        (val_ids[1], "de", "x y z w v"),        # nothing seen in train
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.lang: (r.n_tokens, r.n_oov_tokens, r.n_types, r.n_oov_types, r.oov_rate)
        for r in split_oov(df, w, n=3).collect()
    }
    assert got == {"en": (3, 0, 3, 0, 0.0), "de": (3, 3, 3, 3, 1.0)}
    assert got == _py_split_oov(rows, w, 3)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["en", "de"]), _text), min_size=1, max_size=14
    ),
    st.integers(min_value=1, max_value=3),
)
def test_split_oov_matches_python_counter(spark, rows_in, n):
    from surfactant_spark.operators.textops import split_oov

    rows = [(i, lang, t) for i, (lang, t) in enumerate(rows_in)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    w = {"train": 0.5, "val": 0.4, "test": 0.1}
    got = {
        r.lang: (r.n_tokens, r.n_oov_tokens, r.n_types, r.n_oov_types, r.oov_rate)
        for r in split_oov(df, w, n=n).collect()
    }
    assert got == _py_split_oov(rows, w, n)


# ---------------------------------------------------------------------------
# embedding scalar quantization
# ---------------------------------------------------------------------------
def _round0_half_up(x):
    """Spark round(col) at scale 0: HALF_UP on the shortest decimal
    repr (BigDecimal.valueOf), away from zero on ties."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(float(x))).quantize(Decimal("1"), rounding=ROUND_HALF_UP))


def _py_quant(vecs, bits=8):
    qmax = 2 ** (bits - 1) - 1
    out = {}
    for vid, v in vecs:
        m = max((abs(x) for x in v), default=0.0)
        scale = m / qmax
        codes = [0] * len(v) if m == 0.0 else [_round0_half_up(x / scale) for x in v]
        err = [abs(float(c) * scale - x) for c, x in zip(codes, v)]
        s = 0.0
        for x in err:
            s += x
        out[vid] = (
            len(v),
            _round6_half_up(scale),
            ",".join(str(c) for c in codes),
            _round6_half_up(max(err, default=0.0)),
            _round6_half_up(s / len(v)) if v else 0.0,
        )
    return out


def _quant_rows(df_rows):
    return {
        r.vec_id: (r.n_dims, r.scale, r.codes, r.max_err, r.mean_err)
        for r in df_rows
    }


def test_quantize_hand_computed(spark):
    """scale = max|v|/127; -0.5 at scale 1/127 is the -63.5 tie and
    must round away from zero to -64; the max element hits exactly
    +/-127 (no clamp needed); the all-zero vector quantizes to zero
    codes at scale 0 with zero error."""
    from surfactant_spark.operators.similarity import quantize_embeddings

    rows = [(0, [1.0, -0.5, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])]
    got = _quant_rows(quantize_embeddings(_emb_df(spark, rows)).collect())
    assert got == _py_quant(rows)
    n, scale, codes, _, _ = got[0]
    assert codes == "127,-64,32,0"
    assert got[1] == (4, 0.0, "0,0,0,0", 0.0, 0.0)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4, allow_nan=False, width=32),
            min_size=2,
            max_size=6,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_quantize_matches_python_reference(spark, vec_rows):
    import numpy as np

    from surfactant_spark.operators.similarity import quantize_embeddings

    rows = [
        (i, [float(np.float32(x)) for x in row]) for i, row in enumerate(vec_rows)
    ]
    got = _quant_rows(quantize_embeddings(_emb_df(spark, rows)).collect())
    assert got == _py_quant(rows)


# ---------------------------------------------------------------------------
# line-level dedup + PII redaction (round-5 post-window additions)
# ---------------------------------------------------------------------------
def _py_line_dedup(pages, min_dups=2):
    """Pure-python reference: first (url, pos) occurrence of a
    corpus-duplicated trimmed line survives; under-threshold lines
    always survive; empty lines drop before keying."""
    ln = []
    for url, text in pages:
        for pos, raw in enumerate(text.split("\n")):
            line = raw.strip(" ")
            if line:
                ln.append((url, pos, line))
    occ = Counter(l for _, _, l in ln)
    first = {}
    for url, pos, line in sorted(ln):
        first.setdefault(line, (url, pos))
    out = {}
    for url, _ in pages:
        rows = [(p, l) for u, p, l in ln if u == url]
        if not rows:
            continue
        kept = [
            l
            for p, l in sorted(rows)
            if occ[l] < min_dups or first[l] == (url, p)
        ]
        out[url] = (len(rows), len(kept), "\n".join(kept))
    return out


def test_line_dedup_hand_case(spark):
    from surfactant_spark.operators.dedup import line_dedup

    pages = [
        ("a", "header\n  body one  \nheader\nfooter"),
        ("b", "header\nbody two\n\nfooter"),
        ("c", "header\nfooter"),
        ("d", "unique only"),
    ]
    df = spark.createDataFrame(pages, "url string, text string")
    got = {r.url: (r.n_lines, r.n_kept, r.text_clean) for r in line_dedup(df).collect()}
    # 'header' occurs 4x (twice in a): only a's pos-0 copy survives;
    # 'footer' occurs 3x: only a's copy survives; bodies are unique.
    assert got["a"] == (4, 3, "header\nbody one\nfooter")
    assert got["b"] == (3, 1, "body two")
    assert got["c"] == (2, 0, "")
    assert got["d"] == (1, 1, "unique only")
    assert got == _py_line_dedup(pages)


_line = st.sampled_from(["dup line", "other dup", "x1", "x2", "x3", "", "  dup line  "])
_page_text = st.lists(_line, min_size=1, max_size=6).map("\n".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_page_text, min_size=1, max_size=6), st.integers(2, 3))
def test_line_dedup_matches_python(spark, texts, min_dups):
    from surfactant_spark.operators.dedup import line_dedup

    pages = [(f"u{i}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(pages, "url string, text string")
    got = {
        r.url: (r.n_lines, r.n_kept, r.text_clean)
        for r in line_dedup(df, min_dups=min_dups).collect()
    }
    assert got == _py_line_dedup(pages, min_dups)


def test_redact_pii_hand_cases(spark):
    from surfactant_spark.operators.textops import redact_pii

    rows = [
        ("e1", "write to jo.doe+x@mail.example.com or sue@ex.org now"),
        ("i1", "hosts 10.0.0.1 and 999.999.999.999 and 1.2.3.4.5 up"),
        ("p1", "call +44 555 0199 or +1-555-0100 but not 555 0100"),
        ("mix", "root@10.0.0.1.example.com logged from 10.0.0.2"),
        ("clean", "no pii here just text 12345"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {
        r.url: (r.n_emails, r.n_ips, r.n_phones, r.text_redacted)
        for r in redact_pii(df).collect()
    }
    assert got["e1"] == (2, 0, 0, "write to <EMAIL> or <EMAIL> now")
    # recall-first IPv4: out-of-range octets mask too; the 5-octet run
    # masks its leading 4 octets and leaves the tail
    assert got["i1"] == (0, 3, 0, "hosts <IP> and <IP> and <IP>.5 up")
    assert got["p1"] == (0, 0, 2, "call <PHONE> or <PHONE> but not 555 0100")
    # the email pass consumes the whole user@dotted-quad-domain address
    # (leftmost match starts at 'root'), so only the bare second
    # address counts as an IP
    assert got["mix"] == (1, 1, 0, "<EMAIL> logged from <IP>")
    assert got["clean"] == (0, 0, 0, "no pii here just text 12345")


_pii_frag = st.sampled_from([
    "plain words here",
    "a.b+c@mail.example.com",
    "root@10.0.0.1.example.com",
    "10.0.0.1",
    "999.999.999.999",
    "1.2.3.4.5",
    "+44 555 0199",
    "+1-555-0100",
    "555 0100",
    "bare @ sign",
    "x@y.io",
])


@settings(max_examples=10, deadline=None)
@given(st.lists(_pii_frag, min_size=1, max_size=5))
def test_redact_pii_matches_python_re(spark, frags):
    """THIRD implementation: python `re` over the same pattern strings
    (the patterns live in the java-regex ∩ RE2 ∩ python-re common
    subset — this pins that claim on composed inputs)."""
    import re

    from surfactant_spark.operators.textops import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        redact_pii,
    )

    text = " ".join(frags)
    df = spark.createDataFrame([("u", text)], "url string, text string")
    r = redact_pii(df).collect()[0]
    t1 = re.sub(PII_EMAIL, "<EMAIL>", text)
    t2 = re.sub(PII_IPV4, "<IP>", t1)
    t3 = re.sub(PII_PHONE, "<PHONE>", t2)
    assert (r.n_emails, r.n_ips, r.n_phones) == (
        len(re.findall(PII_EMAIL, text)),
        len(re.findall(PII_IPV4, t1)),
        len(re.findall(PII_PHONE, t2)),
    )
    assert r.text_redacted == t3


def test_vocab_coverage_hand_computed(spark):
    from surfactant_spark.operators.textops import vocab_coverage

    # corpus counts: the=3, cat=2, rare=1 -> vocab at min_count=2: {the, cat}
    docs = spark.createDataFrame(
        [(1, "the cat the"), (2, "the cat rare")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in vocab_coverage(docs, min_count=2).collect()}
    d1 = got[1]
    assert (d1.n_tokens, d1.n_invocab, d1.n_types, d1.n_oov_types) == (3, 3, 2, 0)
    assert d1.coverage == 1.0
    d2 = got[2]
    assert (d2.n_tokens, d2.n_invocab, d2.n_types, d2.n_oov_types) == (3, 2, 3, 1)
    assert d2.coverage == round(2 / 3, 6)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        vocab_coverage(docs, min_count=0)


def test_term_contexts_every_snippet_contains_term(spark):
    from tests.conftest import SF_DIR
    from surfactant_spark.queries import KWIC_TERM, q_term_contexts

    rows = q_term_contexts(spark, SF_DIR).collect()
    assert rows, "fixture corpus must contain the KWIC term"
    import re

    for r in rows:
        assert re.search(rf"\b{KWIC_TERM}\b", r.snippet), r.snippet
        # window bound: at most 3 tokens either side of one occurrence
        toks = r.snippet.split()
        first = toks.index(KWIC_TERM) if KWIC_TERM in toks else 0
        assert first <= 3
        assert r.n >= 1


def test_dedup_fold_equals_rebuild_any_split(spark):
    from surfactant_spark.operators.dedup import dedup_exact, dedup_fold

    rows = [
        (1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "ccc"),
        (5, "bbb"), (6, "aaa"), (7, "ddd"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (r.content_sha256, r.canonical_id, r.n_dups)
        for r in dedup_exact(docs).collect()
    )
    # ANY split must fold to the rebuild — including interleaved ids
    for pred in (
        docs.doc_id < 4,
        docs.doc_id % 2 == 0,   # interleaved: no append-only order
        docs.doc_id < 1,        # empty state
        docs.doc_id < 100,      # empty delta
    ):
        state = dedup_exact(docs.where(pred))
        got = sorted(
            (r.content_sha256, r.canonical_id, r.n_dups)
            for r in dedup_fold(state, docs.where(~pred)).collect()
        )
        assert got == want


def test_lm_bits_matches_python_replay(spark):
    import hashlib
    from collections import Counter

    from surfactant_spark.operators.textops import lm_bits

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a completely different sentence here"),
        (4, "the the the the"),
        (5, "zzz unseen tokens qqq www"),
        (6, ""),  # zero-token doc keeps its split with null fractions
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in lm_bits(docs).collect()}

    def bucket(doc_id):
        h = int(hashlib.md5(f"lm:v1:{doc_id}".encode()).hexdigest()[:15], 16)
        return h % 1_000_000

    split = {i: ("train" if bucket(i) < 900_000 else "heldout") for i, _ in rows}
    train_counts = Counter()
    for i, t in rows:
        if split[i] == "train":
            train_counts.update(w for w in t.strip().lower().split() if w)
    T, V = sum(train_counts.values()), len(train_counts)
    B = (T + V).bit_length() - 1
    for i, t in rows:
        toks = [w for w in t.strip().lower().split() if w]
        r = got[i]
        assert r.split == split[i]
        assert r.n_tokens == len(toks)
        if not toks:
            assert r.oov_frac is None and r.bits_per_token is None
            continue
        n_oov = sum(1 for w in toks if w not in train_counts)
        bits = sum(B - ((train_counts.get(w, 0) + 1).bit_length() - 1) for w in toks)
        assert r.n_oov == n_oov
        assert r.bits == bits
        assert r.oov_frac == round(n_oov / len(toks), 6)
        assert r.bits_per_token == round(bits / len(toks), 6)
    # a doc of pure unseen tokens must cost strictly more than one of
    # corpus-frequent tokens — the filter's discriminative claim
    if split[5] is not None and got[4].bits_per_token is not None:
        assert got[5].bits_per_token > got[4].bits_per_token


def test_lm_bits_validates_weights(spark):
    from surfactant_spark.operators.textops import lm_bits

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="train"):
        lm_bits(docs, weights={"a": 0.5, "b": 0.5})


def test_containment_finds_subset_jaccard_misses(spark):
    from surfactant_spark.operators.dedup import (
        containment_pairs,
        dedup_ngram_jaccard,
    )

    small = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [
        (1, small),
        (2, small + " " + filler),  # 1 is fully contained in 2
        (3, "unrelated words entirely " + " ".join(f"q{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id1, r.id2): r for r in containment_pairs(docs, threshold=0.9).collect()}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r.containment1 == 1.0  # every shingle of 1 appears in 2
    assert r.contained_id == 1
    assert r.n_common == r.n_sh1 < r.n_sh2
    # Jaccard at the same bar misses the pair — the asymmetric case
    jac = dedup_ngram_jaccard(
        docs, threshold=0.9, allow_full_cartesian=True
    ).collect()
    assert not any(p.id1 == 1 and p.id2 == 2 for p in jac)


def test_containment_width_cap_drops_boilerplate_shingles(spark):
    from surfactant_spark.operators.dedup import containment_pairs

    # every doc shares one boilerplate sentence; with max_bucket below
    # the corpus size that shingle can't generate candidates, and the
    # docs share nothing else -> no pairs
    boiler = "subscribe to our newsletter today"
    rows = [(i, f"u{i} v{i} {boiler}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert containment_pairs(docs, threshold=0.1, max_bucket=5).count() == 0
    # raising the cap re-admits them
    assert containment_pairs(docs, threshold=0.1, max_bucket=64).count() > 0


def _py_semdedup(vecs, assigned, threshold, max_cluster=10_000):
    """Pure-Python replay of the SemDeDup drop rule given a trusted
    cluster assignment (kmeans_assign has its own hand-computed tests):
    x drops iff some same-cluster y with round6(cos) >= threshold beats
    it on (centroid_sim, id); the winner is the minimum such y."""
    import math

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            return 0.0
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    width = Counter(c for c, _ in assigned.values())
    out = {}
    for xid, (xc, xsim) in assigned.items():
        best = None
        if width[xc] <= max_cluster:
            for yid, (yc, ysim) in assigned.items():
                if yid == xid or yc != xc:
                    continue
                if not (ysim < xsim or (ysim == xsim and yid < xid)):
                    continue
                c = _round6_half_up(cos(vecs[xid], vecs[yid]))
                if c < threshold:
                    continue
                if best is None or (ysim, yid) < best[:2]:
                    best = (ysim, yid, c)
        if best is None:
            out[xid] = (xc, xsim, True, None, None)
        else:
            out[xid] = (xc, xsim, False, best[1], best[2])
    return out


def _semdedup_case(spark, rows, threshold, **kw):
    from surfactant_spark.operators.similarity import kmeans_assign, semdedup

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = {
        r.vec_id: (r.cluster, r.sim)
        for r in kmeans_assign(df, k=kw.get("k", 2), iters=kw.get("iters", 1)).collect()
    }
    got = {
        r.vec_id: (r.cluster, r.centroid_sim, r.keep, r.kept_id, r.pair_cos)
        for r in semdedup(df, threshold=threshold, **kw).collect()
    }
    want = _py_semdedup(dict(rows), assigned, threshold,
                        kw.get("max_cluster", 10_000))
    assert got == want
    return got


def test_semdedup_matches_python_replay(spark):
    # two well-separated directions; near-dups inside each
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.9, 0.1, 0.0]),   # near 1
        (4, [0.1, 0.9, 0.0]),   # near 2
        (5, [0.95, 0.05, 0.0]), # near 1 and 3
        (6, [0.0, 0.0, 1.0]),   # orthogonal to its own cluster's dups
    ]
    got = _semdedup_case(spark, rows, threshold=0.95, k=2, iters=1)
    # at least one drop happened and every drop names a kept neighbor
    drops = {i: v for i, v in got.items() if not v[2]}
    assert drops
    for i, (cl, _, _, kept_id, pc) in drops.items():
        assert got[kept_id][0] == cl and got[kept_id][1] <= got[i][1]
        assert pc >= 0.95
    # keepers carry nulls
    assert all(v[3] is None and v[4] is None for v in got.values() if v[2])


def test_semdedup_cluster_cap_excludes_wide_clusters(spark):
    from surfactant_spark.operators.similarity import semdedup

    # one tight bundle of 4 near-identical vectors + 1 seed elsewhere
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])] + [
        (10 + i, [0.0, 1.0, 0.001 * i]) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = semdedup(df, k=2, iters=1, threshold=0.9)
    assert full.where("NOT keep").count() > 0
    # cap below the wide cluster's width -> its pair scan is skipped
    capped = _semdedup_case(spark, rows, threshold=0.9, k=2, iters=1,
                            max_cluster=2)
    assert all(v[2] for v in capped.values())


def test_semdedup_validates_params(spark):
    from surfactant_spark.operators.similarity import semdedup

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        semdedup(df, threshold=1.5)
    with pytest.raises(ValueError):
        semdedup(df, max_cluster=0)
    # single vector: trivially kept
    got = semdedup(df, k=1, iters=0).collect()
    assert len(got) == 1 and got[0].keep


def _py_mixture(rows):
    import math

    per = {}
    from surfactant_spark.operators.textops import TOKEN_REGEX

    for _id, text, src in rows:
        n = len(re.findall(TOKEN_REGEX, text))
        d, t = per.get(src, (0, 0))
        per[src] = (d + 1, t + n)
    tw = sum(math.isqrt(t) for _, t in per.values())
    tt = sum(t for _, t in per.values())
    out = {}
    for src, (d, t) in per.items():
        w = math.isqrt(t)
        out[src] = (
            d, t, w,
            (1_000_000 * t) // tt if tt else 0,
            (1_000_000 * w) // tw if tw else 0,
            _round6_half_up(w / tw) if tw else 0.0,
        )
    return out


def test_mixture_weights_matches_python(spark):
    from surfactant_spark.operators.textops import mixture_weights

    # head source with ~100 tokens, mid with 4, tail with 1, empty src
    rows = (
        [(i, "tok " * 20, "head") for i in range(5)]
        + [(100, "a b c d", "mid")]
        + [(200, "solo", "tail")]
        + [(300, "", "void")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.source: (r.n_docs, r.n_tokens, r.w_sqrt, r.raw_micro, r.mix_micro, r.p_mix)
        for r in mixture_weights(df).collect()
    }
    assert got == _py_mixture(rows)
    # temperature flattens: the head's mixture share drops below its
    # raw share, the tail's rises above
    assert got["head"][4] < got["head"][3]
    assert got["tail"][4] > got["tail"][3]
    # zero-token source gets weight zero, not a crash
    assert got["void"][2] == 0 and got["void"][4] == 0
    # weight order follows token order
    assert got["head"][2] > got["mid"][2] > got["tail"][2]


def test_mixture_weights_empty_corpus(spark):
    from surfactant_spark.operators.textops import mixture_weights

    df = spark.createDataFrame([], "doc_id long, text string, source string")
    assert mixture_weights(df).count() == 0


def _py_spectrum(texts):
    cnt = Counter()
    for t in texts:
        cnt.update(re.split(r"\s+", t.strip().lower()))
    spec = {}
    for n in cnt.values():
        b = n.bit_length()
        mn, mx, terms, occ = spec.get(b, (None, None, 0, 0))
        spec[b] = (
            n if mn is None else min(mn, n),
            n if mx is None else max(mx, n),
            terms + 1,
            occ + n,
        )
    tocc = sum(v[3] for v in spec.values())
    out, ct, co = {}, 0, 0
    for b in sorted(spec, reverse=True):
        mn, mx, terms, occ = spec[b]
        ct += terms
        co += occ
        out[b] = (mn, mx, terms, occ, ct, co, (1_000_000 * occ) // tocc)
    return out


def test_freq_spectrum_matches_python(spark):
    from surfactant_spark.operators.textops import freq_spectrum

    texts = [
        "the the the the cat",   # 'the' x5 -> octave 3; cat x1
        "the cat sat on a mat",  # cat total 2 -> octave 2
        "a b c d e f g",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {
        r.freq_bits: (r.min_n, r.max_n, r.n_terms, r.n_occ,
                      r.cum_terms, r.cum_occ, r.occ_micro)
        for r in freq_spectrum(df).collect()
    }
    assert got == _py_spectrum(texts)
    # 'the' (5 occurrences) sits alone in octave 3: counts [4, 8)
    assert got[3][:4] == (5, 5, 1, 5)
    # cumulative mass is monotone down the octaves and ends at N
    assert got[min(got)][5] == sum(v[3] for v in got.values())


@settings(max_examples=15, deadline=None)
@given(_docs_st)
def test_freq_spectrum_matches_python_property(spark, texts):
    from surfactant_spark.operators.textops import freq_spectrum

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {
        r.freq_bits: (r.min_n, r.max_n, r.n_terms, r.n_occ,
                      r.cum_terms, r.cum_occ, r.occ_micro)
        for r in freq_spectrum(df).collect()
    }
    assert got == _py_spectrum(texts)


def test_bpe_encode_hand_computed(spark):
    from surfactant_spark.operators.textops import bpe_encode

    # Sennrich's canonical corpus shape: after 2 merges over
    # {low x3, lower x2}, 'lo' then 'low' fuse
    docs = spark.createDataFrame(
        [(0, "low low low lower lower")], "doc_id long, text string"
    )
    got = {
        r.word: (r.cnt, r.n_pieces, r.pieces)
        for r in bpe_encode(docs, n_merges=2).collect()
    }
    assert got == {
        "low": (3, 1, "low"),
        "lower": (2, 3, "low,e,r"),
    }
    # post-BPE corpus token budget: 3*1 + 2*3
    assert sum(c * n for c, n, _ in got.values()) == 9


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=5),
            min_size=1,
            max_size=6,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_bpe_encode_matches_python_reference(spark, texts, n_merges):
    from surfactant_spark.operators.textops import bpe_encode

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.word: (r.cnt, r.n_pieces, r.pieces)
        for r in bpe_encode(docs, n_merges=n_merges).collect()
    }
    _, seqs, wc = _py_bpe(texts, n_merges)
    assert got == {w: (wc[w], len(s), ",".join(s)) for w, s in seqs.items()}


def test_curation_verdict_stage_precedence(spark):
    """A doc failing several stages reports only the FIRST: exact_dup
    beats quality beats semantic beats sampling; docs without an
    embedding row pass the semantic stage."""
    import hashlib

    from surfactant_spark.operators.curate import CV_MOD, curation_verdict

    docs = spark.createDataFrame(
        [
            (1, "same text", "s"),
            (2, "same text", "s"),      # exact dup of 1 (and low quality)
            (3, "unique low", "s"),     # quality drop
            (4, "unique ok a", "s"),
            (5, "unique ok b", "s"),
            (6, "unique ok c", "s"),
        ],
        "doc_id long, text string, source string",
    )
    quality = spark.createDataFrame(
        [(1, True, None), (2, False, "too_short"), (3, False, "low_quality"),
         (4, True, None), (5, True, None), (6, True, None)],
        "doc_id long, quality_keep boolean, drop_reason string",
    )
    # embeddings: 4 and 5 near-identical -> one is a semantic dup;
    # docs 1-3, 6 have no embedding -> semantic stage passes
    emb = spark.createDataFrame(
        [(4, [1.0, 0.0]), (5, [0.999, 0.01]), (6, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.doc_id: r
        for r in curation_verdict(
            docs, emb, quality, k=2, iters=1, threshold=0.95
        ).collect()
    }
    assert got[2].verdict == "exact_dup"          # dup beats its quality fail
    assert got[2].exact_dup and not got[2].quality_keep
    assert got[3].verdict == "quality:low_quality"
    # exactly one of 4/5 is the semantic dup, the other survives to
    # sampling (single source => accept_micro == CV_MOD => sampled)
    sem = {i for i in (4, 5) if got[i].verdict == "semantic_dup"}
    assert len(sem) == 1
    for i in {1, 6} | ({4, 5} - sem):
        assert got[i].verdict is None and got[i].keep, i
        assert got[i].accept_micro == CV_MOD
        # deterministic replayable bucket
        h = int(hashlib.md5(f"curate:v1:{i}".encode()).hexdigest()[:15], 16)
        assert got[i].sample_bucket == h % CV_MOD


def test_quality_lm_calibration_consistent_with_components(spark):
    """Bucket totals must equal the per-doc join of the two component
    operators, buckets stay in 0..9, and the micro-decile binning is
    the exact integer rule."""
    from surfactant_spark.operators.textops import (
        analyze_documents,
        lm_bits,
        quality_lm_calibration,
    )

    rows = [
        (1, "the cat sat on the mat and the dog sat too"),
        (2, "zz qq ww ee rr"),
        (3, "a perfectly ordinary english sentence with many common words"),
        (4, ""),
        (5, "the the the the the"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.q_bucket: r for r in quality_lm_calibration(docs).collect()}
    ta = {r.doc_id: r.quality for r in analyze_documents(docs).collect()}
    lm = {r.doc_id: r for r in lm_bits(docs).collect()}
    from collections import defaultdict

    want = defaultdict(lambda: [0, 0, 0, 0])
    for i, q in ta.items():
        b = min(9, int(round(q * 1_000_000)) // 100_000)
        w = want[b]
        w[0] += 1
        w[1] += lm[i].n_tokens
        w[2] += lm[i].n_oov
        w[3] += lm[i].bits
    assert set(got) == set(want)
    for b, (nd, nt, no, bits) in want.items():
        r = got[b]
        assert (r.n_docs, r.n_tokens, r.n_oov, r.bits) == (nd, nt, no, bits)
        if nt:
            assert r.bits_per_token == round(bits / nt, 6)
            assert r.oov_micro == (1_000_000 * no) // nt
        else:
            assert r.bits_per_token == 0.0 and r.oov_micro == 0
        assert 0 <= b <= 9


# ---------------------------------------------------------------------------
# DSIR importance-resampling weights — operators/curate.py
# ---------------------------------------------------------------------------
def _py_dsir(rows, target_langs=("en",), n_buckets=64, salt="dsir:v1"):
    """Pure-python third implementation: Counter-based hashed-ngram bag
    models with the exact power-of-two bit costs."""
    import hashlib
    from collections import Counter

    def bucket(g):
        h = int(hashlib.md5(f"{salt}:{g}".encode()).hexdigest()[:15], 16)
        return h % n_buckets

    def feats(t):
        toks = [w for w in t.strip().lower().split() if w]
        grams = list(toks) + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        return Counter(bucket(g) for g in grams)

    c_t, c_r = Counter(), Counter()
    per_doc = {}
    for doc_id, lang, text in rows:
        f = feats(text)
        per_doc[doc_id] = (lang in target_langs, f)
        c_r.update(f)
        if lang in target_langs:
            c_t.update(f)
    t_t, t_r = sum(c_t.values()), sum(c_r.values())
    b_t = (t_t + n_buckets).bit_length() - 1
    b_r = (t_r + n_buckets).bit_length() - 1

    def cost(c, big):
        return big - ((c + 1).bit_length() - 1)

    out = {}
    for doc_id, (is_t, f) in per_doc.items():
        n = sum(f.values())
        w = sum(
            cnt * (cost(c_r[b], b_r) - cost(c_t[b], b_t)) for b, cnt in f.items()
        )
        out[doc_id] = (is_t, n, w, round(w / n, 6) if n else None)
    return out


def test_dsir_weights_matches_python_replay(spark):
    from surfactant_spark.operators.curate import dsir_weights

    rows = [
        (1, "en", "the cat sat on the mat"),
        (2, "en", "the dog sat on the log"),
        (3, "de", "der hund lief durch den wald"),
        (4, "de", "die katze sass auf der matte"),
        (5, "fr", "le chat est sur le tapis"),
        (6, "en", ""),  # feature-free doc: 0 feats, null per-feat weight
        (7, "zz", "the cat sat on the mat"),  # target-looking non-target doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: r for r in dsir_weights(docs, n_buckets=64).collect()
    }
    want = _py_dsir(rows, n_buckets=64)
    assert set(got) == set(want)
    for doc_id, (is_t, n, w, bpf) in want.items():
        r = got[doc_id]
        assert r.is_target == is_t, doc_id
        assert r.n_feats == n, doc_id
        assert r.weight_bits == w, doc_id
        assert r.bits_per_feat == bpf, doc_id
    # the discriminative claim: a doc written in the target distribution
    # outranks same-length docs from other languages, REGARDLESS of its
    # own lang tag (doc 7 shares doc 1's text and must share its weight)
    assert got[7].weight_bits == got[1].weight_bits
    assert got[7].bits_per_feat > got[3].bits_per_feat
    assert got[7].bits_per_feat > got[5].bits_per_feat


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "fr"]),
            st.lists(
                st.text(alphabet="abcd", min_size=1, max_size=4),
                min_size=0,
                max_size=6,
            ).map(" ".join),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_dsir_weights_matches_python_property(spark, docs_spec):
    from surfactant_spark.operators.curate import dsir_weights

    rows = [(i, lang, text) for i, (lang, text) in enumerate(docs_spec)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: (r.is_target, r.n_feats, r.weight_bits, r.bits_per_feat)
        for r in dsir_weights(docs, n_buckets=32).collect()
    }
    assert got == _py_dsir(rows, n_buckets=32)


def test_dsir_weights_no_target_docs_degenerates_safely(spark):
    """An empty target slice must not divide by zero or null out: the
    target model is the pure add-one prior and every doc's weight is
    still a well-defined integer."""
    from surfactant_spark.operators.curate import dsir_weights

    rows = [(1, "de", "der hund"), (2, "fr", "le chat")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in dsir_weights(docs, n_buckets=32).collect()}
    want = _py_dsir(rows, n_buckets=32)
    for doc_id, (is_t, n, w, bpf) in want.items():
        r = got[doc_id]
        assert (r.is_target, r.n_feats, r.weight_bits, r.bits_per_feat) == (
            is_t,
            n,
            w,
            bpf,
        )


# ---------------------------------------------------------------------------
# fixed-token chunking — operators/textops.py
# ---------------------------------------------------------------------------
def _py_chunks(text, ct, ov):
    import hashlib
    import math

    toks = text.strip().split()
    if not toks:
        return []
    stride = ct - ov
    n = len(toks)
    nc = max(1, math.ceil((n - ov) / stride))
    out = []
    for k in range(nc):
        piece = toks[k * stride : k * stride + ct]
        txt = " ".join(piece)
        out.append(
            (
                k,
                nc,
                k * stride,
                min(ct, n - k * stride),
                txt,
                hashlib.sha256(txt.encode()).hexdigest(),
            )
        )
    return out


def test_chunk_documents_hand_and_coverage(spark):
    from surfactant_spark.operators.textops import chunk_documents

    text10 = " ".join(f"w{i}" for i in range(10))
    rows = [(1, text10), (2, "a b c"), (3, "   "), (4, "solo")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.n_chunks, r.start_tok, r.n_toks, r.chunk_text, r.chunk_sha)
        )
    for doc_id, text in rows:
        want = _py_chunks(text, 4, 1)
        assert sorted(got.get(doc_id, [])) == want, doc_id
    # doc 1: stride 3, 3 chunks, every token in >=1 chunk, overlap = 1
    chunks1 = [c[4].split() for c in sorted(got[1])]
    assert [len(c) for c in chunks1] == [4, 4, 4]
    covered = set()
    for c in chunks1:
        covered.update(c)
    assert covered == set(text10.split())
    assert chunks1[0][-1] == chunks1[1][0]  # shared overlap token
    # whitespace-only doc dropped entirely
    assert 3 not in got


def test_chunk_documents_validation(spark):
    from surfactant_spark.operators.textops import chunk_documents

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(docs, chunk_tokens=0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=3),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=5),
)
def test_chunk_documents_matches_python(spark, texts, ct, ov):
    from surfactant_spark.operators.textops import chunk_documents

    if ov >= ct:
        return
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {}
    for r in chunk_documents(docs, chunk_tokens=ct, overlap=ov).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.n_chunks, r.start_tok, r.n_toks, r.chunk_text, r.chunk_sha)
        )
    for i, text in enumerate(texts):
        assert sorted(got.get(i, [])) == _py_chunks(text, ct, ov), (i, text)


# ---------------------------------------------------------------------------
# deletion-neighborhood fuzzy string join — operators/similarity.py
# ---------------------------------------------------------------------------
def test_fuzzy_join_hand_cases(spark):
    from surfactant_spark.operators.similarity import fuzzy_string_join

    left = spark.createDataFrame(
        [("cat",), ("hose",), ("zebra",), ("x" * 40,)], "m string"
    )
    right = spark.createDataFrame(
        [("cart",), ("cut",), ("horse",), ("house",), ("dog",)], "a string"
    )
    got = sorted(
        (r.m, r.a, r.dist)
        for r in fuzzy_string_join(left, right, "m", "a", max_dist=1).collect()
    )
    # cat->cart (insertion), cat->cut (substitution); hose->horse/house;
    # zebra matches nothing; the 40-char string is over the length cap
    assert got == [
        ("cat", "cart", 1),
        ("cat", "cut", 1),
        ("hose", "horse", 1),
        ("hose", "house", 1),
    ]
    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_string_join(left, right, "m", "a", max_dist=3)


def test_typo_folding_long_frequent_token_matches_sql_twin(spark, tmp_path):
    """A frequent 33-char token is over the fuzzy join's 32-char cap: it
    must yield no typo'd mention in either engine, even when its typo
    (its middle character deleted) is itself a frequent 32-char word."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from surfactant_spark.queries import _sql_typo_folding, q_typo_folding

    long33 = "a" * 16 + "x" + "b" * 16
    long32 = "a" * 16 + "b" * 16  # long33's typo
    text = f"hello world {long33} {long32} kitten"
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(6), pa.int64()), "text": [text] * 6,
    }), path)

    got = q_typo_folding(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"create view documents as select * from read_parquet('{path}')")
        want = con.execute(_sql_typo_folding()).fetchdf()
    finally:
        con.close()
    def rows(pdf):
        return {tuple(r) for r in pdf[sorted(pdf.columns)].itertuples(index=False)}

    assert rows(got) == rows(want)
    assert long32 not in set(got["mention"])


def test_fuzzy_join_k2_reaches_distance_two(spark):
    from surfactant_spark.operators.similarity import fuzzy_string_join

    left = spark.createDataFrame([("kiten",)], "m string")
    right = spark.createDataFrame([("kitten",), ("mitten",)], "a string")
    got = sorted(
        (r.m, r.a, r.dist)
        for r in fuzzy_string_join(left, right, "m", "a", max_dist=2).collect()
    )
    assert got == [("kiten", "kitten", 1), ("kiten", "mitten", 2)]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.text(alphabet="abc", min_size=1, max_size=5), min_size=1, max_size=8),
    st.lists(st.text(alphabet="abc", min_size=1, max_size=5), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=2),
)
def test_fuzzy_join_complete_vs_bruteforce(spark, ls, rs, k):
    """Deletion-neighborhood candidate generation is COMPLETE for
    ed <= k: the join must equal the all-pairs levenshtein filter."""
    from surfactant_spark.operators.similarity import fuzzy_string_join

    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    left = spark.createDataFrame([(s,) for s in set(ls)], "m string")
    right = spark.createDataFrame([(s,) for s in set(rs)], "a string")
    got = sorted(
        (r.m, r.a, r.dist)
        for r in fuzzy_string_join(left, right, "m", "a", max_dist=k).collect()
    )
    want = sorted(
        (m, a, ed(m, a))
        for m in set(ls)
        for a in set(rs)
        if ed(m, a) <= k
    )
    assert got == want


# ---------------------------------------------------------------------------
# media byte-signature near-dup — operators/multimodal.py
# ---------------------------------------------------------------------------
def test_byte_signatures_match_python_reference(spark):
    from surfactant_spark.operators.multimodal import byte_signature, byte_signatures

    blobs = [
        (0, bytes(range(256))),
        (1, b"\x00" * 100),
        (2, b"\xff" * 31 + b"\x00" * 33),
        (3, b""),
        (4, bytes((i * 13 + 7) % 256 for i in range(90))),
    ]
    df = spark.createDataFrame(blobs, "media_id long, payload binary")
    got = {r.media_id: (r.n_bytes, r.sig) for r in byte_signatures(df).collect()}
    for mid, b in blobs:
        assert got[mid] == (len(b), byte_signature(b)), mid
    # flat payloads: every block is exactly at the mean -> all bits set
    assert got[1][1] == (1 << 16) - 1


def test_media_near_dup_finds_planted_pairs(spark):
    from surfactant_spark.operators.multimodal import byte_signature, media_near_dup

    import hashlib

    def stream(tag, n=256):
        return b"".join(
            hashlib.md5(f"{tag}:{c}".encode()).digest() for c in range(n // 16)
        )[:n]

    base = stream("x")
    v = bytearray(base)
    for k in range(16):  # hammer one block: flips a bit or two
        v[32 + k] = 255 if k % 2 == 0 else 0
    rows = [(0, base), (1, bytes(v)), (2, base), (3, stream("unrelated"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {(r.id1, r.id2): r.hamming for r in media_near_dup(df).collect()}
    assert got[(0, 2)] == 0  # exact duplicate
    want_h = bin(byte_signature(base) ^ byte_signature(bytes(v))).count("1")
    if want_h <= 2:
        assert got[(0, 1)] == want_h and got[(1, 2)] == want_h
    assert (0, 3) not in got and (2, 3) not in got


def test_media_near_dup_plan_is_arrow_not_row_python(spark):
    from surfactant_spark.operators.multimodal import media_near_dup

    df = spark.createDataFrame(
        [(0, b"abc" * 40), (1, b"abd" * 40)], "media_id long, payload binary"
    )
    plan = media_near_dup(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# bigram LM with stupid backoff — operators/textops.py
# ---------------------------------------------------------------------------
def _py_lm_bigram(rows, mod=1_000_000, thr=900_000):
    import hashlib
    from collections import Counter

    def bucket(doc_id):
        h = int(hashlib.md5(f"lm:v1:{doc_id}".encode()).hexdigest()[:15], 16)
        return h % mod

    split = {i: ("train" if bucket(i) < thr else "heldout") for i, _ in rows}
    c1, c2 = Counter(), Counter()
    for i, t in rows:
        toks = [w for w in t.strip().lower().split() if w]
        if split[i] != "train":
            continue
        c1.update(toks)
        c2.update(zip(toks, toks[1:]))
    T, V = sum(c1.values()), len(c1)
    B1 = (T + V).bit_length() - 1 if T + V > 0 else 0
    out = {}
    for i, t in rows:
        toks = [w for w in t.strip().lower().split() if w]
        bits = backoff = 0
        for pos, w in enumerate(toks):
            u = toks[pos - 1] if pos > 0 else None
            if u is not None and c2.get((u, w)):
                b2 = (c1[u] + V).bit_length() - 1
                bits += b2 - ((c2[(u, w)] + 1).bit_length() - 1)
            else:
                backoff += 1
                bits += 1 + B1 - ((c1.get(w, 0) + 1).bit_length() - 1)
        n = len(toks)
        out[i] = (
            split[i],
            n,
            backoff,
            bits,
            round(bits / n, 6) if n else None,
            round(backoff / n, 6) if n else None,
        )
    return out


def test_lm_bigram_matches_python_replay(spark):
    from surfactant_spark.operators.textops import lm_bits_bigram

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the log"),
        (3, "mat the on sat cat the"),  # same bag, scrambled order
        (4, "completely novel words here"),
        (5, ""),
        (6, "solo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.split, r.n_tokens, r.n_backoff, r.bits,
            r.bits_per_token, r.backoff_frac,
        )
        for r in lm_bits_bigram(docs).collect()
    }
    want = _py_lm_bigram(rows)
    assert got == want
    # the fluency claim: the scrambled doc backs off more than the
    # fluent one IF both landed in train (seen bigrams differ)
    if want[1][0] == "train" and want[3][0] == "train":
        assert want[3][2] >= want[1][2]


def test_lm_bigram_validates_weights(spark):
    from surfactant_spark.operators.textops import lm_bits_bigram

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="train"):
        lm_bits_bigram(docs, weights={"a": 1.0})


# ---------------------------------------------------------------------------
# deterministic priority sampling — operators/textops.py
# ---------------------------------------------------------------------------
def _py_priority_sample(rows, k, salt="psample:v1"):
    import hashlib

    pri = []
    for doc_id, text in rows:
        w = len([t for t in text.strip().split() if t])
        if w <= 0:
            continue
        h = int(hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:15], 16)
        # float(h + 1) first: engines divide the ROUNDED double, while
        # python int/int would round the exact rational — last-ulp gap
        u = float(h + 1) / float(1 << 60)
        pri.append((doc_id, w, float(w) / u))
    pri.sort(key=lambda r: (-r[2], r[0]))
    tau = pri[k][2] if len(pri) >= k + 1 else 0.0
    return {d: (w, p, max(float(w), tau)) for d, w, p in pri[:k]}


def test_priority_sample_matches_python_and_is_weight_sensitive(spark):
    from surfactant_spark.operators.textops import priority_sample

    rows = [(i, "tok " * (1 + (i * 7) % 40)) for i in range(60)] + [(99, "  ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.weight, r.priority, r.est_weight)
        for r in priority_sample(docs, k=10).collect()
    }
    assert got == _py_priority_sample(rows, 10)
    assert 99 not in got  # zero-weight rows never sampled
    # weight sensitivity: the sample's mean weight exceeds the corpus's
    mean_all = sum(1 + (i * 7) % 40 for i in range(60)) / 60
    mean_s = sum(w for w, _, _ in got.values()) / len(got)
    assert mean_s > mean_all
    with pytest.raises(ValueError, match="k must"):
        priority_sample(docs, k=0)


def test_priority_sample_est_weight_is_unbiased(spark):
    """With k < n, tau > 0 lifts some est_weight above its weight, and
    the sum of est_weight over the sample estimates the population
    weight sum without bias. Tolerance: over these 16 fixed salts the
    mean must land within 8% of the population sum; its standard error
    here is about 2.4%, while the sum of the sampled raw weights falls
    about 15% short."""
    from surfactant_spark.operators.textops import priority_sample

    rows = [(i, "tok " * (1 + (i * 7) % 40)) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    population = sum(1 + (i * 7) % 40 for i in range(60))
    sums, lifted = [], 0
    for j in range(16):
        got = priority_sample(docs, k=40, salt=f"unbiased:{j}").collect()
        sums.append(sum(r.est_weight for r in got))
        lifted += sum(r.est_weight > r.weight for r in got)
    assert lifted > 0
    mean = sum(sums) / len(sums)
    assert abs(mean - population) <= 0.08 * population, (mean, population)


def test_priority_sample_small_corpus_tau_zero(spark):
    from surfactant_spark.operators.textops import priority_sample

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c d e")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in priority_sample(docs, k=5).collect()}
    assert set(got) == {1, 2}
    # corpus smaller than k: tau = 0, est_weight == raw weight
    assert all(r.est_weight == float(r.weight) for r in got.values())


# ---------------------------------------------------------------------------
# content-defined chunking — operators/textops.py
# ---------------------------------------------------------------------------
def _py_cdc(text, divisor=16, salt="cdc:v1"):
    import hashlib

    toks = [t for t in text.strip().split() if t]
    out, cur, start = [], [], 1
    for pos, tok in enumerate(toks, 1):
        if not cur:
            start = pos
        cur.append(tok)
        h = int(hashlib.md5(f"{salt}:{tok}".encode()).hexdigest()[:15], 16)
        if h % divisor == 0:
            out.append((start, cur))
            cur = []
    if cur:
        out.append((start, cur))
    return [
        (
            cid,
            start,
            len(toks_),
            " ".join(toks_),
            hashlib.sha256(" ".join(toks_).encode()).hexdigest(),
        )
        for cid, (start, toks_) in enumerate(out)
    ]


def test_cdc_chunks_matches_python_and_is_shift_robust(spark):
    from surfactant_spark.operators.textops import cdc_chunks

    base = " ".join(f"w{i}" for i in range(120))
    shifted = "inserted prefix " + base  # two tokens prepended
    rows = [(1, base), (2, shifted), (3, "   "), (4, "onetok")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in cdc_chunks(docs, divisor=8).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.start_pos, r.n_toks, r.chunk_text, r.chunk_sha)
        )
    for doc_id, text in rows:
        want = _py_cdc(text, divisor=8)
        assert sorted(got.get(doc_id, [])) == want, doc_id
    assert 3 not in got  # whitespace-only drops
    # the CDC claim: after the FIRST shared boundary, every chunk sha
    # of the shifted doc reappears verbatim in the base doc's set —
    # fixed windows would shift every chunk
    shas1 = {c[4] for c in got[1]}
    shas2 = [c for c in sorted(got[2])]
    shared = [c for c in shas2[1:] if c[4] in shas1]
    assert len(shared) >= len(shas2) - 2  # at most the head chunks differ
    with pytest.raises(ValueError, match="divisor"):
        cdc_chunks(docs, divisor=1)


# ---------------------------------------------------------------------------
# CCNet perplexity buckets — lm_bits x exact_quantiles composition
# ---------------------------------------------------------------------------
def test_ppl_buckets_terciles_consistent(spark):
    from surfactant_spark.queries import q_ppl_buckets
    from tests.conftest import SF_DIR

    rows = q_ppl_buckets(spark, SF_DIR).collect()
    assert rows
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r.mbits)
    # head and tail always populate; middle empties when the corpus is
    # so concentrated that the 33rd and 67th percentile values tie
    # (legitimate quantile_disc behavior at tiny SF)
    assert "head" in by_bucket and "tail" in by_bucket
    # buckets are ordered by mbits: head <= middle <= tail
    hi_head = max(by_bucket["head"])
    if "middle" in by_bucket:
        assert hi_head <= min(by_bucket["middle"])
        assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    assert hi_head <= min(by_bucket["tail"])
    # the head (what CCNet keeps) holds at least the tercile mass —
    # ties can only GROW it past 33%, never shrink it
    n = len(rows)
    assert len(by_bucket["head"]) >= n // 3
    assert all(r.mbits >= 0 for r in rows)


# ---------------------------------------------------------------------------
# winnowing fingerprints — operators/dedup.py
# ---------------------------------------------------------------------------
def _py_winnow(text, k=3, w=4, salt="win:v1"):
    import hashlib

    toks = [t for t in text.strip().lower().split() if t]
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(f"{salt}:{g}".encode()).hexdigest()[:15], 16)
        for g in grams
    ]
    if len(hs) < w:
        return set()
    out = set()
    for s in range(len(hs) - w + 1):
        window = hs[s : s + w]
        m = min(window)
        # standard winnowing: RIGHTMOST minimal hash wins ties (1-based)
        pos = s + (w - 1 - window[::-1].index(m)) + 1
        out.add((pos, m))
    return out


def test_winnow_fingerprints_match_python_and_guarantee(spark):
    from surfactant_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"one two {shared} three"),
        (2, f"{shared} four five six"),  # shares an 8-token run with 1
        (3, "totally different words everywhere here now again ok"),
        (4, "short doc"),  # under w shingles: no fingerprints
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(docs, k=3, w=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp_hash))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == _py_winnow(text), doc_id
    assert 4 not in got
    # the winnowing guarantee: docs 1 and 2 share a run of 8 >= w+k-1=6
    # tokens, so they MUST share a fingerprint hash
    h1 = {h for _, h in got[1]}
    h2 = {h for _, h in got[2]}
    assert h1 & h2
    pairs = {
        (r.id1, r.id2): r.n_shared
        for r in winnow_pairs(docs, k=3, w=4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)
    with pytest.raises(ValueError, match="w >="):
        winnow_fingerprints(docs, w=1)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=3),
            min_size=0,
            max_size=14,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_winnow_matches_python_property(spark, texts):
    from surfactant_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {}
    for r in winnow_fingerprints(docs, k=2, w=3).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp_hash))
    for i, text in enumerate(texts):
        assert got.get(i, set()) == _py_winnow(text, k=2, w=3), (i, text)
