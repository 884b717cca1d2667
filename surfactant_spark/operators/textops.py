"""Text analysis operators over a documents corpus.

Language-ID, quality scoring, token counting, fingerprinting — all as
JVM Column expressions (whole-stage codegen; zero Python in the hot
path) with DuckDB-replayable semantics. The pure-Python twins in
functions/textlib.py serve the synthetic-pages path; these serve the
driver's documents table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import norm_text_col, portable_hash64_col

TOKEN_REGEX = r"[A-Za-z]+|\d+|[^\sA-Za-z\d]"

_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "fr": ["le", "la", "les", "et", "est", "une", "un", "des", "du", "dans"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "en"],
}


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def _stop_score(text: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in _STOP[lang]])
    return F.size(F.filter(_tokens(text), lambda t: F.array_contains(arr, t)))


def lang_id_col(text: Column) -> Column:
    """Stopword-vote language id (fixed tie order en>de>fr>es; 'und'
    when nothing matches). SQL-replayable: greatest over per-language
    counts with deterministic tie-break by declaration order."""
    scores = {lang: _stop_score(text, lang) for lang in ("en", "de", "fr", "es")}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reversed: earlier languages win ties because later whens only fire
    # when strictly greater... build with first-match-wins ordering:
    expr = (
        F.when(best <= 0, "und")
        .when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .when(scores["fr"] == best, "fr")
        .otherwise("es")
    )
    _ = out
    return expr


def token_count_col(text: Column) -> Column:
    """BPE-ish token count (same regex as functions.textlib.token_count)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def quality_score_col(text: Column) -> Column:
    """Composite [0,1] quality score; every term is a plain SQL
    expression (length score, alpha ratio, en-stopword ratio, mean word
    length band)."""
    n = F.length(text)
    toks = _tokens(text)
    n_toks = F.size(toks)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")) / n
    stop_ratio = _stop_score(text, "en") / n_toks
    mean_wl = F.aggregate(toks, F.lit(0.0), lambda s, t: s + F.length(t)) / n_toks
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    wl_score = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), 1.0).otherwise(0.5)
    score = (
        0.35 * len_score
        + 0.3 * alpha
        + 0.2 * F.least(stop_ratio * 4, F.lit(1.0))
        + 0.15 * wl_score
    )
    return F.when((n == 0) | (n_toks == 0), 0.0).otherwise(F.round(score, 6))


def fingerprint_col(text: Column) -> Column:
    """Document fingerprint: portable 60-bit hash of normalized text —
    the cheap cross-engine fingerprint (the rolling winnow variant
    lives in functions.hashing.rolling_fingerprint for Python-side use)."""
    return portable_hash64_col(norm_text_col(text))


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text analysis projection (all columns share the scan)."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        lang_id_col(t).alias("lang_pred"),
        token_count_col(t).alias("n_tokens"),
        quality_score_col(t).alias("quality"),
        fingerprint_col(t).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# deterministic corpus sampling / splitting
# ---------------------------------------------------------------------------
SAMPLE_MOD = 1_000_000


def sample_bucket_col(id_c: Column, salt: str, mod: int = SAMPLE_MOD) -> Column:
    """Deterministic bucket in [0, mod) from the portable md5-prefix
    hash of ``salt + ':' + id``. Unlike DataFrame.sample (partition-
    order-dependent) or rand(seed) (plan-dependent), the bucket is a
    pure function of the row's id — stable across retries, repartitions,
    engines (bit-identical in DuckDB), and re-runs, which is what makes
    sampling decisions reproducible and auditable at 100 TB. Different
    salts give independent buckets (sampling independent of splitting)."""
    return F.pmod(
        portable_hash64_col(F.concat(F.lit(salt + ":"), id_c.cast("string"))),
        F.lit(mod),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "sample:v1",
) -> DataFrame:
    """Per-stratum downsampling (the language/domain rebalancing step of
    training-data prep): keep a row iff its hash bucket falls under its
    stratum's rate. ``rates`` maps stratum value -> keep rate in [0, 1];
    unlisted strata keep ``default_rate``. The rate CASE is a literal
    chain over a driver-side dict (strata are dimension-sized), so the
    whole filter is one JVM expression on the scan — no shuffle, no UDF,
    pushdown-eligible, and exactly reproducible (see sample_bucket_col)."""
    for k, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {r}")
    bucket = sample_bucket_col(F.col(id_col), salt)
    thr = None
    for k, r in rates.items():
        t = F.lit(int(round(r * SAMPLE_MOD)))
        cond = F.col(stratum_col) == k
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    default = F.lit(int(round(default_rate * SAMPLE_MOD)))
    thr = default if thr is None else thr.otherwise(default)
    return docs.where(bucket < thr)


def hash_split(
    docs: DataFrame,
    weights: dict,
    id_col: str = "doc_id",
    salt: str = "split:v1",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic train/val/test-style label by
    cumulative hash-bucket ranges (insertion order of ``weights``; the
    last label absorbs integer-rounding remainder). A row's split never
    changes when the corpus grows — new ids land in the same fixed
    ranges — so incremental ingests can't leak yesterday's val docs
    into today's train set."""
    if not weights:
        raise ValueError("weights must be non-empty")
    bucket = sample_bucket_col(F.col(id_col), salt)
    names = list(weights)
    cum = 0
    out = None
    for name in names[:-1]:
        cum += int(round(weights[name] * SAMPLE_MOD))
        cond = bucket < F.lit(cum)
        out = F.when(cond, name) if out is None else out.when(cond, name)
    last = F.lit(names[-1])
    return docs.withColumn(split_col, last if out is None else out.otherwise(last))


# ---------------------------------------------------------------------------
# within-document repetition metrics (Gopher-style quality signals)
# ---------------------------------------------------------------------------
def _bigram_array(toks: Column) -> Column:
    k = F.size(toks)
    return F.when(k < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
        )
    )


def repetition_metrics(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals, the Gopher-rule family
    (Rae et al. 2021 §A1.1): documents dominated by a few repeated
    n-grams are low-quality (spam, keyword stuffing, broken extractors)
    even when no OTHER document duplicates them — the intra-doc
    complement of the cross-doc dedup families.

    Returns per doc: n_bigrams, top_bigram_frac (occurrences of the most
    frequent bigram / all bigram occurrences), dup_bigram_frac (fraction
    of bigram occurrences whose bigram repeats), distinct_token_ratio.
    Degenerate docs (< 2 tokens) report 0 bigrams and 0.0 fractions.

    Shape: one explode + two aggregations, all keyed by the document id
    — partial aggs combine map-side and the shuffle key is the natural
    partitioning of a per-doc metric, so the pass scales with the corpus
    like any groupBy(doc_id). Pure JVM expressions; ratios are exact-int
    divisions rounded to 6 places (IEEE-identical in the SQL twin).
    """
    tok = docs.select(F.col(id_col), F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_toks"))
    counts = (
        tok.select(F.col(id_col), F.explode(_bigram_array(F.col("_toks"))).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").alias("nb"),
        F.max("c").alias("topc"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("dupc"),
    )
    tokstats = tok.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("nt"),
        F.size(F.array_distinct("_toks")).cast("long").alias("nd"),
    )
    return (
        tokstats.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("nb", F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(
                F.when(F.col("nb").isNull(), F.lit(0.0)).otherwise(
                    F.col("topc") / F.col("nb")
                ),
                6,
            ).alias("top_bigram_frac"),
            F.round(
                F.when(F.col("nb").isNull(), F.lit(0.0)).otherwise(
                    F.col("dupc") / F.col("nb")
                ),
                6,
            ).alias("dup_bigram_frac"),
            F.round(F.col("nd") / F.col("nt"), 6).alias("distinct_token_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# exact distribution quantiles (histogram-cumsum shape)
# ---------------------------------------------------------------------------
def exact_quantiles(
    values: DataFrame,
    qs,
    value_col: str = "v",
    group_cols=(),
) -> DataFrame:
    """Exact rank-based quantiles of an integer-valued column, computed
    the way a 100 TB corpus report must: the corpus reduces to a
    (value, frequency) HISTOGRAM first (one hash agg — dimension-sized
    for any bounded-range statistic like token counts), and the
    sort/cumsum window runs over the histogram only, never the corpus.
    quantile q = the value at 0-based rank (num * (N - 1)) div den of
    the sorted multiset (quantile_disc semantics), where num/den is q
    as an exact decimal fraction — PURE INTEGER arithmetic, so the rank
    can never land one below the rational rank the way IEEE
    floor(q * (N - 1)) can (0.7 * 10 evaluates to 6.999... -> 6), and
    it is bit-identical in any engine, unlike interpolating
    percentile()/quantile_cont whose float arithmetic is engine-shaped.

    With ``group_cols`` the histogram, windows, and per-group N are all
    keyed by the group (per-language report shape); N is a window
    column, so no driver action runs. The requested qs explode as
    literals over the cumulative histogram and each row keeps the qs
    whose rank it covers — a projection + filter, never a range join
    (a broadcast inequality join would plan as the BNLJ the plan
    guards forbid). Returns (*group_cols, q, value) rows."""
    from pyspark.sql import Window

    g = list(group_cols)
    hist = values.groupBy(*g, F.col(value_col).alias("val")).agg(
        F.count(F.lit(1)).alias("f")
    )
    w = (
        Window.partitionBy(*g)
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        *g, "val", "f", F.sum("f").over(w).alias("hi")
    ).withColumn("lo", F.col("hi") - F.col("f"))
    nw = Window.partitionBy(*g)
    cum = cum.withColumn("n", F.max("hi").over(nw))
    from fractions import Fraction

    # q's decimal intent as an exact num/den pair (str() round-trips the
    # intended literal, e.g. 0.99 -> 99/100, not its binary neighbour)
    q_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(float(q)).alias("q"),
                    F.lit(fr.numerator).cast("long").alias("num"),
                    F.lit(fr.denominator).cast("long").alias("den"),
                )
                for q, fr in ((q, Fraction(str(q))) for q in qs)
            ]
        )
    ).alias("qq")
    idx = F.expr("(qq.num * (n - 1)) div qq.den")
    return (
        cum.select(*g, "val", "lo", "hi", "n", q_col)
        .where((F.col("lo") <= idx) & (idx < F.col("hi")))
        .select(*g, F.col("qq.q").alias("q"), F.col("val").alias("value"))
    )


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Adjacent-bigram collocation mining with a PMI-style lift score:
    (tok_a, tok_b, n_ab, n_a, n_b, n_tokens, lift) for every ordered
    adjacent whitespace-token pair occurring >= ``min_count`` times,
    lift = round(n_ab * N / (n_a * n_b), 6) — the corpus-statistics
    companion of webgraph.comention_lift (same exact-integer inputs,
    one IEEE multiply-divide, one round(6); log-PMI would drag libm
    onto the oracle surface, and lift orders pairs identically).

    Spark-first shape: bigrams are built ROW-LOCALLY with a
    ``transform`` over the token array — no positional self-join and
    no per-document window sort; the first shuffle is the bigram
    count itself (map-side combinable), the unigram side is a second
    combinable agg over the same scan, and the corpus total joins in
    as a 1-row broadcast. Everything is linear in token occurrences.
    """
    from .dedup import tokenized

    # NOT checkpointed: tok is corpus-sized and its two consumers
    # (bigram + unigram branches) each re-run only a narrow pruned
    # scan + split — materializing the tokenized corpus would cost
    # executor storage proportional to the input, the one thing a
    # 100 TB pass must never do for a cheap projection. Measured at
    # sf0.1 (A/B, warm, local[32]): checkpoint saves ~0.2 s because
    # the corpus fits in memory; the double scan is the right trade
    # the moment it does not (same reasoning as _kg_base's no-spread
    # note in queries.py).
    tok = tokenized(docs, text_col)
    big = tok.select(
        F.explode(
            F.expr(
                "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)),"
                " (t, i) -> struct(t AS a, element_at(_toks, i + 2) AS b))"
            )
        ).alias("bg")
    ).select(F.col("bg.a").alias("tok_a"), F.col("bg.b").alias("tok_b"))
    bc = (
        big.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    uni = (
        tok.select(F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = uni.agg(F.sum("n").cast("long").alias("n_tokens"))
    return (
        bc.join(uni.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b")), "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_tokens",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_tokens").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-then-chunk sequence packing — the step that turns a
    deduplicated corpus into fixed-token-budget training shards: docs
    are laid out in deterministic (group, id) order, each one's START
    offset in its group's token stream decides its shard,
    bin = start_offset div budget (a doc may straddle its shard
    boundary; the loader consumes the overflow from the next shard —
    the standard packing semantic, no token is dropped or padded).

    Returns (id, group, n_tokens, start_offset, bin) — all exact
    integers, replayable bit-for-bit in SQL.

    Spark-first shape: ONE window cumsum partitioned by ``group_col``
    (a global ordering would funnel the corpus through a single task;
    per-source streams are the natural pack unit and shuffle-partition
    by the group key). Token counts are whitespace-token array sizes
    computed row-locally; the window is the only shuffle. Skewed
    sources serialize their own window — at 10^12 docs, pre-split hot
    sources on a hash suffix and re-offset, the same refinement as
    asof_join's hot-key note."""
    if budget < 1:
        raise ValueError("budget must be >= 1")
    from pyspark.sql import Window

    n_tok = F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        docs.select(
            F.col(id_col),
            F.col(group_col),
            n_tok.cast("long").alias("n_tokens"),
        )
        .select(
            id_col,
            group_col,
            "n_tokens",
            (cum - F.col("n_tokens")).alias("start_offset"),
        )
        .withColumn("bin", F.expr(f"start_offset div {budget}"))
    )


def tfidf_terms(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 5,
) -> DataFrame:
    """Top-N characteristic terms per document by tf-idf — the
    keyword-extraction step a curation pipeline runs before topic
    bucketing or per-domain corpus audits. Score = tf * N / df (the
    lift-style inverse document frequency): same ordering family as
    classic log-idf for the within-document ranking the operator
    emits, but the score stays on the exact-integer-inputs /
    one-IEEE-multiply-divide / round(6) oracle surface the rest of
    the corpus statistics use (log would drag libm's last-ulp
    differences between engines into the hash compare — the
    collocations precedent).

    Returns (doc_id, term, tf, df, n_docs, score, rank), rank 1..N per
    doc ordered by (score desc, term asc) — fully deterministic.

    Spark-first shape: one explode + two map-side-combinable aggs
    (tf on (doc, term), df derived FROM the tf table — the corpus is
    scanned once); the corpus doc count joins as a 1-row broadcast;
    the final top-N window partitions by doc_id, so its sort is
    bounded by the document's distinct-term count, never by corpus
    size. Every shuffle keys on (doc, term), term, or doc — no
    skew beyond natural document length."""
    from .dedup import tokenized

    tok = tokenized(docs, text_col, keep=("doc_id",))
    terms = tok.select("doc_id", F.explode("_toks").alias("term")).where(
        F.col("term") != ""
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * F.col("n_docs").cast("double")
                / F.col("df").cast("double"),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("doc_id", "term", "tf", "df", "n_docs", "score", "rank")
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    max_postings: int = 8,
    max_df: int = 1000,
) -> DataFrame:
    """Token -> posting-list construction — the search-index build
    step over a crawled corpus. Returns one row per distinct token:
    (token, df, n_occurrences, postings) where ``df`` counts distinct
    documents, ``n_occurrences`` total occurrences, and ``postings``
    is the first ``max_postings`` doc_ids ascending, comma-joined
    (scalar surface — the driver canonicalizer cannot sort arrays).

    Skew control is the load-bearing design point: a stop-like token
    appears in EVERY document, so any per-token collect is an
    unbounded aggregation buffer at web scale (the same blowup class
    the dedup families were capped for). Here df / n_occurrences stay
    exact for ALL tokens (plain combinable counts), but posting lists
    are only materialized for tokens with df <= ``max_df`` — hotter
    tokens get a NULL postings column (a posting list you'd never
    scan anyway; real engines stop-list them). That filter runs
    BEFORE the collect, so every aggregation buffer is bounded by
    max_df rows and the slice caps the output at max_postings.

    Spark-first shape: one explode, per-(token, doc) count, then two
    aggs over that table — corpus scanned once, both aggs map-side
    combinable, no window over an unbounded partition."""
    from .dedup import tokenized

    tok = tokenized(docs, text_col, keep=("doc_id",))
    terms = tok.select("doc_id", F.explode("_toks").alias("token")).where(
        F.col("token") != ""
    )
    per_doc = terms.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("n_occurrences"),
    )
    cool = stats.where(F.col("df") <= max_df).select("token")
    posts = (
        per_doc.join(cool, "token")
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("doc_id")), 1, max_postings),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return stats.join(posts, "token", "left").select(
        "token", "df", "n_occurrences", "postings"
    )


BPE_SEP = "\x1f"  # unit separator: symbol boundary in packed sequences


def bpe_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The single corpus pass of BPE training: the (cnt, seq)
    vocabulary table, with each word's symbol sequence packed as a
    doubled-separator string (see :func:`bpe_merges`). Exposed so the
    plan tests can assert the corpus-touching stage of the loop stays
    JVM-only with no joins."""
    from .dedup import tokenized

    ss = BPE_SEP + BPE_SEP
    words = (
        tokenized(docs, text_col)
        .select(F.explode("_toks").alias("word"))
        .where((F.col("word") != "") & (~F.col("word").contains(BPE_SEP)))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seq = F.concat(
        F.lit(ss),
        F.array_join(F.regexp_extract_all("word", F.lit("(?s)."), 0), ss),
        F.lit(ss),
    )
    return words.select("cnt", seq.alias("seq"))


def bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """One merge step's candidate table: corpus-frequency-weighted
    counts of adjacent symbol pairs over the packed vocabulary — a
    single combinable (map-side partial) aggregation, no joins."""
    ss = BPE_SEP + BPE_SEP
    syms = vocab.select(
        "cnt", F.filter(F.split("seq", ss), lambda s: s != "").alias("syms")
    )
    pairs = syms.select(
        "cnt",
        F.explode(
            F.expr(
                "transform(slice(syms, 1, greatest(size(syms) - 1, 0)),"
                " (t, i) -> struct(t AS a, element_at(syms, i + 2) AS b))"
            )
        ).alias("bg"),
    )
    return pairs.groupBy(
        F.col("bg.a").alias("a"), F.col("bg.b").alias("b")
    ).agg(F.sum("cnt").alias("n"))


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding merge induction (Sennrich et al. 2016) — the
    tokenizer-training step of an LLM data pipeline. Returns the
    learned merge table (merge_rank, sym_a, sym_b, merged,
    n_occurrences): at each step the corpus-frequency-weighted most
    frequent adjacent symbol pair (ties broken (sym_a, sym_b) asc —
    fully deterministic) is fused everywhere, exactly the reference
    algorithm's greedy loop.

    Spark-first shape — the iterated state is the VOCABULARY, not the
    corpus: one corpus pass builds the (word, count) table, and every
    merge step is (a) a combinable pair-count agg over the vocab,
    (b) a 1-row orderBy/limit take (the pagerank driver-dispatch
    precedent for per-iteration scalars), (c) one JVM string
    ``replace`` over the vocab column. At web scale the vocabulary is
    ~10^7-10^8 rows vs 10^12 documents, so the loop's per-step cost is
    dimension-sized; the vocab frame is eagerly localCheckpoint'ed per
    step (the CC lineage discipline).

    Symbol sequences are packed as strings with DOUBLED \\x1f
    separators ('␟␟a␟␟b␟␟'), and a merge of (a, b) replaces
    '␟a␟␟b␟' -> '␟ab␟': every match consumes only the INNER half of
    each boundary, so consecutive pair occurrences ('a b a b') all
    fuse in one left-to-right non-overlapping pass — the exact BPE
    semantic, and the exact semantics of both engines' literal
    ``replace`` (overlapping occurrences like 'a a a' fuse once,
    as BPE requires). Words containing the separator are excluded
    up front (mirrored in the SQL twin), which keeps the packing
    injective."""
    merges, _ = _bpe_train(docs, n_merges, text_col)
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges,
        "merge_rank int, sym_a string, sym_b string, merged string,"
        " n_occurrences long",
    )


def _bpe_train(docs: DataFrame, n_merges: int, text_col: str):
    """The shared greedy loop: returns (merge list, final packed
    vocabulary) so training (bpe_merges) and vocabulary segmentation
    (bpe_encode) replay the identical recurrence."""
    ss = BPE_SEP + BPE_SEP
    cur = bpe_vocab(docs, text_col).localCheckpoint(eager=True)

    merges = []
    for rank in range(n_merges):
        pc = bpe_pair_counts(cur)
        top = pc.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            break
        a, b, n = top[0].a, top[0].b, int(top[0].n)
        merges.append((rank, a, b, a + b, n))
        cur = cur.select(
            "cnt",
            F.replace(
                F.col("seq"),
                F.lit(BPE_SEP + a + ss + b + BPE_SEP),
                F.lit(BPE_SEP + a + b + BPE_SEP),
            ).alias("seq"),
        ).localCheckpoint(eager=True)
    return merges, cur


def bpe_encode(
    docs: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Tokenizer APPLICATION — the other half of the bpe_merges loop:
    segment every vocabulary word under the learned merge table and
    report its subword pieces. Returns (word, cnt, n_pieces, pieces)
    with pieces comma-joined in sequence order (the driver
    canonicalizer cannot sort arrays — the inverted_index trade).
    The per-word piece count times cnt is the corpus's post-BPE token
    count, the number LM training actually budgets by — computing it
    from the merge table alone would re-implement the fuse semantics;
    computing it from the trainer's final vocabulary state gets it by
    construction and keeps the oracle a pure replay.

    Applying the merges to UNSEEN text is the same chained
    left-to-right replace over a packed vocabulary (nothing here is
    training-data-specific): encode the new corpus's bpe_vocab with
    the SAME replace chain in merge_rank order. Scale shape is
    bpe_merges': everything corpus-sized happens in the one vocab
    build; the merge applications are vocab-sized JVM projections."""
    _, cur = _bpe_train(docs, n_merges, text_col)
    ss = BPE_SEP + BPE_SEP
    pieces = F.filter(F.split("seq", ss), lambda s: s != "")
    return cur.select(
        F.replace(F.col("seq"), F.lit(BPE_SEP), F.lit("")).alias("word"),
        F.col("cnt"),
        F.size(pieces).cast("int").alias("n_pieces"),
        F.array_join(pieces, ",").alias("pieces"),
    )


def host_boilerplate(
    pages: DataFrame,
    n: int = 5,
    min_pages: int = 3,
    min_pct: int = 60,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-host boilerplate shingle mining: token ``n``-grams that
    recur across at least ``min_pct`` percent of a host's pages (hosts
    with fewer than ``min_pages`` pages excluded) — the standard
    template-text detector a crawl-cleaning pipeline runs BEFORE
    training-data extraction (CCNet-style dedup-by-frequency, applied
    at host granularity where page templates actually live). Returns
    (host, shingle, n_pages, n_host_pages) with exact integer counts;
    the threshold compares 100*n_pages >= min_pct*n_host_pages so no
    IEEE division reaches the oracle surface.

    Spark shape — everything corpus-sized is ROW-LOCAL: tokenize,
    window into n-grams (slice under transform: no per-element
    re-split), array_distinct per page (a shingle counts once per
    page no matter how often the template repeats within it). The
    first shuffle is the (host, shingle) count itself — map-side
    combinable, and the key's shingle component keeps hot hosts from
    concentrating (the same reason dedup's shingle aggs never salt).
    The per-host page count is a host-dimension aggregate joined back
    on host — broadcast-sized against any real crawl. Shingles stay
    human-readable strings (the product is a reviewable blocklist);
    at 10^12 pages swap the agg key for portable_hash64_col(shingle)
    and keep a min_by exemplar, the shingle_table(hashed=True) trade.
    """
    from .dedup import ngrams_from_toks, tokenized
    from .webgraph import _URL_HOST

    tok = tokenized(pages, text_col, keep=(url_col,)).select(
        F.regexp_extract(F.col(url_col), _URL_HOST, 1).alias("host"), "_toks"
    )
    sh = ngrams_from_toks(F.col("_toks"), n)
    page_sh = tok.select("host", F.explode(F.array_distinct(sh)).alias("shingle"))
    host_pages = tok.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_host_pages")
    )
    counts = page_sh.groupBy("host", "shingle").agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    return (
        counts.join(host_pages, "host")
        .where(
            (F.col("n_host_pages") >= min_pages)
            & (F.col("n_pages") * 100 >= F.col("n_host_pages") * min_pct)
        )
        .select("host", "shingle", "n_pages", "n_host_pages")
    )


def split_oov(
    docs: DataFrame,
    weights: dict,
    n: int = 1,
    train_label: str = "train",
    eval_label: str = "val",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    salt: str = "split:v1",
) -> DataFrame:
    """Cross-split novelty audit: for each language, how much of the
    eval split's token-``n``-gram mass is ABSENT from the train
    split's n-gram vocabulary — the unseen-n-gram fraction used to
    separate generalization from memorization in LM evals (novel
    val text the model cannot have copied), and a leak detector in
    the other direction (an oov_rate near 0 at high n means the val
    split is effectively inside the train set). Splits come from the
    same growth-stable :func:`hash_split` ranges the corpus_sample
    product uses, so the audit describes the REAL training splits.
    Returns (lang, n_tokens, n_oov_tokens, n_types, n_oov_types,
    oov_rate) — exact integer counts plus one IEEE divide+round(6).

    Spark shape: tokenize + n-gram windows row-locally, then reduce
    the corpus to the (lang, split, gram, n_occ) type table FIRST
    (map-side combinable; the one corpus-sized shuffle) and
    localCheckpoint it — the train-vocab and eval branches both read
    the type table, not the corpus. The vocab membership probe is a
    token-keyed equi join at type cardinality (10^7-8 at web scale,
    never corpus-sized); AQE picks the strategy.
    """
    from .dedup import ngrams_from_toks, tokenized

    lab = hash_split(
        docs.select(id_col, lang_col, text_col), weights, id_col=id_col, salt=salt
    )
    tok = tokenized(lab, text_col, keep=(lang_col, "split"))
    occ = (
        tok.select(
            lang_col,
            "split",
            F.explode(ngrams_from_toks(F.col("_toks"), n)).alias("tok"),
        )
        .groupBy(lang_col, "split", "tok")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .localCheckpoint(eager=True)
    )
    vocab = (
        occ.where(F.col("split") == train_label)
        .select("tok")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    oov = F.col("_seen").isNull()
    return (
        occ.where(F.col("split") == eval_label)
        .join(vocab, "tok", "left")
        .groupBy(lang_col)
        .agg(
            F.sum("n_occ").alias("n_tokens"),
            F.sum(F.when(oov, F.col("n_occ")).otherwise(F.lit(0))).alias(
                "n_oov_tokens"
            ),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(oov, F.lit(1)).otherwise(F.lit(0))).alias("n_oov_types"),
        )
        .select(
            lang_col,
            "n_tokens",
            "n_oov_tokens",
            "n_types",
            "n_oov_types",
            F.round(
                F.col("n_oov_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


# PII patterns shared verbatim by the Spark operator and the DuckDB
# oracle SQL. Both engines' regex dialects (java.util.regex / RE2) are
# leftmost-first with greedy quantifiers and ASCII \b \d here, so the
# SAME pattern string yields the same matches — keep patterns inside
# this common subset (no lookaround, no backreferences, no unicode
# classes) or the oracle diverges.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}[ -]\d{3}[ -]\d{2,4}\b"


def redact_pii(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """PII scrubbing for training corpora: mask emails, IPv4
    addresses, and international-format phone numbers with typed
    sentinels (<EMAIL>/<IP>/<PHONE>), counting each class. The three
    passes are SEQUENTIAL over the progressively redacted text —
    emails first, so the digits-and-dots inside a matched email can
    never double-count as an IP — which makes the counts well-defined
    and engine-replayable. Returns (url, n_emails, n_ips, n_phones,
    text_redacted).

    Spark shape: pure row-local JVM regexp_count/regexp_replace inside
    one whole-stage-codegen projection — no shuffle, no UDF, scales as
    a scan. Pattern notes: IPv4 deliberately matches octets > 255
    (redaction favors recall; '999.999.999.999' is masked, not
    leaked); the phone shape requires a +country prefix so bare
    7-digit runs (dates, ids) are left alone.
    """
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return pages.select(
        F.col(url_col).alias("url"),
        F.regexp_count(t0, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(t2, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        t3.alias("text_redacted"),
    )


def lm_bits(
    docs: DataFrame,
    weights: dict = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "lm:v1",
    train_label: str = "train",
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020):
    score every document's cross-entropy under a unigram LM trained on
    the corpus's own train split, so downstream curation can keep the
    head/middle of the perplexity distribution and drop the tail. The
    split comes from the same growth-stable :func:`hash_split` ranges
    the corpus_sample product ships — the scorer describes the REAL
    training distribution, and heldout docs are scored by a model that
    never saw them.

    The LM is power-of-two-binned add-one unigram: a token with train
    count ``c`` costs ``B - b`` bits where ``b = floor(log2(c + 1))``
    and ``B = floor(log2(T + V))`` (T = train token total, V = train
    vocabulary size) — within 1 bit of true add-one unigram
    cross-entropy, but every per-token cost is an EXACT integer
    (``length(bin(x)) - 1``; no libm log whose last-ulp engine
    differences would poison the oracle hash — the tfidf/collocations
    precedent), so the per-doc sum is order-independent and the only
    IEEE op is the final divide+round(6).

    Returns (doc_id, split, n_tokens, n_oov, oov_frac, bits_per_token);
    zero-token docs keep their split with null fractions.

    Spark shape: ONE corpus-sized shuffle builds the (doc, split, tok,
    cnt) table, localCheckpoint-ed because the train-count reduction
    and the scoring probe both read it; train counts are a type-
    cardinality table probed with a token-keyed equi join (AQE picks
    broadcast vs shuffle); totals ride a 1-row broadcast. Nothing
    corpus-sized ever sorts or collects.
    """
    from .dedup import tokenized

    if weights is None:
        weights = {"train": 0.9, "heldout": 0.1}
    if train_label not in weights:
        raise ValueError(f"weights must contain {train_label!r}")
    lab = hash_split(docs.select(id_col, text_col), weights, id_col=id_col, salt=salt)
    tok = tokenized(lab, text_col, keep=(id_col, "split"))
    occ = (
        tok.select(id_col, "split", F.explode("_toks").alias("tok"))
        .where(F.col("tok") != "")
        .groupBy(id_col, "split", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tc = (
        occ.where(F.col("split") == train_label)
        .groupBy("tok")
        .agg(F.sum("cnt").alias("c"))
    )
    tot = tc.agg(
        F.sum("c").cast("long").alias("t_total"),
        F.count(F.lit(1)).cast("long").alias("v_size"),
    )
    b_bits = F.length(F.bin(F.coalesce(F.col("c"), F.lit(0)) + 1)) - 1
    big_b = F.length(F.bin(F.col("t_total") + F.col("v_size"))) - 1
    scored = (
        occ.join(tc, "tok", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col, "split")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("c").isNull(), F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov"),
            F.sum(F.col("cnt") * (big_b - b_bits)).cast("long").alias("bits"),
        )
    )
    return (
        lab.select(id_col, "split")
        .join(scored, [id_col, "split"], "left")
        .select(
            F.col(id_col),
            F.col("split"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.coalesce("bits", F.lit(0)).cast("long").alias("bits"),
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("oov_frac"),
            F.round(
                F.col("bits").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("bits_per_token"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary coverage under a corpus frequency floor
    (word2vec's min_count): the vocabulary is every whitespace token
    with corpus occurrence count >= ``min_count``; each document gets
    (n_tokens, n_invocab, n_types, n_oov_types, coverage) — the
    tokenizer-prep signal that predicts a document's UNK rate before
    any trained tokenizer exists (low coverage = the doc is mostly
    rare types: boilerplate noise, code, or another language).

    Shape: ONE corpus-sized shuffle builds the (doc, tok, cnt) table,
    localCheckpoint-ed because both the vocabulary reduction and the
    membership probe read it; the vocabulary is a frequency FILTER on
    the type table — no global top-K sort, no single-partition window
    — and the probe is a token-keyed equi join at type cardinality
    (the split_oov discipline). Exact integers + one IEEE division."""
    from .dedup import tokenized

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    tok = tokenized(docs.select(id_col, text_col), text_col, keep=(id_col,))
    occ = (
        tok.select(id_col, F.explode("_toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    vocab = (
        occ.groupBy("tok")
        .agg(F.sum("cnt").alias("n_total"))
        .where(F.col("n_total") >= min_count)
        .select("tok")
        .withColumn("_in", F.lit(1))
    )
    oov = F.col("_in").isNull()
    return (
        occ.join(vocab, "tok", "left")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.when(~oov, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_invocab"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(oov, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov_types"),
        )
        .withColumn(
            "coverage",
            F.round(
                F.col("n_invocab").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ),
        )
    )


def mixture_weights(docs: DataFrame, by: str = "source") -> DataFrame:
    """Temperature-based mixture weights per corpus source — the
    rebalancing step multilingual / multi-domain LM training uses so
    head sources don't drown the tail (exponentiated sampling,
    p_s ∝ n_s^alpha, XLM-R-style; here alpha = 1/2 so the exponent is
    IEEE sqrt — CORRECTLY ROUNDED by the 754 standard in every engine,
    unlike pow/log which would put libm divergence on the oracle
    surface).

    Returns one row per source: (source, n_docs, n_tokens, w_sqrt,
    raw_micro, mix_micro, p_mix) where w_sqrt = floor(sqrt(n_tokens))
    (exact integer both engines), raw_micro / mix_micro are the
    proportional vs temperature-flattened shares in exact integer
    micro-units (1e6 * x div total), and p_mix is the one IEEE divide
    for display. A source with zero tokens gets weight zero, not a
    crash; an empty corpus returns an empty frame.

    Scale shape: ONE map-side-combinable agg over the corpus keyed on
    the source (the only shuffle), then a 1-row broadcast of the two
    integer denominators — the collocations discipline. The output is
    dimension-sized (one row per source)."""
    per = docs.groupBy(F.col(by).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    per = per.withColumn(
        "w_sqrt", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    ).localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("n_tokens").cast("long").alias("_tot_tokens"),
        F.sum("w_sqrt").cast("long").alias("_tot_w"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "w_sqrt",
        F.when(F.col("_tot_tokens") == 0, F.lit(0))
        .otherwise(F.expr("div(1000000 * n_tokens, _tot_tokens)"))
        .cast("long")
        .alias("raw_micro"),
        F.when(F.col("_tot_w") == 0, F.lit(0))
        .otherwise(F.expr("div(1000000 * w_sqrt, _tot_w)"))
        .cast("long")
        .alias("mix_micro"),
        F.when(F.col("_tot_w") == 0, F.lit(0.0))
        .otherwise(
            F.round(F.col("w_sqrt").cast("double") / F.col("_tot_w").cast("double"), 6)
        )
        .alias("p_mix"),
    )


def freq_spectrum(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf frequency spectrum of the corpus vocabulary: how many
    types (distinct whitespace tokens) fall in each power-of-two
    occurrence octave, and how much of the corpus's token mass that
    octave carries. The distribution-shape readout corpus curation
    watches — a healthy natural-language crawl shows the straight-ish
    Zipf line across octaves; boilerplate floods the head octaves and
    spam/code inflates the hapax tail — without ever ranking the full
    vocabulary (a global top-K sort over 10^8 types is exactly what
    this avoids).

    Returns one row per occupied octave: (freq_bits, min_n, max_n,
    n_terms, n_occ, cum_terms, cum_occ, occ_micro) where freq_bits =
    bit length of the type's occurrence count (octave k covers counts
    [2^(k-1), 2^k)), cum_* accumulate from the MOST frequent octave
    down ("the top j octaves cover cum_occ tokens" — the head-mass
    curve), and occ_micro is the octave's exact integer micro-share of
    all occurrences. All integers; no IEEE arithmetic at all.

    Scale shape: one corpus-sized type-count shuffle (map-side
    combining), then an octave-keyed agg — the output is AT MOST ~64
    rows, so the cumulative window and the 1-row denominator broadcast
    both run at constant cardinality."""
    from pyspark.sql import Window

    from .dedup import tokenized

    types = (
        tokenized(docs.select(text_col), text_col)
        .select(F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spec = (
        types.select(F.length(F.bin(F.col("n"))).cast("int").alias("freq_bits"), "n")
        .groupBy("freq_bits")
        .agg(
            F.min("n").cast("long").alias("min_n"),
            F.max("n").cast("long").alias("max_n"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("n").cast("long").alias("n_occ"),
        )
        .localCheckpoint(eager=True)
    )
    tot = spec.agg(F.sum("n_occ").cast("long").alias("_tocc"))
    w = Window.orderBy(F.desc("freq_bits")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spec.crossJoin(F.broadcast(tot))
        .select(
            "freq_bits",
            "min_n",
            "max_n",
            "n_terms",
            "n_occ",
            F.sum("n_terms").over(w).cast("long").alias("cum_terms"),
            F.sum("n_occ").over(w).cast("long").alias("cum_occ"),
            F.expr("div(1000000 * n_occ, _tocc)").cast("long").alias("occ_micro"),
        )
    )


def quality_lm_calibration(docs: DataFrame) -> DataFrame:
    """Cross-signal quality calibration: does the cheap heuristic
    quality score AGREE with the independent CCNet-style LM signal?
    Documents are bucketed by quality micro-decile (fixed [k/10,
    (k+1)/10) bins on the round-6 score — exact integer micro-units,
    no data-dependent quantile pass) and each bucket reports its exact
    total LM bit cost, token mass, and OOV mass. A healthy corpus
    shows bits_per_token falling as the heuristic decile rises; a flat
    profile means the heuristic threshold is not doing what the
    perplexity filter would — the validation step run before trusting
    either signal to gate a 100 TB corpus.

    Returns (q_bucket, n_docs, n_tokens, n_oov, bits, bits_per_token,
    oov_micro) for occupied buckets 0..9. Shape: the two ingredient
    passes (analyze_documents projection; lm_bits' train/score split)
    join once on the doc key, then ONE 10-ary bucket agg — all
    combinable, output constant-cardinality."""
    ta = analyze_documents(docs).select("doc_id", "quality")
    lm = lm_bits(docs).select("doc_id", "n_tokens", "n_oov", "bits")
    q_micro = F.round(F.col("quality") * F.lit(1_000_000.0), 0).cast("long")
    bucket = F.least(F.lit(9).cast("long"), F.expr("div(_qm, 100000)"))
    return (
        ta.join(lm, "doc_id")
        .withColumn("_qm", q_micro)
        .groupBy(bucket.cast("int").alias("q_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_oov").cast("long").alias("n_oov"),
            F.sum("bits").cast("long").alias("bits"),
        )
        .select(
            "q_bucket",
            "n_docs",
            "n_tokens",
            "n_oov",
            "bits",
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("bits").cast("double") / F.col("n_tokens").cast("double"),
                    6,
                )
            )
            .alias("bits_per_token"),
            F.when(F.col("n_tokens") == 0, F.lit(0))
            .otherwise(F.expr("div(1000000 * n_oov, n_tokens)"))
            .cast("long")
            .alias("oov_micro"),
        )
    )


# ---------------------------------------------------------------------------
# fixed-token chunking with overlap (RAG / context-window prep)
# ---------------------------------------------------------------------------
def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split every document into fixed-size whitespace-token windows
    with ``overlap`` tokens of context shared between consecutive
    chunks — the retrieval/embedding prep step (context windows for
    RAG corpora, max-length packing for encoder training). Chunk k
    covers tokens ``[k*stride, k*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the last chunk is shorter,
    never empty, and every token belongs to >= 1 chunk. Documents that
    are pure whitespace are dropped (no tokens to chunk). Returns
    (doc_id, chunk_id, n_chunks, start_tok, n_toks, chunk_text,
    chunk_sha) — the sha-256 keys chunk-level dedup downstream.

    Spark shape: entirely row-local JVM array algebra (split +
    sequence + transform + explode) inside one whole-stage-codegen
    projection — shuffle-free, scales as a scan; chunk counts are
    exact integer arithmetic replayed verbatim in the oracle."""
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if overlap < 0 or overlap >= chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("long"),
    )
    base = docs.where(F.trim(F.col(text_col)) != "").select(
        F.col(id_col), toks.alias("_toks"), n.alias("_n"), n_chunks.alias("_nc")
    )
    k = F.col("chunk_id")
    start = k * F.lit(stride)
    piece = F.slice(F.col("_toks"), (start + 1).cast("int"), chunk_tokens)
    return (
        base.select(
            id_col,
            "_toks",
            "_n",
            "_nc",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_nc") - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            F.col(id_col),
            k.alias("chunk_id"),
            F.col("_nc").alias("n_chunks"),
            start.alias("start_tok"),
            F.least(F.lit(chunk_tokens).cast("long"), F.col("_n") - start).alias(
                "n_toks"
            ),
            F.concat_ws(" ", piece).alias("chunk_text"),
            F.sha2(F.concat_ws(" ", piece), 256).alias("chunk_sha"),
        )
    )


# ---------------------------------------------------------------------------
# bigram LM with stupid backoff (KenLM-lite quality scoring)
# ---------------------------------------------------------------------------
def lm_bits_bigram(
    docs: DataFrame,
    weights: dict = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "lm:v1",
    train_label: str = "train",
) -> DataFrame:
    """Bigram upgrade of :func:`lm_bits` (the CCNet perplexity filter
    with one token of context — the cheap end of the KenLM ladder):
    score each document under a bigram LM trained on the corpus's own
    hash-split train slice, with stupid backoff to the unigram model.

    Exact-integer costs, same power-of-two binning as lm_bits: a token
    ``w`` after context ``u`` costs ``B2(u) - floor(log2(c2(u,w)+1))``
    bits when the train bigram exists, where ``B2(u) = floor(log2(
    c1(u) + V))`` (add-one over u's continuation space, binned); else
    it BACKS OFF to ``1 + B1 - floor(log2(c1(w)+1))`` (the unigram
    cost plus a 1-bit backoff penalty — stupid backoff's fixed
    discount, integer-exact). Each document's first token has no
    context and scores as a backoff. Returns (doc_id, split,
    n_tokens, n_backoff, bits, bits_per_token, backoff_frac); the
    fluency signal a unigram model can't see (scrambled word order
    scores high-perplexity here, identically-distributed bags don't).

    Spark shape: ONE corpus-sized shuffle builds the per-doc bigram
    event table (localCheckpoint-ed; both the train reduction and the
    scoring probe read it); the unigram and bigram train tables are
    type-cardinality equi-join probes; totals ride a 1-row broadcast —
    the lm_bits discipline with one extra keyed join."""
    from .dedup import tokenized

    if weights is None:
        weights = {"train": 0.9, "heldout": 0.1}
    if train_label not in weights:
        raise ValueError(f"weights must contain {train_label!r}")
    lab = hash_split(docs.select(id_col, text_col), weights, id_col=id_col, salt=salt)
    tok = tokenized(lab, text_col, keep=(id_col, "split"))
    toks = F.filter(F.col("_toks"), lambda t: t != "")
    k = F.size(toks)
    events = F.concat(
        F.when(k >= 1, F.array(F.struct(
            F.lit(None).cast("string").alias("u"),
            F.element_at(toks, 1).alias("w"),
        ))).otherwise(F.array().cast("array<struct<u:string,w:string>>")),
        F.when(
            k >= 2,
            F.transform(
                F.sequence(F.lit(1), k - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("u"),
                    F.element_at(toks, i + 1).alias("w"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<u:string,w:string>>")),
    )
    occ = (
        tok.select(id_col, "split", F.explode(events).alias("e"))
        .select(id_col, "split", F.col("e.u").alias("u"), F.col("e.w").alias("w"))
        .groupBy(id_col, "split", "u", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tr = occ.where(F.col("split") == train_label)
    c1 = tr.groupBy("w").agg(F.sum("cnt").alias("c1"))
    c2 = (
        tr.where(F.col("u").isNotNull())
        .groupBy("u", "w")
        .agg(F.sum("cnt").alias("c2"))
    )
    tot = c1.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("t_total"),
        F.count(F.lit(1)).cast("long").alias("v_size"),
    )
    cu = c1.select(F.col("w").alias("u"), F.col("c1").alias("cu"))
    b1 = F.length(F.bin(F.col("t_total") + F.col("v_size"))) - 1
    cost_uni = b1 - (F.length(F.bin(F.coalesce(F.col("c1"), F.lit(0)) + 1)) - 1)
    b2 = F.length(F.bin(F.coalesce(F.col("cu"), F.lit(0)) + F.col("v_size"))) - 1
    cost_big = b2 - (F.length(F.bin(F.col("c2") + 1)) - 1)
    is_backoff = F.col("u").isNull() | F.col("c2").isNull()
    cost = F.when(is_backoff, F.lit(1) + cost_uni).otherwise(cost_big)
    scored = (
        occ.join(c1, "w", "left")
        .join(cu, "u", "left")  # type-cardinality probe; AQE decides
        .join(c2, ["u", "w"], "left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col, "split")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.when(is_backoff, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_backoff"),
            F.sum(F.col("cnt") * cost).cast("long").alias("bits"),
        )
    )
    return (
        lab.select(id_col, "split")
        .join(scored, [id_col, "split"], "left")
        .select(
            F.col(id_col),
            F.col("split"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_backoff", F.lit(0)).cast("long").alias("n_backoff"),
            F.coalesce("bits", F.lit(0)).cast("long").alias("bits"),
            F.round(
                F.col("bits").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("bits_per_token"),
            F.round(
                F.col("n_backoff").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("backoff_frac"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic priority sampling (weighted sample without replacement)
# ---------------------------------------------------------------------------
def priority_sample(
    docs: DataFrame,
    k: int,
    weight_col: Column = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "psample:v1",
) -> DataFrame:
    """Weighted sample of ``k`` rows without replacement via Priority
    Sampling (Duffield, Lund & Thorup 2007): each row gets priority
    ``w / u`` for a uniform ``u`` in (0, 1] — here the portable 60-bit
    md5 hash ``h`` of the salted id as ``u = (h + 1) / 2^60``, so the
    sample is a PURE FUNCTION of (corpus, salt):
    reproducible across runs, engines, partitionings, and retries,
    exactly like hash_split/stratified_sample but weight-sensitive
    (long documents proportionally likelier). Returns the k rows of
    largest priority with the estimator column ``est_weight`` =
    max(w, tau), tau the (k+1)-th priority — sums of est_weight over
    the sample are unbiased estimates of population weight sums, the
    property plain top-k-by-weight lacks.

    Default weight: whitespace token count. Scale shape: priorities
    are scan-side; the only ordering is TakeOrderedAndProject (bounded
    k+1 heap per partition + driver merge — no global sort); tau rides
    a 1-row broadcast. The priority double is one IEEE division,
    bit-identical in any engine; ties are impossible for distinct ids
    (distinct hashes), and ordering breaks remaining ties by id."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from .dedup import portable_hash64_col

    if weight_col is None:
        weight_col = F.size(
            F.filter(
                F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
            )
        ).cast("long")
    h = portable_hash64_col(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    # h has 60 bits and dividing by a power of two is exact, so u is
    # bit-identical in every engine
    u = (h + 1).cast("double") / F.lit(float(1 << 60))
    base = docs.select(
        F.col(id_col),
        weight_col.alias("weight"),
        (weight_col.cast("double") / u).alias("priority"),
    ).where(F.col("weight") > 0)
    top = (
        base.orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(k + 1)
        .localCheckpoint(eager=True)
    )
    tau = top.agg(
        F.when(F.count(F.lit(1)) >= k + 1, F.min("priority"))
        .otherwise(F.lit(0.0))
        .alias("tau")
    )
    return (
        top.orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(k)
        .crossJoin(F.broadcast(tau))
        .select(
            id_col,
            "weight",
            "priority",
            F.greatest(F.col("weight").cast("double"), F.col("tau")).alias(
                "est_weight"
            ),
        )
    )


# ---------------------------------------------------------------------------
# content-defined chunking (CDC — shift-robust chunk boundaries)
# ---------------------------------------------------------------------------
def cdc_chunks(
    docs: DataFrame,
    divisor: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "cdc:v1",
) -> DataFrame:
    """Content-defined chunking at token granularity: a chunk boundary
    falls AFTER every token whose portable hash is 0 mod ``divisor``
    (expected chunk length = ``divisor`` tokens) — the storage-dedup
    primitive (LBFS/rsync/restic) applied to text. Unlike
    :func:`chunk_documents`' fixed windows, boundaries depend only on
    LOCAL content, so inserting a paragraph re-chunks the insertion
    point and nothing else — downstream chunk-sha dedup still matches
    every untouched chunk (the shift-robustness fixed windows lack;
    asserted in tests). Production CDC adds min/max chunk bounds via
    the same per-document sequential pass; the unbounded variant keeps
    the operator fully declarative (a boundary-free document is one
    doc-sized chunk — the worst case equals the per-doc bound every
    doc-keyed operator already carries). Returns (doc_id, chunk_id,
    start_pos, n_toks, chunk_text, chunk_sha); whitespace-only docs
    drop.

    Spark shape: explode to (doc, pos, tok), ONE doc-keyed shuffle; the
    running boundary count is a window over (doc_id ORDER BY pos) —
    partitioned by the natural key, never global — and chunk assembly
    is a doc+chunk-keyed aggregation with a row-local sort of the
    collected (pos, tok) structs. Pure JVM + the portable hash."""
    if divisor < 2:
        raise ValueError("divisor must be >= 2")
    from pyspark.sql.window import Window

    from .dedup import portable_hash64_col

    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = docs.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") > 0
    )
    e = base.select(
        id_col, F.posexplode("_toks").alias("_p0", "tok")
    ).select(
        id_col, (F.col("_p0") + 1).alias("pos"), "tok"
    )
    bnd = (
        F.pmod(
            portable_hash64_col(F.concat(F.lit(salt + ":"), F.col("tok"))),
            F.lit(divisor),
        )
        == 0
    ).cast("int")
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = e.withColumn("_b", bnd).withColumn(
        "chunk_id", (F.sum("_b").over(w) - F.col("_b")).cast("long")
    )
    return (
        c.groupBy(id_col, "chunk_id")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("chunk_text"),
        )
        .select(
            id_col,
            "chunk_id",
            "start_pos",
            "n_toks",
            "chunk_text",
            F.sha2("chunk_text", 256).alias("chunk_sha"),
        )
    )
