"""Deterministic distributed sketches over the corpus.

Count-min sketch of token frequencies: the approximate-counting
primitive a 10^12-document pipeline uses where exact per-token counts
are too wide to materialize (vocabulary-scale group-bys during quality
filtering, frequency-capped sampling, heavy-hitter candidate cuts).

Spark-first + cross-engine shape: the sketch is ONE explode + ONE
hash aggregation to ``depth x width`` cells, and every hash is the
portable md5-prefix hash with a per-row salt — no rand(), no
partition-order dependence — so the whole sketch replays bit-exactly
in DuckDB (unlike Spark's built-in approx_count_distinct/freqItems,
whose HLL/sampling internals are engine-private). Sketches over
disjoint corpus shards MERGE by cell-wise sum (the semigroup the
incremental pipeline needs: fold a crawl batch's sketch into the
standing one without touching old data).

Estimates carry the classic CMS guarantee: est(tok) >= true(tok)
always (only over-counting from collisions is possible), and
est <= true + eps*N with probability 1-delta for
width = ceil(e/eps), depth = ceil(ln(1/delta)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import portable_hash64_col
from .incremental import TOKEN_PAT

CMS_DEPTH = 3
CMS_WIDTH = 64


def _bucket(row_id: Column, tok: Column, width: int) -> Column:
    return F.pmod(
        portable_hash64_col(
            F.concat(F.lit("cms"), row_id.cast("string"), F.lit(":"), tok)
        ),
        F.lit(width),
    )


def cms_sketch(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    token_pat: str = TOKEN_PAT,
) -> DataFrame:
    """(row_id, bucket, cnt) cells of the count-min sketch over every
    token occurrence in ``text_col``. Output is ``depth x width`` rows
    regardless of corpus size — the whole point at scale."""
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(text_col), F.lit(token_pat), 0)
        ).alias("tok")
    )
    rows = toks.select(
        "tok",
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("row_id"),
    )
    return (
        rows.select("row_id", _bucket(F.col("row_id"), F.col("tok"), width).alias("bucket"))
        .groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum — sketches over disjoint shards/batches compose
    exactly (the CMS semigroup)."""
    unioned = sketches[0]
    for s in sketches[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy("row_id", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    tok_col: str = "tok",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(tok, est) for each probe token: min over the sketch rows of the
    token's cell, 0 when a cell is empty. The probe side is dimension-
    sized; the sketch is ``depth x width`` rows, so everything here is
    broadcast-scale no matter the corpus the sketch summarizes."""
    cells = probes.select(
        F.col(tok_col).alias("tok"),
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("row_id"),
    )
    cells = cells.withColumn("bucket", _bucket(F.col("row_id"), F.col("tok"), width))
    return (
        cells.join(F.broadcast(sketch), ["row_id", "bucket"], "left")
        .select("tok", F.coalesce("cnt", F.lit(0).cast("long")).alias("cnt"))
        .groupBy("tok")
        .agg(F.min("cnt").alias("est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
# cardinality member of the sketch family (CMS above is the frequency
# member). approx_count_distinct exists in Spark, but its HLL++
# internals are engine-private and neither mergeable across engines nor
# replayable in an oracle; this register-table form is bit-exact in any
# SQL engine and shard-mergeable by cell-wise max.
# ---------------------------------------------------------------------------
HLL_P = 9                  # 2^9 = 512 registers: ~4.6 % standard error
_HLL_HASH_BITS = 32        # md5-prefix hash width
HLL_Q = _HLL_HASH_BITS - HLL_P


def hll_alpha(m: int) -> float:
    """The standard bias-correction constant (m >= 128 branch)."""
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_hash32(value: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5, salted so HLL
    buckets decorrelate from every other md5 use in the engine."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), value)), 1, 8), 16, 10
    ).cast("long")


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols=(),
    p: int = HLL_P,
) -> DataFrame:
    """(group..., bucket, rho) register table of the HLL sketch of
    ``value_col``'s distinct values per group. ONE hash aggregation;
    output is at most ``2^p`` rows per group regardless of input size
    (occupied registers only — empty registers are implicit, counted by
    :func:`hll_estimate` as ``v_zero``). Duplicates need no pre-distinct:
    equal values hash identically and max() absorbs them — the whole
    reason HLL beats COUNT(DISTINCT) at 10^12 rows (no distinct-key
    shuffle, constant-size state per group).

    rho = leading zeros of the (32-p)-bit remainder + 1, computed as
    q + 1 - bitlength via the base-2 string: integer-exact and
    identical in any engine (no log2 floats)."""
    g = list(group_cols)
    q = _HLL_HASH_BITS - p
    h = _hll_hash32(F.col(value_col))
    bucket = F.shiftright(h, q)
    w = F.pmod(h, F.lit(1 << q))
    bitlen = F.length(
        F.regexp_replace(F.conv(w.cast("string"), 10, 2), "^0+", "")
    )
    rho = (F.lit(q + 1) - bitlen).cast("int")
    return (
        df.select(*g, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*g, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*registers: DataFrame, group_cols=()) -> DataFrame:
    """Cell-wise max — register tables over disjoint (or overlapping!)
    shards compose exactly: merge(sketch(A), sketch(B)) ==
    sketch(A ∪ B) row-for-row, the idempotent-semigroup property CMS's
    sum does not have."""
    g = list(group_cols)
    unioned = registers[0]
    for s in registers[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy(*g, "bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame, group_cols=(), p: int = HLL_P) -> DataFrame:
    """(group..., n_regs, v_zero, denom_scaled, raw_est) per group.

    Cross-engine exactness: the harmonic-mean denominator
    sum_j 2^(-rho_j) is scaled by 2^(q+1) into PURE INTEGER arithmetic
    (every term 2^(q+1-rho) is an exact integer; the sum fits a long:
    m * 2^(q+1) = 2^33 worst case), so ``denom_scaled`` is bit-exact
    and ``raw_est`` = alpha_m * (m^2 * 2^(q+1)) / denom_scaled is two
    correctly-rounded IEEE ops on exact inputs — identical in any
    engine. ``raw_est`` is the uncorrected estimator; apply
    :func:`hll_corrected` for the small-range (linear counting)
    correction, which uses ln() and is therefore kept OFF the bit-exact
    oracle surface."""
    g = list(group_cols)
    m = 1 << p
    q = _HLL_HASH_BITS - p
    scale = q + 1
    alpha = hll_alpha(m)
    agg = registers.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {scale} - rho)"))
        .cast("long")
        .alias("occ_scaled"),
    )
    v_zero = (F.lit(m) - F.col("n_regs")).cast("long")
    denom = (F.col("occ_scaled") + v_zero * F.lit(1 << scale)).cast("long")
    num = float(m) * float(m) * float(1 << scale)  # 2^42: exact double
    return agg.select(
        *g,
        "n_regs",
        v_zero.alias("v_zero"),
        denom.alias("denom_scaled"),
        (F.lit(alpha) * F.lit(num) / F.col("denom_scaled")).alias("raw_est"),
    )


def hll_corrected(estimates, p: int = HLL_P):
    """Small-range correction on a COLLECTED estimate table (pandas
    DataFrame or list of Rows -> list of dicts): linear counting
    m*ln(m/V) when raw_est <= 2.5m and V > 0 (Flajolet §4). Driver-side
    on the dimension-sized estimate table by design — ln() is libm-
    shaped and would break the bit-exact oracle contract if it lived in
    the query surface."""
    import math

    m = 1 << p
    out = []
    rows = estimates.to_dict("records") if hasattr(estimates, "to_dict") else [
        r.asDict() for r in estimates
    ]
    for r in rows:
        est = r["raw_est"]
        if est <= 2.5 * m and r["v_zero"] > 0:
            est = m * math.log(m / r["v_zero"])
        out.append({**r, "est": est})
    return out


# ---------------------------------------------------------------------------
# CMS-pruned exact heavy hitters — the two-pass algorithm the sketch
# exists for (Cormode & Muthukrishnan 2005 §4.2): pass 1 builds the
# bounded sketch, pass 2 exactly counts ONLY the occurrences whose CMS
# estimate clears the phi*N threshold. CMS never undercounts, so no
# true heavy hitter is pruned: the output is IDENTICAL to the plain
# exact GROUP BY ... HAVING count >= phi*N — which is exactly what the
# DuckDB oracle runs. At 10^12 documents the win is that the exact
# shuffle carries only candidate occurrences, not the full vocabulary.
# ---------------------------------------------------------------------------
HH_NUM = 1
HH_DEN = 24  # phi = 1/24: a token is heavy iff count*DEN >= N*NUM (pure ints)


def heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    num: int = HH_NUM,
    den: int = HH_DEN,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    token_pat: str = TOKEN_PAT,
) -> DataFrame:
    """(tok, cnt, n_occurrences) for every token with
    cnt * den >= n_occurrences * num — exact counts, sketch-pruned.

    The corpus occurrence total needs no extra scan: every occurrence
    lands exactly once in each sketch row, so row 0's cell sum IS the
    total (driver literal off the bounded depth x width table, same
    pattern as the web-graph doc-count literal). The probe side is
    ``depth`` broadcast joins of width-row cell tables — nothing
    corpus-sized ever sits on the build side."""
    sketch = cms_sketch(docs, text_col, depth, width, token_pat).localCheckpoint()
    total = sketch.where(F.col("row_id") == 0).agg(F.sum("cnt")).first()[0] or 0
    probe = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(text_col), F.lit(token_pat), 0)
        ).alias("tok")
    )
    for r in range(depth):
        cells_r = sketch.where(F.col("row_id") == r).select(
            F.col("bucket").alias(f"b{r}"), F.col("cnt").alias(f"c{r}")
        )
        probe = probe.withColumn(
            f"b{r}", _bucket(F.lit(r), F.col("tok"), width)
        ).join(F.broadcast(cells_r), f"b{r}", "left")
    est = F.least(
        *[F.coalesce(F.col(f"c{r}"), F.lit(0).cast("long")) for r in range(depth)]
    )
    candidates = probe.where(est * F.lit(den) >= F.lit(int(total) * num))
    return (
        candidates.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * F.lit(den) >= F.lit(int(total) * num))
        .select("tok", "cnt", F.lit(int(total)).cast("long").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# Bloom filter — the crawl "URL-seen" membership primitive.
# ---------------------------------------------------------------------------
# A frontier scheduler at 10^12 documents cannot equi-join every
# candidate outlink against the full crawled-URL table on every cycle;
# it probes a bits-sized filter first and pays the exact join only for
# filter hits. Deterministic double hashing (Kirsch–Mitzenmacher:
# pos_i = h1 + i*h2 mod m) over the SAME portable md5-prefix hash the
# other sketches use — no rand(), bit-exactly replayable in DuckDB —
# and the filter is a (word_idx, word_bits) table whose shards MERGE
# by word-wise bit_or (the same semigroup shape as cms_merge).
# Words hold 32 bits inside a BIGINT so `1 << bit` stays positive in
# both engines (bit 63 of a shifted BIGINT would go negative in Spark
# and overflow-check in DuckDB).

BLOOM_M_WORDS = 32
BLOOM_K = 3
_WORD_BITS = 32


def _bloom_positions(value: Column, k: int, m_bits: int) -> Column:
    h1 = portable_hash64_col(F.concat(F.lit("bf1:"), value))
    h2 = portable_hash64_col(F.concat(F.lit("bf2:"), value))
    # h1,h2 < 2^60 and i < k keep h1 + i*h2 well inside BIGINT
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)])


def bloom_build(
    values: DataFrame,
    value_col: str = "url",
    m_words: int = BLOOM_M_WORDS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Build the filter over a column of values: ONE explode (k
    positions per value) + ONE bit_or aggregation to at most
    ``m_words`` rows — the map-side-combinable shape, never wider than
    the filter itself regardless of corpus size. Returns (word_idx,
    word_bits); absent words are all-zero."""
    m_bits = m_words * _WORD_BITS
    pos = values.select(
        F.explode(_bloom_positions(F.col(value_col), k, m_bits)).alias("pos")
    )
    return pos.select(
        F.floor(F.col("pos") / _WORD_BITS).cast("long").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, {_WORD_BITS}) AS INT))").alias(
            "mask"
        ),
    ).groupBy("word_idx").agg(F.bit_or("mask").alias("word_bits"))


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Word-wise OR of independently built shard filters — equals the
    filter of the unioned value sets (tested), so crawl batches fold
    into a standing seen-set without rescanning old URLs."""
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.groupBy("word_idx").agg(F.bit_or("word_bits").alias("word_bits"))


def bloom_probe(
    bloom: DataFrame,
    candidates: DataFrame,
    value_col: str = "url",
    m_words: int = BLOOM_M_WORDS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Probe candidates against the filter: k (candidate, word, bit)
    rows equi-joined to the words table (filter-sized — AQE
    broadcasts it), then per-candidate ALL-bits-set. Returns
    (<value_col>, bloom_hit with 0/1) — no false negatives ever; false
    positives at the classic (1 - e^{-kn/m})^k rate."""
    m_bits = m_words * _WORD_BITS
    cpos = candidates.select(
        F.col(value_col),
        F.explode(_bloom_positions(F.col(value_col), k, m_bits)).alias("pos"),
    ).select(
        value_col,
        F.floor(F.col("pos") / _WORD_BITS).cast("long").alias("word_idx"),
        F.pmod(F.col("pos"), F.lit(_WORD_BITS)).cast("int").alias("bit"),
    )
    joined = cpos.join(bloom, "word_idx", "left")
    hit = (
        F.expr("shiftright(coalesce(word_bits, CAST(0 AS BIGINT)), bit)") % 2 == 1
    ).cast("long")
    return joined.groupBy(value_col).agg(F.min(hit).alias("bloom_hit"))
