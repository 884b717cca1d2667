"""Training-data deduplication operators over a documents corpus.

Five families, each a `DataFrame -> DataFrame` built Spark-first:

- exact         : sha256 hash-groupBy (one shuffle; the reference's
                  content dedup, `_sbom.py:75-122`, generalized)
- normalized    : md5 of casefolded/punct-stripped text (near-exact)
- minhash LSH   : shingle -> salted-md5 minhash -> band keys ->
                  bucket self-join -> exact Jaccard verify
- simhash       : 64-bit simhash + hamming-band blocking
- embedding     : cosine near-dup over array<float> with blocking

Everything except simhash stays in built-in JVM expressions
(whole-stage codegen); the signatures use the SQL-portable md5-prefix
hash (functions/hashing.py) so DuckDB can replay them exactly.

Scale notes: LSH band self-join shuffles on band keys — band buckets
are bounded (we cap bucket width defensively and log drops); pair
generation uses `id1 < id2` to halve the shuffle; exact-verify runs
only on candidate pairs, never all-pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

_MERSENNE61 = (1 << 61) - 1
_P31 = 2147483647  # functions.hashing.P31


def portable_hash64_col(c: Column) -> Column:
    """Spark-SQL twin of functions.hashing.portable_hash64."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def norm_text_col(c: Column) -> Column:
    """Casefold, strip non-alphanumerics, collapse whitespace."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " "), r"\s+", " ")
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: one row per distinct content with canonical id =
    min(id), plus the duplicate count."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha256"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("content_sha256", "canonical_id", "n_dups")
    )


def dedup_normalized(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-exact dedup on normalized text."""
    return (
        docs.groupBy(F.md5(norm_text_col(F.col(text_col))).alias("norm_md5"))
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("norm_md5", "canonical_id", "n_dups")
    )


def shingles_from_toks(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a *materialized* token-array column.

    ``toks`` MUST be a plain column reference, not a computed
    expression: Catalyst does no common-subexpression elimination
    inside higher-order-function lambdas, so ``element_at(expr, i)``
    re-evaluates ``expr`` once per element — with a computed split
    that turns shingling O(len^2) (measured 5x slowdown). Use
    :func:`tokenized` to materialize the tokens first.
    """
    k = F.size(toks)
    return F.when(k <= n, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2), F.element_at(toks, i + 3)
            ),
        )
    )


def ngrams_from_toks(toks: Column, n: int) -> Column:
    """Exact-window word n-grams from a *materialized* token-array
    column: one ' '-joined string per position, EMPTY array when the
    document is shorter than ``n`` (contrast shingles_from_toks, which
    falls back to the whole text for dedup recall). Same lambda caveat:
    ``toks`` must be a plain column reference, or Catalyst re-evaluates
    the expression per element."""
    k = F.size(toks)
    return F.when(k < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def tokenized(docs: DataFrame, text_col: str = "text", keep: tuple = ()) -> DataFrame:
    """Project (keep..., _toks) with the whitespace tokens materialized
    — the mandatory prelude to :func:`shingles_from_toks`."""
    return docs.select(
        *[F.col(c) for c in keep],
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_toks"),
    )


def shingle_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    block_col: str = None, hashed: bool = False,
) -> DataFrame:
    """(id[, blk], sh) with distinct shingles, built via the two-phase
    tokenize-then-shingle plan (see shingles_from_toks).

    ``hashed=True`` maps each shingle to its portable 31-bit base hash
    before dedup: set intersections then compare longs instead of
    strings (~2x faster Jaccard), with identical results in the DuckDB
    oracle since the hash is engine-portable (collisions would have to
    collide identically on both sides — they are the same function)."""
    keep = (id_col,) + ((block_col,) if block_col else ())
    tok = tokenized(docs, text_col, keep=keep)
    cols = [F.col(id_col)] + ([F.col(block_col).alias("blk")] if block_col else [])
    sh = shingles_from_toks(F.col("_toks"), n)
    if hashed:
        # materialize the string shingles first: the hash lambda must
        # not re-evaluate the shingle construction per element
        out_cols = [id_col] + (["blk"] if block_col else [])
        step = tok.select(*cols, sh.alias("_sh"))
        return step.select(
            *out_cols, F.array_distinct(base_hash_array(F.col("_sh"))).alias("sh")
        )
    return tok.select(*cols, F.array_distinct(sh).alias("sh"))


def shingles_col(text_col: Column, n: int = 3) -> Column:
    """Single-expression shingles — ONLY for tiny inputs/tests; see
    shingles_from_toks for why this is slow on real data."""
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    k = F.size(toks)
    return F.when(k <= n, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2), F.element_at(toks, i + 3)
            ),
        )
    )


def base_hash_array(sh_col: Column) -> Column:
    """31-bit base hash per shingle (functions.hashing.shingle_base_hash
    twin): one md5 per shingle, the only expensive step of MinHash."""
    return F.transform(sh_col, lambda s: F.pmod(portable_hash64_col(s), F.lit(_P31)))


def minhash_sig_array(hv_col: Column, k: int = 16) -> Column:
    """Array of k minhash values from a *materialized* base-hash array
    column (see shingles_from_toks for why materialization matters):
    sig[i] = min over h of (a_i*h + b_i) mod P31, P31 for empty docs.
    Affine coefficients are deterministic literals shared with the
    Python/DuckDB twins (functions.hashing.mh_params); operands stay
    < 2^31 so the arithmetic is exact in 64-bit everywhere."""
    from ..functions.hashing import mh_params

    params = mh_params(k)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.coalesce(
            F.array_min(
                F.transform(
                    hv_col,
                    lambda h: F.pmod(
                        F.element_at(a_arr, i + 1) * h + F.element_at(b_arr, i + 1),
                        F.lit(_P31),
                    ),
                )
            ),
            F.lit(_P31),
        ),
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 16, n: int = 3
) -> DataFrame:
    """(id, mh0..mh{k-1}) — kept for oracle/debug use."""
    hv_df = shingle_table(docs, id_col, text_col, n).select(
        F.col(id_col), base_hash_array(F.col("sh")).alias("hv")
    )
    sig = minhash_sig_array(F.col("hv"), k)
    return hv_df.select(
        F.col(id_col), *[F.element_at(sig, i + 1).alias(f"mh{i}") for i in range(k)]
    )


def band_keys_array(sig_col: Column, k: int = 16, bands: int = 4) -> Column:
    """Array of LSH band keys from a signature array: band b hashes the
    comma-joined decimal strings of its signature slice — matches
    functions.hashing.minhash_bands."""
    rows = k // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: portable_hash64_col(
            F.concat(
                F.lit("band"),
                b.cast("string"),
                F.lit(":"),
                F.array_join(
                    F.transform(
                        F.slice(sig_col, b * rows + 1, rows), lambda v: v.cast("string")
                    ),
                    ",",
                ),
            )
        ),
    )


def minhash_band_keys(
    sigs_or_docs: DataFrame, id_col: str = "doc_id", k: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, band_key) from a (id, mh0..mhk) signature table."""
    sig = F.array(*[F.col(f"mh{i}") for i in range(k)])
    return sigs_or_docs.select(
        F.col(id_col), F.posexplode(band_keys_array(sig, k, bands)).alias("band", "band_key")
    )


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays. |union| is derived
    as |a|+|b|-|inter| — half the cost of materializing array_union."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def dedup_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 64,
) -> DataFrame:
    """MinHash + LSH near-dup pairs with exact Jaccard verification.

    shingle -> signature -> band keys -> same-bucket self-join
    (id1 < id2) -> distinct candidate pairs -> exact shingle-set
    Jaccard >= threshold. Buckets wider than ``max_bucket`` are dropped
    defensively (degenerate content, e.g. empty docs) — at 100 TB a
    single mega-bucket would otherwise quadratically explode one task.
    Returns (id1, id2, jaccard).
    """
    # chained narrow projections (tokens -> shingles -> base hashes ->
    # signatures -> band keys): each array is materialized before the
    # next lambda touches it, so nothing is re-evaluated per element
    # (Catalyst does no CSE inside higher-order-function lambdas).
    # The shingle table feeds three consumers (band path + both sides
    # of the verify join) — localCheckpoint computes the md5s once
    # instead of three times (6.7 -> ~4 s warm at sf0.1); at 100 TB the
    # same role is played by a parquet stage snapshot. spread_partitions
    # keeps the md5 pass off a single task when the corpus fits one
    # scan split (see session.spread_partitions).
    sh_df, bands_df, widths = _minhash_core(docs, id_col, text_col, k, bands, n)
    return _minhash_pairs(sh_df, bands_df, widths, id_col, threshold, max_bucket)


def _minhash_core(docs, id_col, text_col, k, bands, n, checkpoint=True):
    """Shared shingle -> signature -> band-key -> bucket-width chain.
    ``checkpoint=False`` keeps the Arrow/md5 pass streaming for
    single-consumer callers (the standalone dropped-buckets audit);
    multi-consumer callers checkpoint so Python runs once."""
    from ..session import spread_partitions

    sh_df = shingle_table(spread_partitions(docs), id_col, text_col, n, hashed=True)
    if checkpoint:
        sh_df = sh_df.localCheckpoint(eager=True)
    sig_df = sh_df.select(F.col(id_col), minhash_sig_array(F.col("sh"), k).alias("sig"))
    bands_df = sig_df.select(
        F.col(id_col),
        F.posexplode(band_keys_array(F.col("sig"), k, bands)).alias("band", "band_key"),
    )
    # count-only width aggregation: the cap decision never materializes
    # a bucket's id list in an agg buffer — a degenerate mega-bucket
    # (empty docs at 100 TB) costs one long here, not one giant array
    widths = bands_df.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("width")
    )
    return sh_df, bands_df, widths


def _minhash_pairs(sh_df, bands_df, widths, id_col, threshold, max_bucket):
    sized = widths.where(
        (F.col("width") > 1) & (F.col("width") <= max_bucket)
    ).select("band", "band_key")
    kept = bands_df.join(sized, ["band", "band_key"])
    a = kept.select(F.col(id_col).alias("id1"), "band", "band_key")
    b2 = kept.select(F.col(id_col).alias("id2"), "band", "band_key")
    pairs = (
        a.join(b2, ["band", "band_key"])
        .where(F.col("id1") < F.col("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    sh = sh_df
    verified = (
        pairs.join(sh.select(F.col(id_col).alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(sh.select(F.col(id_col).alias("id2"), F.col("sh").alias("sh2")), "id2")
        .select("id1", "id2", F.round(jaccard_col(F.col("sh1"), F.col("sh2")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return verified


def dedup_minhash_with_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 64,
):
    """(pairs, dropped_buckets) from ONE shingle/md5 pass. Running
    :func:`dedup_minhash` and :func:`minhash_dropped_buckets` separately
    executes the corpus-scale Arrow pass twice — at 100 TB that is an
    entire extra pass per pipeline run; here both outputs derive from
    the same checkpointed shingle table and band-key chain (the width
    aggregation re-runs per consumer, but over the checkpoint — a
    JVM-side count shuffle, not the Python pass)."""
    sh_df, bands_df, widths = _minhash_core(docs, id_col, text_col, k, bands, n)
    pairs = _minhash_pairs(sh_df, bands_df, widths, id_col, threshold, max_bucket)
    return pairs, widths.where(F.col("width") > max_bucket)


@F.pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    """64-bit SimHash, Arrow-batched. numpy-vectorized bit accumulation
    (the per-token/per-bit Python loop of the reference implementation
    is ~5x slower); bit-identical to functions.hashing.simhash64,
    pinned by tests/test_training_ops.py."""
    import numpy as np

    from ..functions.hashing import portable_hash64

    lo_shifts = np.arange(60, dtype=np.uint64)
    hi_shifts = np.arange(4, dtype=np.uint64)

    def sh(t: str) -> int:
        toks = (t or "").lower().split()
        if not toks:
            return 0
        h1 = np.array([portable_hash64(tok) for tok in toks], dtype=np.uint64)
        h2 = np.array([portable_hash64(tok + "|hi") for tok in toks], dtype=np.uint64)
        ones_lo = ((h1[:, None] >> lo_shifts) & 1).sum(axis=0).astype(np.int64)
        ones_hi = ((h2[:, None] >> hi_shifts) & 1).sum(axis=0).astype(np.int64)
        # acc[bit] = ones - zeros = 2*ones - n; bit set iff acc > 0
        acc = np.concatenate([ones_lo, ones_hi]) * 2 - len(toks)
        v = 0
        for bit in np.nonzero(acc > 0)[0]:
            v |= 1 << int(bit)
        return _to_signed64(v)

    return text.map(sh)


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash_col(text_col: Column) -> Column:
    return simhash_udf(text_col)


def dedup_simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit simhash slices (a pair
    within hamming distance <= n_blocks-1 shares at least one block by
    pigeonhole), verify exact hamming distance.

    Buckets wider than ``max_bucket`` are dropped before the self-join
    (same guard as dedup_minhash): a hot block_key — e.g. simhash 0 for
    empty/near-empty docs — would otherwise make one bucket quadratic at
    100 TB. The width filter is a count-only aggregation joined back, so
    no aggregation buffer ever holds a full degenerate bucket either."""
    blocks, widths = _simhash_core(docs, id_col, text_col, n_blocks)
    return _simhash_pairs(blocks, widths, id_col, max_hamming, max_bucket)


def _simhash_core(docs, id_col, text_col, n_blocks, checkpoint=True):
    """Shared Arrow-simhash -> 16-bit-block -> bucket-width chain.
    ``checkpoint=True`` (multi-consumer callers) runs the Python pass
    exactly once over the corpus and spreads it off a single scan
    split; ``checkpoint=False`` keeps it streaming for the standalone
    single-consumer audit."""
    from ..session import spread_partitions

    with_sh = spread_partitions(docs).select(
        F.col(id_col), simhash_col(F.col(text_col)).alias("simhash")
    )
    if checkpoint:
        with_sh = with_sh.localCheckpoint(eager=True)
    blocks = with_sh.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(n_blocks)
                ]
            )
        ).alias("block", "block_key"),
    )
    widths = blocks.groupBy("block", "block_key").agg(F.count(F.lit(1)).alias("width"))
    return blocks, widths


def _simhash_pairs(blocks, widths, id_col, max_hamming, max_bucket):
    sized = widths.where(
        (F.col("width") > 1) & (F.col("width") <= max_bucket)
    ).select("block", "block_key")
    kept = blocks.join(sized, ["block", "block_key"])
    a = kept.select(
        F.col(id_col).alias("id1"), F.col("simhash").alias("sh1"), "block", "block_key"
    )
    b2 = kept.select(
        F.col(id_col).alias("id2"), F.col("simhash").alias("sh2"), "block", "block_key"
    )
    pairs = (
        a.join(b2, ["block", "block_key"])
        .where(F.col("id1") < F.col("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return pairs.select("id1", "id2", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def dedup_simhash_with_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_bucket: int = 64,
):
    """(pairs, dropped_buckets) from ONE Arrow simhash pass — twin of
    :func:`dedup_minhash_with_audit`; see there for why running the
    pair op and its audit separately doubles the corpus-scale Python
    work."""
    blocks, widths = _simhash_core(docs, id_col, text_col, n_blocks)
    pairs = _simhash_pairs(blocks, widths, id_col, max_hamming, max_bucket)
    return pairs, widths.where(F.col("width") > max_bucket)


def simhash_dropped_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_blocks: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Recall diagnostic for :func:`dedup_simhash`: the (block,
    block_key, width) buckets its width cap DROPS. With the cap, the
    pigeonhole guarantee (hamming <= n_blocks-1 implies a shared block)
    no longer implies a pair is emitted — a pair whose ONLY shared block
    is wider than ``max_bucket`` is silently lost. Run this (cheap:
    count-only aggregation, no self-join) to audit how much of the
    corpus sits in dropped buckets before trusting the recall; a large
    result means raise ``max_bucket`` (small corpora) or accept the
    documented bound (degenerate content at scale, e.g. simhash 0 for
    empty docs, where the pairs are uninteresting anyway). When the
    pair op ALSO runs in the same job, use
    :func:`dedup_simhash_with_audit` instead — it shares the Arrow
    pass; this standalone form re-executes it (streaming, unspilled:
    checkpoint=False, single consumer)."""
    _, widths = _simhash_core(docs, id_col, text_col, n_blocks, checkpoint=False)
    return widths.where(F.col("width") > max_bucket)


def minhash_dropped_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Recall diagnostic for :func:`dedup_minhash`, twin of
    :func:`simhash_dropped_buckets`: the (band, band_key, width) LSH
    buckets the width cap DROPS. A candidate pair whose ONLY shared
    band bucket is wider than ``max_bucket`` is silently lost; this
    count-only aggregation (no self-join, no id lists) makes that
    recall bound observable per run. When the pair op ALSO runs in the
    same job, use :func:`dedup_minhash_with_audit` instead — it shares
    the shingle/md5 pass."""
    _, _, widths = _minhash_core(docs, id_col, text_col, k, bands, n, checkpoint=False)
    return widths.where(F.col("width") > max_bucket)


def cosine_col(a: Column, b: Column) -> Column:
    # cast each float to double BEFORE multiplying: better numerics and
    # bit-identical to the DuckDB oracle's expression tree (queries.py)
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def dedup_embedding(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
    max_bucket: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on ``block_col`` (a
    coarse quantizer: label here; an IVF centroid assignment at scale —
    see similarity.ivf_assign). Returns (id1, id2, cosine).

    Blocks wider than ``max_bucket`` are dropped before the self-join —
    the same count-only width guard as dedup_minhash/dedup_simhash: a
    hot quantizer cell (one label holding millions of vectors at 100 TB)
    would otherwise go quadratic. The filter aggregates counts only (no
    buffer ever holds a full bucket) and joins the surviving keys back.
    Recall bound: a near-dup pair inside a dropped cell is NOT emitted —
    shrink cells (more centroids) rather than raising the cap."""
    sized = (
        embeddings.groupBy(F.col(block_col).alias("blk"))
        .agg(F.count(F.lit(1)).alias("width"))
        .where((F.col("width") > 1) & (F.col("width") <= max_bucket))
        .select("blk")
    )
    # within-block pair work is quadratic: spread a single-split corpus
    # by block before the self-join (session.spread_partitions no-ops on
    # a real multi-split scan). Width is bounded by the number of
    # distinct blocks — see the cardinality caveat in spread_partitions.
    from ..session import spread_partitions

    spread = spread_partitions(embeddings, block_col)
    a = spread.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id1"), F.col(vec_col).alias("v1")
    )
    b = spread.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id2"), F.col(vec_col).alias("v2")
    )
    return (
        a.join(sized, "blk").join(b, "blk")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(cosine_col(F.col("v1"), F.col("v2")), 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_dropped_buckets(
    embeddings: DataFrame,
    block_col: str = "label",
    max_bucket: int = 1024,
) -> DataFrame:
    """Recall diagnostic for :func:`dedup_embedding`, completing the
    family (:func:`simhash_dropped_buckets`,
    :func:`minhash_dropped_buckets`): the (block, width) quantizer
    cells its width cap DROPS. A near-dup pair inside a dropped cell is
    silently lost; this count-only aggregation makes that bound
    observable per run. Cheaper than its siblings — no hash pass, just
    one count over the blocking column; a large result means the
    quantizer is too coarse (more centroids), not that the cap should
    rise."""
    return (
        embeddings.groupBy(F.col(block_col).alias("block"))
        .agg(F.count(F.lit(1)).alias("width"))
        .where(F.col("width") > max_bucket)
    )


def dedup_ngram_jaccard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str = None,
    allow_full_cartesian: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup within blocks (brute force inside a
    block — the verification baseline for the MinHash path).

    Without a ``block_col`` the whole corpus is one block, i.e. a full
    O(n^2) cartesian — never viable at scale, so it must be requested
    explicitly with ``allow_full_cartesian=True`` (tiny verification
    runs only); otherwise pass a block column or use dedup_minhash.

    The blocked path hash-spreads the corpus by ``block_col`` BEFORE
    shingling (session.spread_partitions): the pair join's work is
    quadratic in block width, so a corpus that fits one scan split must
    not run its whole join on one task. The checkpointed shingle table
    keeps the spread width, so the join's streamed side (and the md5
    shingle pass) run across partitions; keying the spread by the
    block column keeps any re-exchange the join still plans co-located
    and cheap. Caveat (inherent to the equi join's co-location): a
    keyed spread hash-partitions by the block key, so with fewer
    distinct blocks than ~2x parallelism only that many tasks carry
    rows — full session-width execution needs a high-cardinality block
    column, not just the spread."""
    if block_col:
        from ..session import spread_partitions

        sh = shingle_table(
            spread_partitions(docs, block_col),
            id_col, text_col, n, block_col=block_col, hashed=True,
        )
    else:
        if not allow_full_cartesian:
            raise ValueError(
                "dedup_ngram_jaccard without block_col is a full O(n^2) "
                "cartesian; pass block_col=... or allow_full_cartesian=True "
                "for a small verification run (use dedup_minhash at scale)"
            )
        sh = shingle_table(docs, id_col, text_col, n, hashed=True).withColumn(
            "blk", F.lit(1)
        )
    # both sides of the self-join read the same shingle table — hash once
    sh = sh.localCheckpoint(eager=True)
    a = sh.select(F.col(id_col).alias("id1"), F.col("blk"), F.col("sh").alias("sh1"))
    b = sh.select(F.col(id_col).alias("id2"), F.col("blk"), F.col("sh").alias("sh2"))
    return (
        a.join(b, "blk")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(jaccard_col(F.col("sh1"), F.col("sh2")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_bucket: int = 64,
) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs: |A∩B| / |A| —
    the quote/inclusion detector Jaccard structurally misses. A short
    document pasted inside a long one has low Jaccard (the union is
    dominated by the long side) but containment ~1.0 from the short
    side, so MinHash-banded candidates (which estimate Jaccard) also
    under-sample exactly these pairs; candidates here come instead
    from shared exact shingles, which fire whenever ANY n-gram is
    common — the right generator for subset-shaped duplication
    (Broder 1997's containment coefficient).

    Returns (id1, id2, n_sh1, n_sh2, n_common, containment1 =
    common/|sh1|, containment2, contained_id) for pairs where the
    larger containment clears ``threshold``; ``contained_id`` is the
    more-contained side (tie -> id1, the lower id).

    Scale shape: the same count-only width guard as dedup_minhash /
    dedup_simhash — shingles shared by more than ``max_bucket`` docs
    (boilerplate n-grams, by far the hot keys of a web corpus) are
    dropped BEFORE the self-join, so no bucket goes quadratic and no
    aggregation buffer holds a degenerate bucket; recall bound: a
    contained pair whose EVERY shared shingle is boilerplate-wide is
    not emitted (audit with the dropped-width pattern if that
    matters). Verification joins the checkpointed distinct-shingle
    table back twice by id — exact intersection, pair-count-bounded
    work. All hashes engine-portable (DuckDB-replayable)."""
    sh = shingle_table(docs, id_col, text_col, n, hashed=True).localCheckpoint(
        eager=True
    )
    ex = sh.select(F.col(id_col).alias("id"), F.explode("sh").alias("g"))
    kept_keys = (
        ex.groupBy("g")
        .agg(F.count(F.lit(1)).alias("width"))
        .where((F.col("width") > 1) & (F.col("width") <= max_bucket))
        .select("g")
    )
    cand = ex.join(kept_keys, "g")
    pairs = (
        cand.select(F.col("id").alias("id1"), "g")
        .join(cand.select(F.col("id").alias("id2"), "g"), "g")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    j = (
        pairs.join(sh.select(F.col(id_col).alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(sh.select(F.col(id_col).alias("id2"), F.col("sh").alias("sh2")), "id2")
        .select(
            "id1",
            "id2",
            F.size("sh1").cast("long").alias("n_sh1"),
            F.size("sh2").cast("long").alias("n_sh2"),
            F.size(F.array_intersect("sh1", "sh2")).cast("long").alias("n_common"),
        )
    )
    c1 = F.round(F.col("n_common") / F.col("n_sh1"), 6)
    c2 = F.round(F.col("n_common") / F.col("n_sh2"), 6)
    return (
        j.select(
            "id1",
            "id2",
            "n_sh1",
            "n_sh2",
            "n_common",
            c1.alias("containment1"),
            c2.alias("containment2"),
            F.when(c1 >= c2, F.col("id1")).otherwise(F.col("id2")).alias("contained_id"),
        )
        .where(F.greatest(F.col("containment1"), F.col("containment2")) >= threshold)
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Turn near-dup PAIRS into actionable per-document drop decisions —
    the step that makes a pair-emitting dedup family (minhash / simhash /
    embedding) an actual corpus deduplicator: transitively-connected
    docs form one cluster, and exactly one survivor is elected per
    cluster (highest ``quality_col``, ties to the smallest id), the
    standard keep-the-best-copy policy of LLM training-data pipelines.

    pairs(id1, id2) -> undirected connected components
    (canon.connected_components_auto: driver union-find for
    dimension-sized pair sets, checkpointed min-label propagation at
    scale) -> left join back to the full corpus (singletons are their
    own cluster) -> one max_by election per cluster.

    Ids are compared as strings (component labels are the lexicographic
    min member), matching the SQL oracle's VARCHAR semantics; the
    election itself orders by (quality desc, id asc) so it never depends
    on the label rule. Returns (doc_id, cluster_id, is_survivor) —
    one row per input doc; downstream keeps ``is_survivor`` rows.

    Scale: the pair set is sparse (bounded by the LSH families' bucket
    caps), so CC runs over near-dup edges only, never the corpus; the
    corpus-wide work is one left join on id + one aggregation on
    cluster_id. Reference analogy: Surfactant's merge-by-hash keeps the
    first sighting (`_sbom.py:75-122`); this generalizes it to
    transitive *near*-identity with an explicit quality policy.
    """
    from .canon import connected_components_auto

    edges = pairs.select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    comp = connected_components_auto(edges, "id1", "id2")
    lab = (
        docs.select(F.col(id_col).cast("string").alias("doc_id"), F.col(quality_col))
        .join(comp, F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
            F.col(quality_col),
        )
    )
    # election as an AGGREGATION (min_by over a sort-struct), not a
    # row_number window: partial aggs combine map-side, no per-cluster
    # sort materializes (same shape as q_kg_edges' top-token pick)
    surv = lab.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id", F.struct((-F.col(quality_col)).alias("q"), F.col("doc_id"))
        ).alias("survivor")
    )
    return lab.join(surv, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("survivor")).alias("is_survivor"),
    )


def window_hash_array(toks: Column, w: int) -> Column:
    """Positional w-token window hashes (31-bit portable): element i is
    the hash of tokens [i, i+w) — ORDER-PRESERVING, unlike the
    de-duplicated shingle sets of the MinHash path, because the
    consumer needs token offsets. ``toks`` must be a materialized
    column reference (see shingles_from_toks on lambda CSE)."""
    k = F.size(toks)
    return F.when(k < w, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - w),
            lambda i: F.pmod(
                portable_hash64_col(F.concat_ws(" ", F.slice(toks, i + 1, w))),
                F.lit(_P31),
            ),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated token SPANS — the exact-substring
    dedup primitive (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): MinHash says two docs are similar
    overall; this says WHICH token ranges are verbatim-shared (boiler-
    plate, licenses, eval-set contamination), so a pipeline can excise
    spans instead of dropping whole documents.

    Plan: positional w-token window hashes (one narrow projection) ->
    countDistinct(doc) per hash -> hashes in >= min_docs docs joined
    back (one shuffle each, both on the window-hash key; every step is
    linear in total occurrences — nothing quadratic, no pair join) ->
    adjacent duplicate positions fused per doc by the gaps-and-islands
    fold (pos - row_number(), window bounded by one document's tokens).

    Returns (doc_id, span_start, span_end, n_windows): inclusive token
    offsets, span_end = last window start + w - 1.
    """
    from ..session import spread_partitions

    tok = tokenized(spread_partitions(docs), text_col, keep=(id_col,))
    win = tok.select(
        F.col(id_col),
        F.posexplode(window_hash_array(F.col("_toks"), w)).alias("pos", "wh"),
    )
    win = win.localCheckpoint(eager=True)  # feeds the count AND the join-back
    shared = (
        win.groupBy("wh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("wh")
    )
    dup = win.join(shared, "wh").select(id_col, "pos")
    return _fuse_spans(dup, id_col, w)


def _fuse_spans(dup: DataFrame, id_col: str, w: int) -> DataFrame:
    """Gaps-and-islands fold: adjacent duplicate window positions ->
    (id, span_start, span_end, n_windows); window bounded per doc."""
    from pyspark.sql import Window

    seq = F.row_number().over(Window.partitionBy(id_col).orderBy("pos"))
    return (
        dup.withColumn("grp", F.col("pos") - seq)
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


def contamination_spans(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = None,
    w: int = 8,
) -> DataFrame:
    """Eval-set DECONTAMINATION: token ranges of ``docs`` that appear
    verbatim (w-token windows) anywhere in ``probes`` (the held-out /
    benchmark texts). The asymmetric twin of duplicate_spans — training
    docs are scanned once against the probe windows, probe docs are
    never paired with each other, and the output names the training-side
    spans to excise before the corpus is trained on.

    Plan: distinct probe window hashes (an eval set is dimension-sized
    next to a training corpus — the join side AQE will broadcast) equi-
    joined against positional corpus window hashes, then the per-doc
    gaps-and-islands span fusion. One corpus-scale projection + one
    join keyed on the window hash; nothing quadratic.

    Returns (doc_id, span_start, span_end, n_windows) over ``docs``.
    """
    from ..session import spread_partitions

    ptc = probe_text_col or text_col
    pwin = (
        tokenized(probes, ptc)
        .select(F.explode(window_hash_array(F.col("_toks"), w)).alias("wh"))
        .dropDuplicates()
    )
    tok = tokenized(spread_partitions(docs), text_col, keep=(id_col,))
    twin = tok.select(
        F.col(id_col),
        F.posexplode(window_hash_array(F.col("_toks"), w)).alias("pos", "wh"),
    )
    hits = twin.join(pwin, "wh").select(id_col, "pos")
    return _fuse_spans(hits, id_col, w)


def line_dedup(
    pages: DataFrame,
    min_dups: int = 2,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """C4/RefinedWeb-style LINE-level dedup: a (trimmed, non-empty)
    line that occurs ``min_dups``-or-more times anywhere in the corpus
    keeps only its FIRST occurrence — ordered by (url, position) so
    the survivor is deterministic — and every other occurrence is
    excised; under-threshold lines always survive. Documents are then
    reconstructed from their surviving lines. This is the cleaning
    step that strips repeated navigation / cookie-banner / copyright
    lines without dropping whole documents (the reference dedups whole
    files by content hash, `_sbom.py:75-122`; line granularity is its
    web-corpus analogue). Returns (url, n_lines, n_kept, text_clean)
    — counts over non-empty lines; text_clean is '' when everything
    was excised.

    Spark shape: split + posexplode are ROW-LOCAL; the line statistics
    (occurrence count + first-occurrence owner) reduce with ONE
    map-side-combinable groupBy keyed on the line text — count plus
    min(struct(url, pos)), both partial-aggregable, so a hot line (the
    exact case this operator exists for: corpus-wide boilerplate
    occurring 10^9 times) never concentrates rows in one buffer the
    way a window-rank formulation would. The join back to occurrences
    is keyed on the same line text; AQE's skew-join splits hot lines
    and its broadcast kicks in when the distinct-line table is small.
    Reconstruction groups by url — bounded by one document's own line
    count. At 10^12 docs swap the join key for
    portable_hash64_col(line) to shrink shuffle width; semantics are
    unchanged (the fixture oracle keys on the string so DuckDB can
    replay verbatim).
    """
    ln = (
        pages.select(
            F.col(url_col).alias("url"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .select("url", "pos", F.trim(F.col("line")).alias("line"))
        .where(F.col("line") != "")
    )
    stats = ln.groupBy("line").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct(F.col("url").alias("u"), F.col("pos").alias("p"))).alias(
            "first"
        ),
    )
    kept = (F.col("n_occ") < min_dups) | (
        (F.col("first.u") == F.col("url")) & (F.col("first.p") == F.col("pos"))
    )
    return (
        ln.join(stats, "line")
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct(F.col("pos"), F.col("line")))
                        )
                    ),
                    lambda x: x.line,
                ),
                "\n",
            ).alias("text_clean"),
        )
    )


def dedup_fold(
    state: DataFrame,
    delta_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fold a newly ingested batch into a standing exact-dedup table:
    only the DELTA pays the sha+agg shuffle; the standing state merges
    through one equi join on the content hash (at cluster scale the
    state table is bucketed by content_sha256, so its side of the join
    never reshuffles — the incremental-ingest shape of the 100 TB
    dedup story, operators/incremental.py's IVM discipline applied to
    A1/J5).

    The merge is exact without ANY ordering precondition: canonical_id
    is the least of the two sides (Spark's least() skips nulls) and
    duplicate counts add, so fold(state, delta) == dedup_exact(full)
    for any split of the corpus — the fold-equals-rebuild identity is
    the oracle."""
    d = dedup_exact(delta_docs, id_col, text_col)
    s = state.select(
        "content_sha256",
        F.col("canonical_id").alias("_s_id"),
        F.col("n_dups").alias("_s_n"),
    )
    dd = d.select(
        "content_sha256",
        F.col("canonical_id").alias("_d_id"),
        F.col("n_dups").alias("_d_n"),
    )
    z = F.lit(0).cast("long")
    return s.join(dd, "content_sha256", "full_outer").select(
        "content_sha256",
        F.least("_s_id", "_d_id").alias("canonical_id"),
        (F.coalesce("_s_n", z) + F.coalesce("_d_n", z))
        .cast("long")
        .alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al. 2003 — the MOSS primitive)
# ---------------------------------------------------------------------------
def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "win:v1",
) -> DataFrame:
    """Winnowing document fingerprints: hash every ``k``-token shingle,
    slide a ``w``-hash window, keep each window's minimum — the MOSS
    plagiarism-detection primitive with the GUARANTEE MinHash lacks:
    any shared token run of length >= w + k - 1 shares at least one
    selected fingerprint (local selection; MinHash's global minima
    carry no locality guarantee). Returns distinct (doc_id, pos,
    fp_hash); documents with fewer than w shingles emit none (the
    guarantee's floor — shorter overlaps are dup_spans' regime).
    Equal hashes DO occur inside windows whenever a shingle repeats
    ("a a a a"), so the tie-break is standard winnowing's, made
    explicit: the RIGHTMOST minimal hash wins — one deterministic (hash
    asc, position desc) ordering in every engine, never an unspecified
    arg-min. (Robust winnowing would instead re-select the previous
    window's fingerprint when it is still a minimum; that stateful
    variant is not implemented.)

    Spark shape: shingle hashes are row-local; each position explodes
    to the <= w full windows covering it (bounded fan-out w — the
    banded-minhash discipline), then ONE (doc, window)-keyed
    aggregation picks the minimum. No window function over the corpus,
    no self-join."""
    if k < 1 or w < 2:
        raise ValueError("k must be >= 1 and w >= 2")
    tok = tokenized(docs, text_col, keep=(id_col,))
    toks = F.filter(F.col("_toks"), lambda t: t != "")
    n = F.size(toks)
    grams = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i.cast("int"), k)
        ),
    )).otherwise(F.array().cast("array<string>"))
    ex = (
        tok.select(F.col(id_col), F.posexplode(grams).alias("_p0", "g"))
        .select(
            id_col,
            (F.col("_p0") + 1).alias("pos"),
            portable_hash64_col(
                F.concat(F.lit(salt + ":"), F.col("g"))
            ).alias("h"),
        )
    )
    # G = shingle count per doc rides along scan-side for window bounds
    g_cnt = tok.select(
        F.col(id_col),
        (F.greatest(n - k + 1, F.lit(0))).cast("long").alias("_g"),
    )
    wins = (
        ex.join(g_cnt, id_col)
        .where(F.col("_g") >= w)
        .select(
            id_col,
            "pos",
            "h",
            F.explode(
                F.sequence(
                    F.greatest(F.col("pos") - (w - 1), F.lit(1)).cast("long"),
                    F.least(F.col("pos").cast("long"), F.col("_g") - (w - 1)),
                )
            ).alias("s"),
        )
        .where(F.col("s") >= 1)
    )
    sel = wins.groupBy(id_col, "s").agg(
        F.min(
            F.struct(F.col("h"), (-F.col("pos")).alias("np"))
        ).alias("_sel")
    )
    return sel.select(
        id_col,
        (-F.col("_sel.np")).cast("int").alias("pos"),
        F.col("_sel.h").alias("fp_hash"),
    ).dropDuplicates()


def winnow_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    max_bucket: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints, with the shared
    count — the overlap product MOSS reports. Fingerprint-keyed equi
    join with ubiquitous hashes dropped at ``max_bucket`` (boilerplate
    shingles every page carries; the simhash width-cap discipline).
    Returns (id1, id2, n_shared)."""
    fp = winnow_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    ).select(F.col(id_col).alias("id"), "fp_hash").dropDuplicates()
    ok = (
        fp.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("_w"))
        .where((F.col("_w") > 1) & (F.col("_w") <= max_bucket))
        .select("fp_hash")
    )
    kept = fp.join(ok, "fp_hash")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id1"), F.col("b.id").alias("id2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
