"""Interval-lookup (range) join decomposed into an equi join — the
geo-IP/CIDR enrichment pattern every web pipeline ships (map a page's
client/server address onto a network-block dimension, an event onto a
validity interval, a position onto a genomic bin).

Spark has no native range-join optimization: a naive
``facts JOIN dims ON key BETWEEN lo AND hi`` lowers to
BroadcastNestedLoopJoin — O(|facts| x |dims|) comparisons, the exact
shape the dedup/ANN families were built to avoid. The scalable
decomposition: pick a bucket width, explode each dim interval to the
buckets it covers (dimension-side fan-out, bounded by interval width /
bucket width), compute each fact's bucket scan-side, equi-join on the
bucket, and re-check the precise range predicate as a post-join
filter. The equi join hash-partitions like any other join — AQE can
broadcast the exploded dimension — and the nested loop disappears.

The DuckDB oracle runs the NAIVE BETWEEN join: two different
algorithms agreeing row-for-row is the correctness claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 2^16-wide buckets: a /16 in IPv4 terms. Dim fan-out per interval is
# ceil(width / 65536) + 1 — one row per covered /16.
DEFAULT_BUCKET_BITS = 16


def bucketed_range_join(
    facts: DataFrame,
    dims: DataFrame,
    key_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_bits: int = DEFAULT_BUCKET_BITS,
    how: str = "left",
    max_fanout: int = 4096,
) -> DataFrame:
    """Join every fact row onto the dim interval containing
    ``key_col`` (inclusive bounds). Dims whose bucket fan-out exceeds
    ``max_fanout`` (an interval spanning > max_fanout buckets — a
    mis-sized bucket width for the data) raise rather than silently
    exploding the dimension. Overlapping intervals produce one output
    row per match, exactly like the naive join; ``how='left'`` keeps
    unmatched facts with null dim columns.

    All fact columns survive; dim lo/hi survive too (callers often
    want the matched block's bounds). Null keys/bounds never match, and
    neither does an empty interval (hi < lo). Keys and bounds may be
    negative: bucket ids come from an arithmetic shift, so they keep
    the keys' order."""
    if bucket_bits < 1 or bucket_bits > 40:
        raise ValueError("bucket_bits must be in [1, 40]")
    lo_bkt = F.shiftright(F.col(lo_col).cast("long"), bucket_bits)
    hi_bkt = F.shiftright(F.col(hi_col).cast("long"), bucket_bits)
    dims = dims.where(F.col(lo_col) <= F.col(hi_col))
    if dims.where(hi_bkt - lo_bkt >= F.lit(max_fanout)).limit(1).count():
        raise ValueError(
            f"dim interval spans more than max_fanout={max_fanout} buckets; "
            f"raise bucket_bits or split the interval"
        )
    exploded = dims.select("*", F.explode(F.sequence(lo_bkt, hi_bkt)).alias("_bkt"))
    keyed = facts.withColumn(
        "_bkt", F.shiftright(F.col(key_col).cast("long"), bucket_bits)
    )
    # no forced broadcast: AQE picks broadcast for small exploded dims
    # and shuffle-hash for planet-scale ones (the canon.py precedent)
    joined = keyed.join(
        exploded,
        on=(keyed["_bkt"] == exploded["_bkt"])
        & (keyed[key_col] >= exploded[lo_col])
        & (keyed[key_col] <= exploded[hi_col]),
        how=how,
    )
    return joined.drop("_bkt")
