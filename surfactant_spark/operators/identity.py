"""Stage 2a — content-hash dedup + deterministic canonical identity.

The analogue of the reference's sha256-indexed dedup-merge
(`surfactant/sbomtypes/_sbom.py:75-122`, `_software.py:107-155`): all
sightings of the same content collapse into one node, first-sighting
wins for time-like fields, array fields union. Expressed as ONE
hash aggregation on sha256 (map-side partial agg + single shuffle) —
the set-at-a-time form of the reference's per-entry index lookup.

Canonical UUIDs are uuid5(namespace, sha256)
(`functions/hashing.canon_uuid`) — deterministic, so retries/resume are
idempotent; see hashing.py docstring for why this diverges from the
reference's uuid4.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.hashing import SURFACTANT_SPARK_NS


def _uuid5_col(name_col: Column) -> Column:
    """RFC-4122 uuid5 as a pure JVM expression: SHA-1 of
    (namespace bytes || name), hex-sliced into 8-4-4-4-12 with the
    version nibble forced to 5 and the variant nibble to 8..b.
    Identical to Python's ``uuid.uuid5`` (functions/hashing.canon_uuid)
    but with zero Python round-trip — the identity path stays inside
    whole-stage codegen."""
    h = F.sha1(F.concat(F.lit(SURFACTANT_SPARK_NS.bytes), F.encode(name_col, "UTF-8")))
    variant = F.element_at(
        F.array(F.lit("8"), F.lit("9"), F.lit("a"), F.lit("b")),
        (F.conv(F.substring(h, 17, 1), 16, 10).cast("int") % 4) + 1,
    )
    return F.concat(
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"),
        F.lit("5"), F.substring(h, 14, 3), F.lit("-"),
        variant, F.substring(h, 18, 3), F.lit("-"),
        F.substring(h, 21, 12),
    )


def canon_uuid_col(sha256_col: Column) -> Column:
    """JVM twin of functions.hashing.canon_uuid (uuid5 of the content
    hash); parity pinned by tests/test_extract_identity.py."""
    return _uuid5_col(F.concat(F.lit("sha256:"), sha256_col))


def entity_uuid_col(name_col: Column) -> Column:
    """JVM twin of functions.hashing.entity_uuid."""
    return _uuid5_col(F.concat(F.lit("entity:"), name_col))


def dedup_nodes(extracted: DataFrame) -> DataFrame:
    """extracted -> nodes: one row per distinct content (sha256).

    - canon_uuid: uuid5 of sha256 (order-free, deterministic);
    - names: distinct non-empty titles (array_sort for determinism);
    - aliases: every url the content was seen under (the reference
      keeps all fileName/installPath sightings, `_software.py:121-153`);
    - first_seen: min warc_ts (first-sighting-wins,
      `_software.py:112-113`);
    - n_sources: distinct urls, read off ``aliases`` as its size —
      ``collect_set`` and ``countDistinct`` both skip nulls, so they
      agree, and a ``countDistinct`` would add a second aggregation
      level with its own exchange (one more Spark job).
    """
    return (
        extracted.groupBy("content_sha256")
        .agg(
            F.array_sort(F.filter(F.collect_set("title"), lambda x: x != F.lit(""))).alias(
                "names"
            ),
            F.array_sort(F.collect_set("url")).alias("aliases"),
            F.min("warc_ts").alias("first_seen"),
        )
        .select(
            canon_uuid_col(F.col("content_sha256")).alias("canon_uuid"),
            F.col("content_sha256").alias("sha256"),
            "names",
            "aliases",
            "first_seen",
            F.size("aliases").cast("long").alias("n_sources"),
        )
    )


def url_to_canon(extracted: DataFrame) -> DataFrame:
    """(url, canon_uuid) mapping — the rewrite map applied to mention
    endpoints (the analogue of uuid_updates, `_sbom.py:173-231`)."""
    return extracted.select(
        "url", canon_uuid_col(F.col("content_sha256")).alias("canon_uuid")
    )


def hash_collision_audit(nodes_raw: DataFrame) -> DataFrame:
    """A5 — flag same-sha256 rows whose other identity fields disagree
    (`_software.py:157-174`). Input: any table with sha256 + size/md5.
    Output: (sha256, n_variants) for groups with >1 distinct identity."""
    other_cols = [c for c in ("size", "md5", "sha1") if c in nodes_raw.columns]
    if not other_cols:
        raise ValueError("audit needs at least one of size/md5/sha1")
    return (
        nodes_raw.groupBy("sha256")
        .agg(F.countDistinct(*other_cols).alias("n_variants"))
        .where(F.col("n_variants") > 1)
    )
