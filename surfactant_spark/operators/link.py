"""Stage 2b — entity linking (the join stage).

The reference establishes relationships with an O(n^2) scan of the whole
SBOM per dependency (`surfactant/relationships/__init__.py:12-30`). Here
every family becomes *generate probe keys -> explode -> equi join*:

- J4 (Java import/export, `relationships/java_relationship.py:11-51`)
  -> broadcast hash join of mentions against the alias/export dictionary;
- J1 (ELF, `relationships/elf_relationship.py:41-198`),
  J2 (PE, `relationships/pe_relationship.py:19-78`),
  J3 (.NET, `relationships/dotnet_relationship.py:20-243`)
  -> Arrow-batched probe-path expansion (pure fns in functions/elf.py,
  functions/winpaths.py) exploded and hash-joined against the node
  table exploded by installPath.

Scale notes: probe->node joins shuffle on normalized path strings; hot
keys (default lib dirs, hot domains) are handled by AQE skew-join plus
the explicit ``salted_join`` helper for the non-broadcastable case.
"""

from __future__ import annotations

import json
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.elf import elf_probe_pairs
from ..functions.paths import win_norm
from ..functions.winpaths import (
    dotnet_assemblyref_probe_keys,
    dotnet_codebase_probe_keys,
    dotnet_implmap_probe_keys,
    parse_private_paths,
)

PROBE_SCHEMA = T.StructType(
    [
        T.StructField("uuid", T.StringType()),
        T.StructField("fname", T.StringType()),
        T.StructField("probe_path", T.StringType()),
    ]
)


# --------------------------------------------------------------------------
# generic skew helper
# --------------------------------------------------------------------------
def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi join: replicate the small side n_salt times,
    give each big row a deterministic salt (hash of the whole row's key
    + a disambiguator column if present), join on (key, salt).

    Use when the small side is too large to broadcast and the key
    distribution is hot (north_star: hot-domain skew). Deterministic —
    no rand(), so retries produce identical results.
    """
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salt))
    )
    small_s = small.withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(n_salt)])))
    return big_s.join(small_s, on=[key, "_salt"], how=how).drop("_salt")


# --------------------------------------------------------------------------
# web-corpus linking (the flagship path)
# --------------------------------------------------------------------------
def exporters_table(extracted: DataFrame, alias_canon: DataFrame) -> DataFrame:
    """(entity, canon_uuid) — which canonical node exports which
    canonical entity. ``alias_canon`` is (alias, entity) AFTER
    connected-components canonicalization (canon.alias_entity_map)."""
    from .identity import canon_uuid_col

    return (
        extracted.where(F.col("title") != "")
        .select(
            canon_uuid_col(F.col("content_sha256")).alias("canon_uuid"),
            F.col("title").alias("alias"),
        )
        .join(alias_canon, "alias")
        .select("entity", "canon_uuid")
        .dropDuplicates()
    )


def link_extracted(
    extracted: DataFrame,
    alias_canon: DataFrame,
    exporters: DataFrame,
    n_salt: int = 0,
) -> DataFrame:
    """extracted -> edges (subj_uuid, pred, obj_uuid, n_evidence, sources).

    One probe of the dictionary side per predicate (J4 pattern):

    - Uses-mentions resolve alias -> canonical entity -> every exporter
      node of that entity. Both hops are inner, null-intolerant equi
      joins, so they reorder freely (*Complete Join Reordering for
      Null-Intolerant Joins*): ``alias_canon ⋈ exporters`` is joined
      first, on the dictionary side, into one ``alias -> obj_uuid`` map
      (one row per alias and exporter node, since ``alias_canon`` has
      one row per alias and ``exporters`` is deduplicated), and the
      mentions probe it once instead of twice.
    - Contains-mentions (bundle links) resolve the mentioned url through
      the url -> uuid map. It stays a probe of its own: merged with the
      Uses map into one ``(pred, alias)`` dimension it would save one
      job here, but that dimension would be corpus-sized (every url),
      where the Uses map stays dictionary-sized and broadcastable at web
      scale.

    The joins are left to AQE: it broadcasts when the runtime size is
    genuinely small and falls back to shuffle otherwise — a *forced*
    broadcast of a half-million-row export table measurably loses to
    the shuffle join (serialized driver-side hash build). With
    ``n_salt > 0`` the Uses probe is a :func:`salted_join` (hot alias
    keys). The subject UUID is derived inline from the row's own
    content hash — no join against a url map for the Uses path.
    Self-edges dropped (`java_relationship.py:47`); (subj,pred,obj)
    dedup-aggregated (`_sbom.py:33` set semantics) with evidence kept.
    """
    from .identity import canon_uuid_col

    m = extracted.select(
        canon_uuid_col(F.col("content_sha256")).alias("subj_uuid"),
        "url",
        F.explode("mentions").alias("m"),
    ).select(
        "subj_uuid",
        "url",
        F.col("m.pred").alias("pred"),
        F.col("m.alias").alias("alias"),
    )

    uses_map = alias_canon.join(exporters, "entity").select(
        "alias", F.col("canon_uuid").alias("obj_uuid")
    )
    mu = m.where(F.col("pred") == "Uses")
    if n_salt > 0:
        # hot-domain skew: a handful of aliases carry most mentions;
        # replicate the map n_salt ways and spread the big side
        # deterministically (north-rule salted dictionary join)
        uses = salted_join(mu, uses_map, "alias", n_salt=n_salt)
    else:
        uses = mu.join(uses_map, "alias")

    url_map = extracted.select(
        F.col("url").alias("alias"),
        canon_uuid_col(F.col("content_sha256")).alias("obj_uuid"),
    )
    contains = m.where(F.col("pred") == "Contains").join(url_map, "alias")

    both = uses.select("subj_uuid", "pred", "obj_uuid", "url").unionByName(
        contains.select("subj_uuid", "pred", "obj_uuid", "url")
    )
    return (
        both.where(F.col("subj_uuid") != F.col("obj_uuid"))
        .groupBy("subj_uuid", "pred", "obj_uuid")
        .agg(F.array_sort(F.collect_set("url")).alias("sources"))
        .withColumn("n_evidence", F.size("sources").cast("long"))
    )


# --------------------------------------------------------------------------
# reference-family linkers over SOFTWARE_NODES fixture tables
# (uuid, fileName array, installPath array, metadata_json)
# --------------------------------------------------------------------------
def _iter_meta(pdf: pd.DataFrame):
    for uuid, ipaths, meta in zip(pdf["uuid"], pdf["installPath"], pdf["metadata_json"]):
        try:
            md = json.loads(meta) if meta else {}
        except (TypeError, ValueError):
            md = {}
        ipaths = list(ipaths) if ipaths is not None else []
        yield uuid, ipaths, md


def elf_probe_rows(uuid: str, ipaths: List[str], md: dict) -> List[tuple]:
    """One node's ELF probes as (uuid, fname, probe_path) rows — shared
    by the Spark mapInPandas batches and the fixture-staging oracle so
    both sides generate identical probe keys by construction."""
    rows: List[tuple] = []
    if "elfDependencies" not in md:
        return rows
    flags1 = md.get("elfDynamicFlags1")
    nodeflib = bool(flags1.get("DF_1_NODEFLIB")) if isinstance(flags1, dict) else False
    for dep in md["elfDependencies"]:
        for fname, fpath in elf_probe_pairs(
            ipaths, dep, md.get("elfRpath"), md.get("elfRunpath"), nodeflib
        ):
            rows.append((uuid, fname, fpath))
    return rows


def pe_probe_rows(uuid: str, ipaths: List[str], md: dict) -> List[tuple]:
    from ..functions.winpaths import pe_probe_keys

    rows: List[tuple] = []
    for key in ("peImport", "peBoundImport", "peDelayImport"):
        for fname in md.get(key) or []:
            for probe in pe_probe_keys(ipaths, fname):
                rows.append((uuid, fname, probe))
    return rows


def dotnet_probe_rows(uuid: str, ipaths: List[str], md: dict) -> List[tuple]:
    rows: List[tuple] = []
    if "dotnetAssemblyRef" not in md:
        return rows
    probing_paths = None
    wac = md.get("appConfigFile") or {}
    binding = (wac.get("runtime") or {}).get("assemblyBinding") or {}
    dep_assemblies = binding.get("dependentAssembly")
    probing = binding.get("probing") or {}
    if "privatePath" in probing:
        probing_paths = parse_private_paths(probing["privatePath"])

    if "dotnetImplMap" in md:
        for asm_ref in md["dotnetImplMap"]:
            if "Name" not in asm_ref:
                continue
            for probe in dotnet_implmap_probe_keys(ipaths, asm_ref["Name"]):
                rows.append((uuid, asm_ref["Name"], probe))

    for asm_ref in md["dotnetAssemblyRef"]:
        if "Name" not in asm_ref:
            continue
        name = asm_ref["Name"]
        culture = asm_ref.get("Culture")
        if dep_assemblies is not None:
            for dep in dep_assemblies:
                href = (dep.get("codeBase") or {}).get("href")
                if href and not href.startswith(("http://", "https://", "file://")):
                    for probe in dotnet_codebase_probe_keys(ipaths, href):
                        rows.append((uuid, name, probe))
        for probe in dotnet_assemblyref_probe_keys(ipaths, name, culture, probing_paths):
            rows.append((uuid, name, probe))
    return rows


def _make_probe_batches(row_fn):
    def batches_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: List[tuple] = []
            for uuid, ipaths, md in _iter_meta(pdf):
                rows.extend(row_fn(uuid, ipaths, md))
            yield pd.DataFrame(rows, columns=["uuid", "fname", "probe_path"])

    return batches_fn


_elf_probe_batches = _make_probe_batches(elf_probe_rows)
_pe_probe_batches = _make_probe_batches(pe_probe_rows)
_dotnet_probe_batches = _make_probe_batches(dotnet_probe_rows)


@F.pandas_udf(T.ArrayType(T.StringType()))
def win_norm_paths_udf(paths: pd.Series) -> pd.Series:
    return paths.map(lambda arr: [win_norm(p) for p in (arr if arr is not None else [])])


@F.pandas_udf(T.StringType())
def posix_normpath_udf(paths: pd.Series) -> pd.Series:
    """F10 as a column operator: the reference's posix normpath
    contract (`_internal/posix_utils.py:9-31`), Arrow-batched.
    NULL in -> NULL out (na_action: general path tables carry NULLs)."""
    from ..functions.paths import posix_normpath

    return paths.map(posix_normpath, na_action="ignore")


@F.pandas_udf(T.StringType())
def win_norm_udf(paths: pd.Series) -> pd.Series:
    """Scalar win_norm (case/separator-insensitive canonical key,
    `windows_utils.py:35-38`), Arrow-batched. NULL in -> NULL out."""
    return paths.map(win_norm, na_action="ignore")


def _nodes_by_install_path(nodes: DataFrame, windows: bool) -> DataFrame:
    """Explode node installPaths to the join build side. For Windows
    families the key is case-folded (`windows_utils.py:35-38`); for
    POSIX families the raw string is the key (the reference compares
    generated probes against raw installPath strings,
    `elf_relationship.py:96-103`)."""
    if windows:
        exploded = nodes.select(
            F.col("uuid").alias("target_uuid"),
            F.explode(win_norm_paths_udf(F.col("installPath"))).alias("probe_path"),
        )
    else:
        exploded = nodes.select(
            F.col("uuid").alias("target_uuid"),
            F.explode("installPath").alias("probe_path"),
        )
    return exploded


def _probe_join(
    probes: DataFrame,
    nodes: DataFrame,
    windows: bool,
    check_filename: bool,
) -> DataFrame:
    """probe (uuid, fname, probe_path) |><| nodes-by-installPath, with
    the ELF family's extra ``fname in target.fileName`` membership check
    (`elf_relationship.py:93-96`)."""
    targets = _nodes_by_install_path(nodes, windows)
    joined = probes.join(targets, "probe_path")
    if check_filename:
        fnames = nodes.select(
            F.col("uuid").alias("target_uuid"), F.col("fileName").alias("_target_fnames")
        )
        joined = joined.join(fnames, "target_uuid").where(
            F.array_contains(F.col("_target_fnames"), F.col("fname"))
        )
    return (
        joined.where(F.col("uuid") != F.col("target_uuid"))
        .select(
            F.col("uuid").alias("subj"),
            F.lit("Uses").alias("pred"),
            F.col("target_uuid").alias("obj"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )


def link_elf(nodes: DataFrame) -> DataFrame:
    """J1 — ELF dependency resolution as explode + equi join."""
    probes = nodes.mapInPandas(_elf_probe_batches, schema=PROBE_SCHEMA)
    return _probe_join(probes, nodes, windows=False, check_filename=True)


def link_pe(nodes: DataFrame) -> DataFrame:
    """J2 — PE import resolution; case-insensitive full-path equality,
    no separate fileName check (`windows_utils.py:18-39`)."""
    probes = nodes.mapInPandas(_pe_probe_batches, schema=PROBE_SCHEMA)
    return _probe_join(probes, nodes, windows=True, check_filename=False)


def link_dotnet(nodes: DataFrame) -> DataFrame:
    """J3 — .NET assemblyRef/ImplMap/codeBase probing."""
    probes = nodes.mapInPandas(_dotnet_probe_batches, schema=PROBE_SCHEMA)
    return _probe_join(probes, nodes, windows=True, check_filename=False)


def link_java(nodes: DataFrame) -> DataFrame:
    """J4 — Java import->export linking: the cleanest broadcast join.

    Exports dictionary (symbol -> supplier uuid) built once and
    broadcast (`java_relationship.py:11-32` memoized dict); imports
    equi-join it on symbol; self-edges excluded. Where several nodes
    export one symbol the reference's dict keeps the *last* in list
    order — order is meaningless in a distributed table, so we keep the
    deterministic min(uuid) supplier instead.
    """
    meta = F.from_json(
        F.col("metadata_json"),
        "struct<javaClasses: map<string, struct<javaExports: array<string>, javaImports: array<string>>>>",
    )
    parsed = nodes.select("uuid", meta.alias("_m")).where(F.col("_m.javaClasses").isNotNull())
    classes = parsed.select("uuid", F.explode(F.col("_m.javaClasses")).alias("cls", "info"))
    exports = (
        classes.select("uuid", F.explode("info.javaExports").alias("symbol"))
        .groupBy("symbol")
        .agg(F.min("uuid").alias("supplier_uuid"))
    )
    imports = classes.select("uuid", F.explode("info.javaImports").alias("symbol"))
    return (
        imports.join(F.broadcast(exports), "symbol")
        .where(F.col("uuid") != F.col("supplier_uuid"))
        .select(
            F.col("uuid").alias("subj"),
            F.lit("Uses").alias("pred"),
            F.col("supplier_uuid").alias("obj"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
