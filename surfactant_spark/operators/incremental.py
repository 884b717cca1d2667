"""Incremental KG maintenance: fold an append-only crawl batch into
existing knowledge-graph state without recomputing the graph.

At 10^12 documents the KG is never rebuilt from scratch — each crawl
batch must fold into the standing nodes/edges tables. This module
maintains the flagship token-mention KG (queries.q_kg_edges) under
append-only batches as incremental view maintenance of its two-sided
mention->exporter join:

    state = (canon, mentions, exporters, edges)

    fold(state, delta_docs):
      canon'     = canon     ∪ (canon(delta)  ⟂ canon     on sha)
      exporters' = exporters ∪ (exp(delta)    ⟂ exporters on tok)
      Δedges     = mentions_old ⋈ exp_added        -- broadcast probe
                 ∪ mentions(delta) ⋈ exporters'    -- delta-sized join
      edges'     = semigroup re-agg of edges ∪ Δedge partials
      mentions'  = mentions ∪ mentions(delta)

Scale shape: NOTHING old ever shuffles. Standing mentions are scanned
once with a *broadcast* semi-probe of the (dimension-sized) set of
newly-appeared exporter tokens; the only shuffled inputs are the delta
itself and the standing per-(subj, obj) edge aggregates (far smaller
than mention-level data). On a real deployment each state table is an
Iceberg table and the edge re-agg is a MERGE INTO keyed by
(subj_id, obj_id); here state tables are DataFrames/parquet snapshots
(plans/pipeline.py's stage-snapshot pattern).

Correctness precondition (asserted in tests): batches are append-only
with strictly increasing doc_ids. Under that ordering
  - an old sha group's canonical (min doc_id) can never change, and
  - an existing exporter token's owner (min canonical_id) can never
    change, because a delta doc either carries an old sha (same text,
    same top token, same canonical — the mapping already exists) or a
    new sha whose canonical is a fresh, larger id.
So folds touch only *added* canon/exporter rows, and fold-equals-full-
rebuild is exact (oracle: the kg_incremental query replays against the
same SQL as kg_edges). Reference analogue: Surfactant merges a new
SBOM into an existing graph by UUID reconciliation rather than
re-scanning old specimens (`surfactant/cmd/merge.py`).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

# the KG token grammar, defined once: queries.py and operators/sketch.py
# import it from here
TOKEN_PAT = r"[a-z][a-z0-9_.\-]{3,}"

# Per-edge evidence arrays are BOUNDED: a hot edge (every doc mentioning
# a stop-token-like entity) would otherwise concentrate millions of URLs
# into one aggregation buffer and one output row — the same buffer-blowup
# class the dedup families cap. ``n_evidence`` stays EXACT (a count);
# ``src_arr`` keeps only the lexicographically-first N urls.
EVIDENCE_CAP = 1000


@dataclass
class KgState:
    """Standing KG state between crawl batches. ``edges`` keeps the
    exact evidence count plus a capped sorted evidence-url array; the
    query surface joins the array to the driver-hashable string form.

    ``mentions_delta`` is THIS batch's mention rows alone (build: the
    whole corpus; fold: just the delta) — the append-only unit a
    persistent store writes per batch, so standing mentions are never
    rewritten (canon/exporters/edges are compact — dimension- or
    aggregate-sized — and cheap to rewrite per version; mention rows
    are corpus-sized and must only ever append)."""

    canon: DataFrame      # sha, canonical_id
    mentions: DataFrame   # subj_id, url, tok (distinct per doc)
    exporters: DataFrame  # tok, obj_id
    edges: DataFrame      # subj_id, obj_id, n_evidence, src_arr (capped)
    mentions_delta: Optional[DataFrame] = None


def prepare_base(docs: DataFrame, token_pat: str = TOKEN_PAT) -> DataFrame:
    """documents-shaped (doc_id, source, text) -> (doc_id, url, sha,
    toks), the _kg_base projection."""
    return docs.select(
        "doc_id",
        F.concat("source", F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
        F.sha2(F.col("text"), 256).alias("sha"),
        F.regexp_extract_all(F.lower("text"), F.lit(token_pat), 0).alias("toks"),
    )


def _batch_parts(base: DataFrame, canon_all: DataFrame):
    """Per-batch mention rows and exporter candidates, both resolved
    against the FULL canon map (a delta doc duplicating an old sha must
    take the old canonical id)."""
    base2 = base.join(canon_all, "sha")
    tok_counts = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # min_by over (-cnt, tok) == "order by cnt desc, tok asc, pick 1"
    # as an AGGREGATION: partial aggs combine map-side and no per-doc
    # sort runs — unlike a row_number window (measured ~30% faster, and
    # the scalable shape at 10^12 docs)
    top = tok_counts.groupBy("doc_id").agg(
        F.min_by("tok", F.struct((-F.col("cnt")).alias("nc"), F.col("tok"))).alias(
            "top_token"
        )
    )
    exp = (
        top.join(base2.select("doc_id", "canonical_id"), "doc_id")
        .groupBy(F.col("top_token").alias("tok"))
        .agg(F.min("canonical_id").alias("obj_id"))
    )
    ments = base2.select(
        F.col("canonical_id").alias("subj_id"),
        "url",
        F.explode(F.array_distinct("toks")).alias("tok"),
    )
    return ments, exp


def _edge_partials(
    ments: DataFrame, exporters: DataFrame, evidence_cap: int = EVIDENCE_CAP
) -> DataFrame:
    """Per-(subj, obj) evidence partial with a BOUNDED aggregation
    buffer: dense_rank over the sort-based (spillable) window both
    yields the exact distinct-url count (max rank — the same url via
    two tokens shares one rank) and lets collect_set keep only the
    first ``evidence_cap`` urls, so no per-edge buffer or output row
    ever holds more than ``evidence_cap`` entries no matter how hot
    the edge. The groupBy keys match the window partition keys, so the
    aggregation reuses the window's exchange (one shuffle total)."""
    w = Window.partitionBy("subj_id", "obj_id").orderBy("url")
    return (
        ments.join(exporters, "tok")
        .where(F.col("subj_id") != F.col("obj_id"))
        .select("subj_id", "obj_id", "url")
        .withColumn("dr", F.dense_rank().over(w))
        .groupBy("subj_id", "obj_id")
        .agg(
            F.max("dr").cast("long").alias("n_evidence"),
            F.array_sort(
                F.collect_set(F.when(F.col("dr") <= evidence_cap, F.col("url")))
            ).alias("src_arr"),
        )
    )


def _merge_edges(*parts: DataFrame, evidence_cap: int = EVIDENCE_CAP) -> DataFrame:
    """Semigroup merge of per-(subj, obj) evidence partials.

    Exactness under the cap rests on the partials being pairwise
    DISJOINT in their (subj, obj, url) contributions, which the
    append-only invariant guarantees:

    - standing edges vs old_hits: every exp_added token belongs only
      to new-sha delta docs (an old-sha delta doc's top token is
      already an exporter), so old_hits obj_ids are NEW canonical ids
      while standing edges carry only old ones — no shared (subj, obj)
      key at all;
    - standing/old_hits vs new_hits: urls embed doc_ids, and delta
      doc_ids are strictly greater than all standing ones — url sets
      are disjoint.

    So counts ADD, and the capped arrays merge losslessly: the N
    lexicographically-first urls of a disjoint union are contained in
    the concatenation of each part's N-first urls."""
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy("subj_id", "obj_id").agg(
        F.sum("n_evidence").cast("long").alias("n_evidence"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("src_arr"))), 1, evidence_cap
        ).alias("src_arr"),
    )


def kg_state_build(
    docs: DataFrame, token_pat: str = TOKEN_PAT, evidence_cap: int = EVIDENCE_CAP
) -> KgState:
    """Batch 0: full build (the q_kg_edges computation, state-shaped).
    The base projection feeds four consumers; eager localCheckpoint
    materializes the regex extraction once (at deployment scale the
    stage parquet snapshot plays this role)."""
    base = prepare_base(docs, token_pat).localCheckpoint(eager=True)
    canon = base.groupBy("sha").agg(F.min("doc_id").alias("canonical_id"))
    ments, exp = _batch_parts(base, canon)
    # exporters are one row per top token (dimension-sized): broadcast
    # them so the corpus-sized mention side never shuffles for the join
    edges = _edge_partials(ments, F.broadcast(exp), evidence_cap)
    return KgState(
        canon=canon, mentions=ments, exporters=exp, edges=edges,
        mentions_delta=ments,
    )


def kg_state_fold(
    state: KgState,
    delta_docs: DataFrame,
    token_pat: str = TOKEN_PAT,
    evidence_cap: int = EVIDENCE_CAP,
) -> KgState:
    """Fold one append-only crawl batch into the standing state."""
    base_d = prepare_base(delta_docs, token_pat).localCheckpoint(eager=True)

    canon_delta = base_d.groupBy("sha").agg(F.min("doc_id").alias("canonical_id"))
    canon_added = canon_delta.join(state.canon.select("sha"), "sha", "left_anti")
    canon_all = state.canon.unionByName(canon_added)

    ments_d, exp_delta = _batch_parts(base_d, canon_all)
    exp_added = exp_delta.join(
        state.exporters.select("tok"), "tok", "left_anti"
    )
    exp_all = state.exporters.unionByName(exp_added)

    # old mentions never shuffle: the newly-appeared token dictionary is
    # dimension-sized, so the probe broadcasts over the standing scan
    old_hits = _edge_partials(state.mentions, F.broadcast(exp_added), evidence_cap)
    new_hits = _edge_partials(ments_d, exp_all, evidence_cap)
    edges = _merge_edges(state.edges, old_hits, new_hits, evidence_cap=evidence_cap)

    return KgState(
        canon=canon_all,
        mentions=state.mentions.unionByName(ments_d),
        exporters=exp_all,
        edges=edges,
        mentions_delta=ments_d,
    )


def edges_surface(state: KgState) -> DataFrame:
    """State edges in the q_kg_edges result shape (driver-hashable
    scalar columns)."""
    return state.edges.select(
        "subj_id",
        F.lit("Uses").alias("pred"),
        "obj_id",
        F.col("n_evidence").cast("long").alias("n_evidence"),
        F.array_join("src_arr", "|").alias("sources"),
    )


def snapshot_diff(old: DataFrame, new: DataFrame, key_cols, cmp_cols) -> DataFrame:
    """Generic snapshot diff — the monitoring half of incremental
    maintenance (what changed crawl-over-crawl; does a fold agree with
    a rebuild): ``(op, *keys, old_*, new_*)`` where op is
    added / removed / changed, unchanged keys dropped.

    ONE full-outer equi join on the keys: the shuffle-minimal shape —
    both sides partition by the same keys, AQE handles skew, nothing
    driver-side. Presence markers are literal columns, so a legitimate
    NULL in a compare column never masquerades as absence (compare
    columns themselves are assumed non-null when the row exists, which
    aggregates like counts guarantee)."""
    k = list(key_cols)
    cmp = list(cmp_cols)
    o = old.select(
        *k, F.lit(1).alias("_o"), *[F.col(c).alias(f"old_{c}") for c in cmp]
    )
    n = new.select(
        *k, F.lit(1).alias("_n"), *[F.col(c).alias(f"new_{c}") for c in cmp]
    )
    j = o.join(n, k, "full_outer")
    changed = F.lit(False)
    for c in cmp:
        changed = changed | (F.col(f"old_{c}") != F.col(f"new_{c}"))
    op = (
        F.when(F.col("_o").isNull(), F.lit("added"))
        .when(F.col("_n").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return (
        j.withColumn("op", op)
        .where(F.col("op") != "same")
        .select(
            "op",
            *k,
            *[f"old_{c}" for c in cmp],
            *[f"new_{c}" for c in cmp],
        )
    )
