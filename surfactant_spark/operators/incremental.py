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

Cost shape: a fold evaluates each delta-sized intermediate once.
Eager localCheckpoints materialize the batch's projected rows, the same
rows with their canonical ids, and its newly-appeared exporter tokens;
the canon, exporters, edges and mention-delta writes all read those
instead of re-running the extraction, the canon resolution or the
exporter choice. A doc's top token is picked inside its row (no
shuffle), and the batch's hits on old and on its own mentions are
ranked by one window. Nothing that grows with the standing state is
materialized: standing tables are only scanned, by the writes that
need them. One micro-batch of ``streaming.incremental.stream_kg_fold``
(150 docs on 4 local cores, mention compaction included) runs 16 Spark
jobs: 6 for the checkpoints, 5 for the edge merge, 1 per other write.

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

from pyspark.sql import Column, DataFrame, Window, functions as F

# the KG token grammar, defined once: queries.py and operators/sketch.py
# import it from here
TOKEN_PAT = r"[a-z][a-z0-9_.\-]{3,}"

# Per-edge evidence arrays are BOUNDED: a hot edge (every doc mentioning
# a stop-token-like entity) would otherwise concentrate millions of URLs
# into one aggregation buffer and one output row — the same buffer-blowup
# class the dedup families cap. ``n_evidence`` stays EXACT (a count);
# ``src_arr`` keeps only the lexicographically-first N urls.
EVIDENCE_CAP = 1000


# The parquet schema of each KgState table as a fold store writes it
# (doc ids are long: the stream's document schema declares them so).
# Readers declare it instead of inferring it, which costs a Spark job
# per read; a writer whose column type drifts then fails the read.
STATE_SCHEMAS = {
    "canon": "sha string, canonical_id long",
    "mentions": "subj_id long, url string, tok string",
    "exporters": "tok string, obj_id long",
    "edges": "subj_id long, obj_id long, n_evidence long, src_arr array<string>",
}


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


def _top_token(toks: str) -> Column:
    """A doc's exporter token: its most frequent token, ties to the
    smallest ("order by cnt desc, tok asc, pick 1"); null when it has
    none. Computed inside the row, so no shuffle runs: one pass over
    the doc's own sorted token array, where equal tokens form runs,
    keeps the least (-run length, tok) seen."""

    def step(acc, tok):
        run = F.when(tok == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            tok.alias("prev"),
            run.alias("run"),
            F.least(acc["best"], F.struct((-run).alias("nc"), tok.alias("tok"))).alias("best"),
        )

    none = F.lit(None).cast("string")
    start = F.struct(
        none.alias("prev"),
        F.lit(0).alias("run"),
        # every real run has nc <= -1, so this never wins over one
        F.struct(F.lit(0).alias("nc"), none.alias("tok")).alias("best"),
    )
    return F.aggregate(F.array_sort(toks), start, step, lambda acc: acc["best"]["tok"])


def _batch_parts(base2: DataFrame):
    """Per-batch mention rows and exporter candidates from the batch's
    base rows already resolved against the FULL canon map (a delta doc
    duplicating an old sha must take the old canonical id), i.e. with a
    ``canonical_id`` column."""
    exp = (
        base2.select(_top_token("toks").alias("tok"), "canonical_id")
        .where(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.min("canonical_id").alias("obj_id"))
    )
    ments = base2.select(
        F.col("canonical_id").alias("subj_id"),
        "url",
        F.explode(F.array_distinct("toks")).alias("tok"),
    )
    return ments, exp


def _hits(ments: DataFrame, exporters: DataFrame) -> DataFrame:
    """(subj_id, obj_id, url) evidence rows: each mention of an
    exported token, self-links dropped."""
    return (
        ments.join(exporters, "tok")
        .where(F.col("subj_id") != F.col("obj_id"))
        .select("subj_id", "obj_id", "url")
    )


def _edge_partials(hits: DataFrame, evidence_cap: int = EVIDENCE_CAP) -> DataFrame:
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
        hits.withColumn("dr", F.dense_rank().over(w))
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

    - standing edges vs the batch's hits on OLD mentions: every
      exp_added token belongs only to new-sha delta docs (an old-sha
      delta doc's top token is already an exporter), so those hits'
      obj_ids are NEW canonical ids while standing edges carry only old
      ones — no shared (subj, obj) key at all;
    - standing edges vs the batch's hits on its OWN mentions: urls
      embed doc_ids, and delta doc_ids are strictly greater than all
      standing ones — url sets are disjoint.

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
    ments, exp = _batch_parts(base.join(canon, "sha"))
    # exporters are one row per top token (dimension-sized): broadcast
    # them so the corpus-sized mention side never shuffles for the join
    edges = _edge_partials(_hits(ments, F.broadcast(exp)), evidence_cap)
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
    """Fold one append-only crawl batch into the standing state.

    Eager ``localCheckpoint``s materialize the batch's delta-sized
    intermediates once: ``base_d`` (its projected rows), ``docs_d``
    (the same rows with their canonical ids) and ``exp_added`` (its
    newly-appeared exporter tokens). The canon, exporters, edges and
    mention-delta writes all read those, so none of them re-evaluates
    the extraction, the canon resolution or the exporter choice.
    Standing tables are never materialized here (they grow with the
    state); the writes scan them.

    ``delta_docs`` is read exactly once, by the first checkpoint, and
    no exchange sits above it there: an ``observe`` on ``delta_docs``
    is filled by that job, also for an empty batch (AQE drops an
    empty stage below an exchange, and its metrics with it)."""
    base_d = prepare_base(delta_docs, token_pat).localCheckpoint(eager=True)
    # an old sha keeps its standing canonical id; a new one takes the
    # min doc_id of its group in the batch
    docs_d = (
        base_d.withColumn("new_id", F.min("doc_id").over(Window.partitionBy("sha")))
        .join(state.canon, "sha", "left")
        .select(
            "doc_id", "url", "sha", "toks",
            F.coalesce("canonical_id", "new_id").alias("canonical_id"),
        )
        .localCheckpoint(eager=True)
    )
    # standing canonical ids precede every delta doc_id (append-only),
    # so a delta doc is its own canonical exactly when it opened a new
    # sha group
    canon_added = docs_d.where(F.col("doc_id") == F.col("canonical_id")).select(
        "sha", "canonical_id"
    )
    canon_all = state.canon.unionByName(canon_added)

    ments_d, exp_delta = _batch_parts(docs_d)
    exp_added = exp_delta.join(
        state.exporters.select("tok"), "tok", "left_anti"
    ).localCheckpoint(eager=True)
    exp_all = state.exporters.unionByName(exp_added)

    # mentions never shuffle for the join: the exporter dictionaries are
    # dimension-sized, so both probes broadcast them. The newly-appeared
    # tokens reach old mentions, every exporter reaches the batch's own;
    # the two hit sets are then ranked by one window
    hits = _hits(state.mentions, F.broadcast(exp_added)).unionByName(
        _hits(ments_d, F.broadcast(exp_all))
    )
    edges = _merge_edges(
        state.edges, _edge_partials(hits, evidence_cap), evidence_cap=evidence_cap
    )

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
