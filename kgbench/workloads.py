"""The three benchmark workloads.

Each workload has the same shape:

- ``inputs(seed)`` (no Spark) then ``stage(rep, inputs)``: make the
  inputs from the seed, compute the reference the ops are checked
  against, and stage the inputs. The runner does this several times and
  keeps the last, so set-up time is a median; ``inputs`` runs while the
  JVM starts.
- ``warm()``: untimed ops, so the timed ones run on a warm JVM and warm
  Python workers.
- ``prepare(k)`` (untimed) then ``op(k)`` (timed): one closed-loop op.
- ``check(res)``: correctness of one op's committed output.
- ``traced_op(k, tracer)``: the same op replayed as the sequence of
  public calls the program makes, with a span around each call.
- ``final_check()``: a whole-run invariant, checked after the timed
  window.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass
from typing import Dict, Optional, Set, Tuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from surfactant_spark.operators.canon import alias_entity_map
from surfactant_spark.operators.dedup import dedup_minhash_with_audit, near_dup_clusters
from surfactant_spark.operators.extract import extract_pages
from surfactant_spark.operators.identity import dedup_nodes
from surfactant_spark.operators.incremental import (
    edges_surface,
    kg_state_build,
    kg_state_fold,
)
from surfactant_spark.operators.link import exporters_table, link_extracted
from surfactant_spark.oracle import precision_recall, run_oracle
from surfactant_spark.plans.pipeline import SnapshotStore, _lineage_rows, run_pipeline
from surfactant_spark.streaming.incremental import (
    _read_state,
    read_fold_metrics,
    stream_kg_fold,
)
from surfactant_spark.synth import alias_dict_to_spark, make_corpus, pages_to_spark

from probes import Tracer, dir_stats

# Sizes chosen so that set-up plus a timed window fits in well under a
# minute per run on a 4-core machine (see README.md, "Sizing").
BUILD_PAGES = 1000
RESUME_PAGES = 600
FOLD_BATCH_DOCS = 150
FOLD_BATCHES = 12
FOLD_COMPACT_KEEP = 2
NEAR_DUP_MAX_BUCKET = 64

Triple = Tuple[str, str, str]


@dataclass
class OpResult:
    docs: int
    triples: int
    payload: object = None
    batch_wall_s: float = 0.0


@dataclass
class Check:
    ok: bool
    precision: float
    recall: float
    note: str = ""


def _triples(edges_df, s="subj_uuid", p="pred", o="obj_uuid") -> Set[Triple]:
    pdf = edges_df.select(s, p, o).toPandas()
    return set(zip(pdf[s], pdf[p], pdf[o]))


def _check_triples(got: Set[Triple], want: Set[Triple]) -> Check:
    p, r = precision_recall(got, want)
    return Check(got == want, p, r)


class _Workload:
    name = ""

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workdir = workdir
        self.cores = self.sc.defaultParallelism

    def path(self, *parts) -> str:
        return os.path.join(self.workdir, *parts)

    def prepare(self, k: int) -> None:
        pass

    def final_check(self) -> Optional[Check]:
        return None

    def untraced_stage_walls(self, res) -> Dict[str, float]:
        return {}


class _Pipeline(_Workload):
    """What the two ``run_pipeline`` workloads share."""

    n_pages = 0

    @classmethod
    def inputs(cls, seed: int):
        """Synthetic corpus and the oracle's triple set."""
        pages_pdf, alias_pdf = make_corpus(cls.n_pages, seed=seed)
        _n, _e, want = run_oracle(pages_pdf, alias_pdf)
        return pages_pdf, alias_pdf, want

    def stage(self, rep: int, inputs) -> None:
        pages_pdf, alias_pdf, self.want = inputs
        src = self.path(f"pages_r{rep}")
        pages_to_spark(self.spark, pages_pdf).repartition(self.cores * 2).write.parquet(src)
        self.pages = self.spark.read.parquet(src)
        self.alias = alias_dict_to_spark(self.spark, alias_pdf)

    def untraced_stage_walls(self, res) -> Dict[str, float]:
        """The pipeline's own per-stage wall (lineage ``wall_ms``)."""
        rows = res.payload.lineage.select("stage", "wall_ms").distinct().collect()
        return {r.stage: r.wall_ms / 1000.0 for r in rows}


def _write_stage(tracer: Tracer, op_id: int, store: SnapshotStore, stage: str,
                 df, written: list, partition_by=None, sig=None):
    """SnapshotStore.write + read-back inside their own spans, as the
    pipeline's ``stage()`` helper does."""
    with tracer.span("snapshot.write", op_id) as sp:
        snap_id, n_rows = store.write(stage, df, partition_by, sig=sig)
    sp.counts["rows"] = n_rows
    written.append((sp, store.path(stage)))
    with tracer.span("snapshot.read", op_id):
        out = store.read(stage)
    return out, snap_id, n_rows


class KgBuild(_Pipeline):
    """A fresh ``run_pipeline(resume=False)`` over a staged corpus."""

    name = "kg_build"
    n_pages = BUILD_PAGES

    def warm(self) -> None:
        run_pipeline(self.spark, self.pages, self.alias, self.path("warm0"), resume=False)

    def op(self, k: int) -> OpResult:
        res = run_pipeline(self.spark, self.pages, self.alias, self.path(f"op{k}"),
                           resume=False)
        return OpResult(self.n_pages, int(res.stage_rows["edges"]), res)

    def check(self, res: OpResult) -> Check:
        return _check_triples(_triples(res.payload.edges), self.want)

    def traced_op(self, k: int, tracer: Tracer):
        spark, store = self.spark, SnapshotStore(self.spark, self.path(f"trace{k}"))
        written, pending = [], []
        with tracer.span("op", k) as root:
            canon_out: Dict[str, object] = {}

            def _canon():
                try:
                    with tracer.span("canon", k, parent=root, group=True) as sp:
                        out, sid, n = _write_stage(tracer, k, store, "alias_cc",
                                                   alias_entity_map(self.alias), written)
                    canon_out.update(df=out, sp=sp)
                    pending.append(("alias_cc", out, sp.start, sp.end, sid, n))
                except BaseException as exc:  # re-raised after join
                    canon_out["error"] = exc

            th = threading.Thread(target=_canon, daemon=True)
            th.start()
            try:
                with tracer.span("extract", k, group=True) as sp_ex:
                    extracted, sid, n = _write_stage(tracer, k, store, "extract",
                                                     extract_pages(self.pages), written)
                pending.append(("extract", extracted, sp_ex.start, sp_ex.end, sid, n))
                sp_ex.counts["rows"] = n
            finally:
                th.join()
            if "error" in canon_out:
                raise canon_out["error"]
            alias_canon = canon_out["df"]
            with tracer.span("identity", k) as sp_id:
                nodes, sid, n_nodes = _write_stage(tracer, k, store, "nodes",
                                                   dedup_nodes(extracted), written)
            pending.append(("nodes", nodes, sp_id.start, sp_id.end, sid, n_nodes))
            with tracer.span("link", k) as sp_ln:
                exp = exporters_table(extracted, alias_canon)
                edges, sid, n_edges = _write_stage(
                    tracer, k, store, "edges", link_extracted(extracted, alias_canon, exp),
                    written, partition_by=["pred"])
            pending.append(("edges", edges, sp_ln.start, sp_ln.end, sid, n_edges))
            with tracer.span("lineage", k):
                _write_lineage(spark, store, pending, self.n_pages)
        got = _triples(edges)
        return (
            _check_triples(got, self.want),
            {"extract": sp_ex, "canon": canon_out["sp"], "identity": sp_id,
             "link": sp_ln, "root": root},
            {"extract.rows": sp_ex.counts["rows"], "identity.rows_out": n_nodes,
             "identity.dedup_ratio": n_nodes / self.n_pages,
             "link.triples_out": n_edges},
            written,
        )


def _write_lineage(spark, store: SnapshotStore, pending, n_pages: int) -> None:
    """Lineage rows for the stages a replay ran, appended the way
    ``run_pipeline`` appends them."""
    batches = [
        _lineage_rows(spark, name, out, int((t1 - t0) * 1000), sid, n_pages, n_rows=n)
        for name, out, t0, t1, sid, n in pending
    ]
    lineage = batches[0]
    for b in batches[1:]:
        lineage = lineage.unionByName(b)
    lineage.write.mode("append").parquet(os.path.join(store.workdir, "lineage"))


class KgResume(_Pipeline):
    """``run_pipeline(resume=True, near_dup="minhash")`` on a fresh
    workdir already holding committed extract and alias_cc snapshots."""

    name = "kg_resume"
    n_pages = RESUME_PAGES
    seeded = ("extract", "alias_cc")

    def _seeded_workdir(self, name: str) -> str:
        wd = self.path(name)
        os.makedirs(wd)
        for s in self.seeded:
            shutil.copytree(os.path.join(self.template, s), os.path.join(wd, s))
            shutil.copy(os.path.join(self.template, f"_{s}_OK"), wd)
        return wd

    def warm(self) -> None:
        """One fresh pipeline run with the same near-dup family, untimed:
        it warms every stage the timed ops run and commits the extract
        and alias_cc snapshots every op's workdir is seeded from."""
        self.template = self.path("seeded")
        run_pipeline(self.spark, self.pages, self.alias, self.template,
                     resume=False, near_dup="minhash")

    def prepare(self, k: int) -> None:
        self._next = self._seeded_workdir(f"op{k}")

    def op(self, k: int) -> OpResult:
        res = run_pipeline(self.spark, self.pages, self.alias, self._next,
                           resume=True, near_dup="minhash")
        return OpResult(self.n_pages, int(res.stage_rows["edges"]), res)

    def check(self, res: OpResult) -> Check:
        resumed = set(res.payload.stages_resumed)
        c = _check_triples(_triples(res.payload.edges), self.want)
        if resumed != set(self.seeded):
            return Check(False, c.precision, c.recall, f"stages_resumed={sorted(resumed)}")
        return c

    def traced_op(self, k: int, tracer: Tracer):
        spark = self.spark
        store = SnapshotStore(spark, self._seeded_workdir(f"trace{k}"))
        sig = f"minhash:{NEAR_DUP_MAX_BUCKET}"
        written, pending = [], []
        with tracer.span("op", k) as root:
            with tracer.span("snapshot.read", k):
                if not all(store.exists(s) for s in self.seeded):
                    raise RuntimeError("seeded snapshots missing")
                extracted = store.read("extract")
                alias_canon = store.read("alias_cc")
            with tracer.span("identity", k) as sp_id:
                nodes, sid, n_nodes = _write_stage(tracer, k, store, "nodes",
                                                   dedup_nodes(extracted), written)
            pending.append(("nodes", nodes, sp_id.start, sp_id.end, sid, n_nodes))
            with tracer.span("link", k) as sp_ln:
                exp = exporters_table(extracted, alias_canon)
                edges, sid, n_edges = _write_stage(
                    tracer, k, store, "edges", link_extracted(extracted, alias_canon, exp),
                    written, partition_by=["pred"])
            pending.append(("edges", edges, sp_ln.start, sp_ln.end, sid, n_edges))
            with tracer.span("dedup", k) as sp_dd:
                pairs, dropped = dedup_minhash_with_audit(
                    extracted, id_col="url", text_col="text_extracted",
                    max_bucket=NEAR_DUP_MAX_BUCKET)
                t0 = time.time()
                near_df, sid, n_pairs = _write_stage(tracer, k, store, "near_dup", pairs,
                                                     written, sig=sig)
                pending.append(("near_dup", near_df, t0, time.time(), sid, n_pairs))
                t0 = time.time()
                audit_df, sid, n_drop = _write_stage(
                    tracer, k, store, "audit",
                    dropped.withColumn("family", F.lit("minhash")), written, sig=sig)
                pending.append(("audit", audit_df, t0, time.time(), sid, n_drop))
            with tracer.span("clusters", k) as sp_cl:
                docs = extracted.select("url", F.length("text_extracted").alias("n_chars"))
                cl = near_dup_clusters(docs, near_df, id_col="url").withColumnRenamed(
                    "doc_id", "url")
                cl_df, sid, n_cl = _write_stage(tracer, k, store, "clusters", cl, written,
                                                sig=sig)
            pending.append(("clusters", cl_df, sp_cl.start, sp_cl.end, sid, n_cl))
            with tracer.span("lineage", k):
                _write_lineage(spark, store, pending, self.n_pages)
        got = _triples(edges)
        return (
            _check_triples(got, self.want),
            {"identity": sp_id, "link": sp_ln, "dedup": sp_dd, "clusters": sp_cl,
             "root": root},
            {"identity.rows_out": n_nodes, "identity.dedup_ratio": n_nodes / self.n_pages,
             "link.triples_out": n_edges, "dedup.pairs_out": n_pairs,
             "dedup.dropped_buckets": n_drop},
            written,
        )


class KgFold(_Workload):
    """One micro-batch of documents-shaped rows appended per op and
    folded by ``stream_kg_fold``; checked at the end against a full
    ``kg_state_build`` over every batch's docs."""

    name = "kg_fold"

    @classmethod
    def inputs(cls, seed: int):
        """Documents-shaped rows (doc_id, source, text) of a synthetic
        corpus, cut into micro-batches of increasing doc_ids."""
        pages_pdf, _alias = make_corpus(FOLD_BATCH_DOCS * FOLD_BATCHES, seed=seed)
        docs = pa.table({
            "doc_id": pa.array(range(len(pages_pdf)), pa.int64()),
            "source": pa.array(pages_pdf["url"].str.split("/").str[2], pa.string()),
            "text": pa.array(pages_pdf["text"], pa.string()),
        })
        return [docs.slice(b * FOLD_BATCH_DOCS, FOLD_BATCH_DOCS)
                for b in range(FOLD_BATCHES)]

    def stage(self, rep: int, inputs) -> None:
        self.batches = inputs
        self.root = self.path(f"fold_r{rep}")
        self.docs_path = os.path.join(self.root, "docs")
        self.state = os.path.join(self.root, "state")
        self.ckpt = os.path.join(self.root, "ckpt")
        os.makedirs(self.docs_path)
        self.next_batch = 0
        self.last_state = None

    def _append(self, b: int) -> None:
        """Publish batch ``b`` atomically: write aside, rename in."""
        tmp = os.path.join(self.root, f".b{b:05d}.parquet")
        pq.write_table(self.batches[b], tmp)
        os.rename(tmp, os.path.join(self.docs_path, f"b{b:05d}.parquet"))

    def _fold_next(self, n: int = 1) -> int:
        """Append ``n`` batches and fold them (one micro-batch each);
        returns the last batch id."""
        b = self.next_batch + n - 1
        if b >= len(self.batches):
            raise RuntimeError("kg_fold ran out of pre-generated batches")
        for i in range(self.next_batch, b + 1):
            self._append(i)
        self.last_state = stream_kg_fold(
            self.spark, self.docs_path, self.state, self.ckpt,
            max_files_per_trigger=1, retain=2, compact_keep=FOLD_COMPACT_KEEP)
        self.next_batch = b + 1
        return b

    def warm(self) -> None:
        # one streaming query: batch 0 builds the state, batch 1 folds
        self._fold_next(2)

    def op(self, k: int) -> OpResult:
        b = self._fold_next()
        return OpResult(FOLD_BATCH_DOCS, 0, b)

    def _metrics_row(self, b: int):
        return (read_fold_metrics(self.spark, self.state)
                .where(F.col("batch_id") == b).collect())

    def check(self, res: OpResult) -> Check:
        b = res.payload
        rows = self._metrics_row(b)
        committed = os.path.exists(os.path.join(self.state, f"v{b}", "_OK"))
        if not committed or len(rows) != 1 or rows[0].n_docs != FOLD_BATCH_DOCS:
            return Check(False, 0.0, 0.0, f"batch {b} not committed")
        res.triples = int(rows[0].n_edges)
        res.batch_wall_s = rows[0].wall_ms / 1000.0
        # per-op P/R comes from the end-of-run fold == rebuild check
        return Check(True, 1.0, 1.0)

    def final_check(self) -> Check:
        cols = ["subj_id", "pred", "obj_id", "n_evidence", "sources"]
        got_pdf = edges_surface(self.last_state).select(*cols).toPandas()
        docs = self.spark.read.parquet(self.docs_path).select("doc_id", "source", "text")
        want_pdf = edges_surface(kg_state_build(docs)).select(*cols).toPandas()
        got_rows = set(map(tuple, got_pdf.itertuples(index=False)))
        want_rows = set(map(tuple, want_pdf.itertuples(index=False)))
        got = {(s, p, o) for s, p, o, *_ in got_rows}
        want = {(s, p, o) for s, p, o, *_ in want_rows}
        p, r = precision_recall(got, want)
        return Check(got_rows == want_rows, p, r,
                     "" if got_rows == want_rows else "fold != rebuild")

    def state_stats(self) -> Dict[str, float]:
        size, _files = dir_stats(self.state)
        mdir = os.path.join(self.state, "mentions")
        n_dirs = sum(1 for d in os.listdir(mdir) if d[:1] in ("c", "d"))
        return {"state.mb": size / 1e6, "state.mention_dirs": n_dirs}

    def traced_op(self, k: int, tracer: Tracer):
        with tracer.span("op", k) as root:
            with tracer.span("stream", k) as sp_st:
                b = self._fold_next()
        # beside the stream: the same fold replayed through the public
        # operator on the previous committed version, outside the op
        with tracer.span("fold", k) as sp_fd:
            prev = _read_state(self.spark, self.state, b - 1)
            delta = self.spark.read.parquet(
                os.path.join(self.docs_path, f"b{b:05d}.parquet"))
            new = kg_state_fold(prev, delta)
            side = os.path.join(self.root, "side", f"b{b}")
            new.edges.write.parquet(os.path.join(side, "edges"))
            new.mentions_delta.write.parquet(os.path.join(side, "mentions"))
        res = OpResult(FOLD_BATCH_DOCS, 0, b)
        chk = self.check(res)
        n_edges = self.spark.read.parquet(os.path.join(side, "edges")).count()
        counts = {"fold.delta_rows": FOLD_BATCH_DOCS, "fold.edges_out": n_edges,
                  "stream.batch_wall_s": res.batch_wall_s,
                  "stream.overhead_s": sp_st.wall_s - res.batch_wall_s}
        counts.update(self.state_stats())
        return chk, {"stream": sp_st, "fold": sp_fd, "root": root}, counts, []


WORKLOADS = {w.name: w for w in (KgBuild, KgResume, KgFold)}
