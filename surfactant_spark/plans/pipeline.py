"""Stage-materializing pipeline runner with snapshot resume + lineage.

The reference restarts from scratch on failure (SURVEY §4); here every
stage's output is a parquet snapshot ``<workdir>/<stage>/`` committed by
a JSON marker ``<workdir>/_<stage>_OK``, and :func:`run_pipeline` skips
any stage whose marker is committed: kill it anywhere and rerun with
the same work dir to resume (the Iceberg-snapshot pattern of the north
rule, over plain parquet since the Iceberg jars are not in this
sandbox; the connector seam is :class:`SnapshotStore`).

Every stage write follows the one protocol of :mod:`.commit`: marker
off, write, atomic marker on; readers trust only markers. A run that
dies mid-rewrite therefore leaves that stage unmarked, and the next
resume re-runs it instead of serving a partial snapshot.

Per-stage lineage rows (stage, partition_id, input_rows, output_rows,
wall_ms, snapshot_id) are appended to ``<workdir>/lineage`` — the
analogue of the reference stamping collection provenance on every entry
(`surfactant/sbomtypes/_software.py:77-84`). They cost no Spark job:
the counts are read from the footers of each stage's parquet files on
the driver (:func:`.commit.footer_rows`), so ``partition_id`` is the id
of the WRITE task (the ``part-NNNNN`` of its files), and the run's rows
are appended as one parquet file written on the driver (details in
:func:`run_pipeline`).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.canon import alias_entity_map
from ..operators.extract import extract_pages
from ..operators.identity import dedup_nodes
from ..operators.link import exporters_table, link_extracted
from . import commit


class SnapshotStore:
    """Parquet-backed stage snapshots with completion markers.

    Swap for an Iceberg catalog in a real deployment: ``write`` becomes
    ``writeTo(...).createOrReplace()`` and the marker becomes the table
    snapshot id. The resume contract is identical.
    """

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def marker(self, stage: str) -> str:
        return os.path.join(self.workdir, f"_{stage}_OK")

    def info(self, stage: str) -> Optional[dict]:
        """The stage's committed marker (None when not committed)."""
        return commit.marker_info(self.marker(stage))

    def exists(self, stage: str, sig: Optional[str] = None) -> bool:
        """True when the stage snapshot is committed AND was produced by
        the same parameterization (``sig``): a marker whose recorded sig
        differs must NOT satisfy resume — e.g. a near_dup stage written
        by the simhash family silently answering a minhash request with
        the wrong table/schema."""
        info = self.info(stage)
        return info is not None and (sig is None or info.get("sig") == sig)

    def write(
        self,
        stage: str,
        df: DataFrame,
        partition_by: Optional[List[str]] = None,
        sig: Optional[str] = None,
    ):
        """-> (snapshot_id, row_count), the count observed during the
        write. The marker persists the schema so an all-empty stage
        (zero parquet files) still reads back on resume."""
        marker = self.marker(stage)
        n_rows = commit.write(df, self.path(stage), marker, partition_by)
        snapshot_id = f"{stage}-{int(time.time() * 1000)}"
        commit.mark(marker, {
            "snapshot_id": snapshot_id, "stage": stage,
            "schema": df.schema.json(), "rows": n_rows, "sig": sig,
        })
        return snapshot_id, n_rows

    def read(self, stage: str) -> DataFrame:
        reader = self.spark.read
        info = self.info(stage) or {}
        if "schema" in info:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(info["schema"])))
        return reader.parquet(self.path(stage))

    def rows(self, stage: str) -> Optional[int]:
        """Row count recorded at write time (None for markers written
        before counts were recorded)."""
        return (self.info(stage) or {}).get("rows")


@dataclass
class PipelineResult:
    nodes: DataFrame
    edges: DataFrame
    lineage: DataFrame
    stages_run: List[str] = field(default_factory=list)
    stages_resumed: List[str] = field(default_factory=list)
    near_dup: Optional[DataFrame] = None
    audit: Optional[DataFrame] = None
    # per-document keep/drop decisions derived from near_dup pairs
    # (url, cluster_id, is_survivor) — see operators.dedup.near_dup_clusters
    clusters: Optional[DataFrame] = None
    # host-level hyperlink graph over the raw pages (optional stage)
    host_edges: Optional[DataFrame] = None
    # write-time observed row count per stage (resumed stages: the
    # count recorded in their marker; None only for pre-count markers)
    # — callers should read these instead of launching count() jobs
    stage_rows: Dict[str, Optional[int]] = field(default_factory=dict)


_LINEAGE_ARROW = pa.schema([
    ("stage", pa.string()), ("partition_id", pa.int32()), ("input_rows", pa.int64()),
    ("output_rows", pa.int64()), ("wall_ms", pa.int64()), ("snapshot_id", pa.string()),
])
# the lineage table's columns and types, as every writer of it wrote them
LINEAGE_SCHEMA = from_arrow_schema(_LINEAGE_ARROW)


def _lineage_records(stage: str, df: DataFrame, wall_ms: int, snapshot_id: str,
                     input_rows: int, n_rows: int) -> List[tuple]:
    """One stage's lineage rows, one per write task, from the footers of
    the snapshot ``df`` was read back from. A stage that ran but wrote
    ZERO rows (no files) still appears: one sentinel row, partition_id
    -1, output_rows 0 — emptiness comes from the write-time observed
    count."""
    if n_rows == 0:
        return [(stage, -1, input_rows, 0, wall_ms, snapshot_id)]
    return [
        (stage, task, input_rows, rows, wall_ms, snapshot_id)
        for task, rows in sorted(commit.footer_rows(df.inputFiles()).items())
    ]


def _lineage_table(records: List[tuple]) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(zip(_LINEAGE_ARROW.names, r)) for r in records], schema=_LINEAGE_ARROW
    )


def _append_lineage(path: str, records: List[tuple]) -> None:
    """Append a run's lineage rows as one parquet file written on the
    driver (no Spark job). The file is written under a hidden temp name,
    which readers skip, and renamed into place, so a crash mid-append
    adds no rows, never part of a file."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(_lineage_table(records), tmp)
    os.replace(tmp, os.path.join(path, name))


def _lineage_rows(spark: SparkSession, stage: str, df: DataFrame, wall_ms: int, snapshot_id: str, input_rows: int, n_rows: int):
    """One stage's lineage rows (see :func:`_lineage_records`) as a
    DataFrame built through Arrow in the JVM: writing it starts no
    Python worker."""
    return spark.createDataFrame(
        _lineage_table(_lineage_records(stage, df, wall_ms, snapshot_id, input_rows, n_rows))
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    workdir: str,
    resume: bool = True,
    n_salt: int = 0,
    near_dup: Optional[str] = None,
    near_dup_max_bucket: int = 64,
    host_graph: bool = False,
) -> PipelineResult:
    """pages + alias_dict -> materialized nodes/edges/lineage.

    Stages, run one after the other in the calling thread, each
    materialized and independently resumable:

      alias_cc  : alias_dict -> (alias, entity) canonical map — one
                  connected-components call over the alias-entity
                  graph, a driver-side union-find at dictionary size
      extract   : pages -> extracted (narrow, Arrow UDF pass)
      nodes     : extracted -> content-dedup node table
      edges     : extracted + alias map -> linked, deduped edge table
      near_dup  : (optional) near-duplicate pair table over the
                  extracted text — ``near_dup`` in {"simhash",
                  "minhash"} picks the family
      audit     : (with near_dup) the width-capped LSH buckets the
                  family DROPPED — the recall bound of the cap as a
                  first-class lineage-tracked stage, observable per
                  run instead of on demand (the lineage row's
                  output_rows is the dropped-bucket count; the
                  snapshot holds the buckets themselves)
      clusters  : (with near_dup) per-document keep/drop decisions —
                  pairs folded into transitive clusters (connected
                  components over near-dup edges only, never the
                  corpus) with one survivor per cluster (longest
                  extracted text, ties to smallest url); downstream
                  training-data prep filters on ``is_survivor``
      hostgraph : (optional) host-level hyperlink graph over the RAW
                  pages (operators/webgraph.host_graph) — crawl
                  structure is a property of the html, so this stage
                  reads pages, not extracted, and shares the run's
                  snapshot/lineage/resume machinery

    ``n_salt > 0`` runs the dictionary join of the edges stage through
    the deterministic salted join (hot-domain skew; result-identical —
    tests/test_e2e.py pins it).

    Every stage that ran appends its lineage rows to
    ``<workdir>/lineage``: one row per write task (``partition_id`` is
    the ``part-NNNNN`` task id, ``output_rows`` the rows in that task's
    files — summed over the ``pred=`` directories of ``edges`` — read
    from the parquet footers and summing to ``stage_rows[stage]``), or
    the one sentinel row (``partition_id`` -1, ``output_rows`` 0) of a
    stage that wrote none. ``input_rows`` is the page count (-1 for
    ``alias_cc``). The append is one parquet file written on the
    driver, and ``lineage`` reads the whole directory back with
    :data:`LINEAGE_SCHEMA`: the lineage costs the run no Spark job.
    """
    near_dup_sig = None
    if near_dup:
        if near_dup not in ("simhash", "minhash"):
            # validate BEFORE any corpus-scale stage runs — a typo must
            # not surface only after hours of extract/nodes/edges work
            raise ValueError(
                f"near_dup must be one of ['minhash', 'simhash'], got {near_dup!r}"
            )
        near_dup_sig = f"{near_dup}:{near_dup_max_bucket}"

    store = SnapshotStore(spark, workdir)
    run: List[str] = []
    resumed: List[str] = []
    # lineage construction is deferred: input_rows for every corpus stage
    # is the extract stage's OWN output count (extract is 1:1 with pages),
    # observed DURING the snapshot write, and output_rows come from the
    # snapshot's parquet footers — the pipeline pays neither a separate
    # full `pages.count()` scan (round-3 verdict item 3) nor any count
    # job over a snapshot.
    pending: List[tuple] = []
    stage_rows: Dict[str, Optional[int]] = {}

    def stage(name: str, fn: Callable[[], DataFrame], partition_by=None, sig=None) -> DataFrame:
        if resume and store.exists(name, sig):
            resumed.append(name)
            stage_rows[name] = store.rows(name)
            return store.read(name)
        t0 = time.time()
        df = fn()
        snapshot_id, n_rows = store.write(name, df, partition_by, sig=sig)
        wall_ms = int((time.time() - t0) * 1000)
        out = store.read(name)
        pending.append((name, out, wall_ms, snapshot_id, n_rows))
        stage_rows[name] = n_rows
        run.append(name)
        return out

    alias_canon = stage("alias_cc", lambda: alias_entity_map(alias_dict))
    extracted = stage("extract", lambda: extract_pages(pages))
    nodes = stage("nodes", lambda: dedup_nodes(extracted))

    def _edges() -> DataFrame:
        exporters = exporters_table(extracted, alias_canon)
        return link_extracted(extracted, alias_canon, exporters, n_salt=n_salt)

    edges = stage("edges", _edges, partition_by=["pred"])

    near_df = audit_df = clusters_df = None
    if near_dup:
        from ..operators.dedup import (
            dedup_minhash_with_audit,
            dedup_simhash_with_audit,
        )

        fams = {
            "simhash": dedup_simhash_with_audit,
            "minhash": dedup_minhash_with_audit,
        }
        combined_fn = fams[near_dup]
        # pairs + audit derive from ONE Arrow hash pass (the combined
        # op's checkpoint) instead of re-running the corpus-scale Python
        # work per stage. The shared pass is built lazily on first use,
        # so a resume that satisfies both stages never pays it; its wall
        # lands in whichever stage triggers it first.
        shared: Dict[str, tuple] = {}

        def _combined() -> tuple:
            if "v" not in shared:
                shared["v"] = combined_fn(
                    extracted, id_col="url", text_col="text_extracted",
                    max_bucket=near_dup_max_bucket,
                )
            return shared["v"]

        # sig pins the family + cap: a workdir resumed with a DIFFERENT
        # --near-dup must re-run these stages, not return the previous
        # family's snapshots under the new request's name
        near_df = stage("near_dup", lambda: _combined()[0], sig=near_dup_sig)
        audit_df = stage(
            "audit",
            lambda: _combined()[1].withColumn("family", F.lit(near_dup)),
            sig=near_dup_sig,
        )

        def _clusters() -> DataFrame:
            from ..operators.dedup import near_dup_clusters

            docs = extracted.select(
                "url", F.length("text_extracted").alias("n_chars")
            )
            return near_dup_clusters(docs, near_df, id_col="url").withColumnRenamed(
                "doc_id", "url"
            )

        # reads the near_dup SNAPSHOT, not the shared pass — a resumed
        # near_dup satisfies this stage without re-hashing the corpus
        clusters_df = stage("clusters", _clusters, sig=near_dup_sig)

    host_df = None
    if host_graph:
        from ..operators.webgraph import host_graph as _host_graph_op

        host_df = stage("hostgraph", lambda: _host_graph_op(pages))

    lineage_path = os.path.join(workdir, "lineage")
    if pending:
        # extract is 1:1 with pages: its write-time observed count IS
        # n_pages. When extract itself was resumed its marker carries
        # the count; the count() fallback (an empty-projection scan job
        # over the snapshot — cheap, but a job) only fires for markers
        # from before counts were recorded.
        n_pages = stage_rows["extract"]
        if n_pages is None:
            n_pages = extracted.count()
        records = [
            rec
            for name, out, wall_ms, snapshot_id, n_rows in pending
            for rec in _lineage_records(
                name, out, wall_ms, snapshot_id,
                -1 if name == "alias_cc" else n_pages, n_rows,
            )
        ]
        _append_lineage(lineage_path, records)
    lineage_df = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)

    return PipelineResult(
        nodes=nodes, edges=edges, lineage=lineage_df,
        stages_run=run, stages_resumed=resumed,
        near_dup=near_df, audit=audit_df, clusters=clusters_df,
        host_edges=host_df,
        stage_rows=dict(stage_rows),
    )
