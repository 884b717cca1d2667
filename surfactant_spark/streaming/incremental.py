"""Incremental page ingest via Structured Streaming.

stage-1 extraction is a stateless Arrow map, so it lifts to
``readStream`` verbatim. Connected components stays a periodic batch
job — there is no streaming CC (SURVEY.md §2.10).
"""

from __future__ import annotations

import glob
import os
import time
from typing import Dict, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.extract import extract_pages
from ..plans import commit
from ..schema import PAGES


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_extract(pages_stream: DataFrame) -> DataFrame:
    """pages stream -> extracted stream (same Arrow pass as batch)."""
    return extract_pages(pages_stream)


def windowed_event_counts(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Tumbling-window per-type event counts — batch form. The window
    boundaries are epoch-aligned, so the streaming twin and the DuckDB
    time_bucket oracle agree exactly."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_windowed_event_counts(
    events_stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming twin: watermark bounds the state (windows older than
    the horizon finalize and are evicted; late events beyond it drop).
    In append mode only watermark-closed windows emit; a complete-mode
    sink exposes every window for batch-equivalence testing."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_incremental_batch(
    spark: SparkSession, pages_path: str, out_path: str, checkpoint: str
):
    """One incremental micro-batch pass: new pages -> extracted parquet
    with exactly-once sink semantics via checkpointed file sink."""
    stream = streaming_extract(stream_pages(spark, pages_path))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_path)


# ---------------------------------------------------------------------------
# streaming KG maintenance: fold each micro-batch into standing state
# ---------------------------------------------------------------------------
_DOCS_SCHEMA = "doc_id long, source string, text string"
# compact per-version tables: canon and exporters are dimension-sized,
# edges is the per-(subj, obj) aggregate — all cheap to rewrite per
# batch. Mention rows are CORPUS-sized and live as per-batch deltas
# under state_dir/mentions/d{batch_id} instead: standing mentions are
# never rewritten (an O(corpus) write per micro-batch otherwise), only
# appended — the Iceberg-append analogue.
_COMPACT_TABLES = ("canon", "exporters", "edges")


def _fold_stream(stream: DataFrame, state_dir: str, checkpoint: str, step,
                 retain: int, after_commit=None) -> Optional[int]:
    """Run ``stream`` availableNow to completion, folding each
    micro-batch into versioned state under ``state_dir``; -> the latest
    committed version (None when none ever committed).

    ``step(batch_df, batch_id, prev, write)`` is the fold itself: it
    reads committed version ``prev`` (None for the first batch), writes
    its tables with ``write(path_under_state_dir, df) -> rows`` and
    returns the batch's metrics columns (name -> int). Everything else
    lives here, once:

    - replay guard: a replayed batch whose version ``v{b}`` is committed
      only finishes the housekeeping a crash may have cut short;
    - frontier guard: a batch id below the committed frontier (a fresh
      checkpoint replaying folded files) is already in the state;
    - commit: every write of the batch removes ``v{b}/_OK`` first, the
      metrics row ``metrics/d{b}`` lands before the marker goes on, so
      a committed version always has its metrics row and a crash
      anywhere before the marker replays the whole batch;
    - retention: only the newest ``retain`` committed versions survive;
    - ``after_commit(spark, batch_id)`` (e.g. mention compaction)."""

    def versions() -> Dict[int, str]:
        return commit.dirs(state_dir, "v", committed=True)

    def housekeeping(s: SparkSession, batch_id: int) -> None:
        if retain and retain > 0:
            commit.drop_below(state_dir, "v", sorted(versions())[-retain:][0])
        if after_commit is not None:
            after_commit(s, batch_id)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        done = versions()
        if batch_id in done:
            housekeeping(s, batch_id)
            return
        if done and max(done) > batch_id:
            return
        t0 = time.time()
        marker = os.path.join(state_dir, f"v{batch_id}", commit.MARKER)

        def write(path: str, df: DataFrame) -> int:
            return commit.write(df, os.path.join(state_dir, path), marker)

        metrics = step(batch_df, batch_id, max(done) if done else None, write)
        row = {"batch_id": batch_id, **metrics, "wall_ms": int((time.time() - t0) * 1000)}
        # one row built in the JVM: a local Python list would start
        # Python workers for the write
        write(f"metrics/d{batch_id}", s.range(1, numPartitions=1).select(
            *[F.lit(v).cast("long").alias(c) for c, v in row.items()]))
        commit.mark(marker, {"batch_id": batch_id})
        housekeeping(s, batch_id)

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    done = versions()
    return max(done) if done else None


def _compact_frontier(state_dir: str, version: int) -> int:
    """Highest batch id covered by a committed mention compaction no
    newer than ``version`` (-1 when none): ``mentions/c{u}`` holds the
    union of deltas d0..d{u}, marker-committed like state versions."""
    mdir = os.path.join(state_dir, "mentions")
    return max((u for u in commit.dirs(mdir, "c", committed=True) if u <= version),
               default=-1)


def _mention_paths(state_dir: str, version: int) -> list:
    """Parquet dirs whose union is the standing mentions of batches
    0..version: the newest committed compaction plus the deltas past
    it. Deltas AT OR BELOW the compaction frontier are ignored even if
    still on disk (an interrupted post-compaction cleanup leaves them
    behind; reading both would double-count)."""
    lo = _compact_frontier(state_dir, version)
    paths = [os.path.join(state_dir, "mentions", f"c{lo}")] if lo >= 0 else []
    deltas = commit.dirs(os.path.join(state_dir, "mentions"), "d")
    return paths + [deltas[b] for b in range(lo + 1, version + 1) if b in deltas]


def _read_state(spark: SparkSession, state_dir: str, version: int):
    """Load version ``version``: compact tables from its v-dir, standing
    mentions as the UNION of the newest committed mention compaction and
    the per-batch deltas past it (deltas are append-only and exempt from
    retention, so they are all present even when older compact versions
    were cleaned up)."""
    from ..operators.incremental import KgState

    vdir = os.path.join(state_dir, f"v{version}")
    return KgState(
        mentions=_read_table(spark, "mentions", *_mention_paths(state_dir, version)),
        **{t: _read_table(spark, t, os.path.join(vdir, t)) for t in _COMPACT_TABLES},
    )


def _read_table(spark: SparkSession, table: str, *paths: str) -> DataFrame:
    """A KgState table read with the schema its writer wrote."""
    from ..operators.incremental import STATE_SCHEMAS

    return spark.read.schema(STATE_SCHEMAS[table]).parquet(*paths)


def _compact_mentions(spark: SparkSession, state_dir: str, batch_id: int, keep: int) -> None:
    """Bound the mention-store read fan-in: fold each micro-batch's
    delta dir forever and ``_read_state`` unions one directory per batch
    — unbounded for a long-running stream. When more than ``keep``
    deltas have accumulated past the compaction frontier, rewrite all
    but the newest ``keep`` (plus the prior compaction) into ONE
    parquet dir ``mentions/c{upto}``, committed through the same
    protocol as state versions, then drop what it covers. An unmarked
    c-dir is ignored; covered dirs left by an interrupted cleanup are
    ignored by the frontier-aware read path and dropped by the next
    compaction. Mention rows are never lost — compaction moves bytes,
    the append-only content is invariant (asserted in tests as fold ==
    full rebuild across compactions)."""
    mdir = os.path.join(state_dir, "mentions")
    lo = _compact_frontier(state_dir, batch_id)
    if sum(lo < b <= batch_id for b in commit.dirs(mdir, "d")) <= keep:
        return
    upto = batch_id - keep
    cdir = os.path.join(mdir, f"c{upto}")
    marker = os.path.join(cdir, commit.MARKER)
    commit.write(_read_table(spark, "mentions", *_mention_paths(state_dir, upto)),
                 cdir, marker)
    commit.mark(marker, {"upto": upto})
    commit.drop_below(mdir, "c", upto)
    commit.drop_below(mdir, "d", upto + 1)


def stream_kg_fold(
    spark: SparkSession,
    docs_path: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: int = 4,
    retain: int = 2,
    compact_keep: int = 8,
):
    """Checkpoint-resumable streaming KG maintenance: every micro-batch
    of documents-shaped rows folds into the standing KG state via
    ``operators.incremental.kg_state_fold`` (first batch builds it), so
    the graph stays current without ever recomputing old batches — the
    streaming twin of the kg_incremental query.

    Exactly-once state, by one protocol (``plans.commit``): marker
    off, write, atomic marker on; readers trust only markers. Batch
    ``b`` writes its compact tables to ``state_dir/v{b}/``, its mention
    delta to ``mentions/d{b}`` and its metrics row to ``metrics/d{b}``,
    then commits them all with ``v{b}/_OK``. The Structured Streaming
    checkpoint replays an interrupted batch with the SAME batch id,
    which either finds its marker (committed: no-op) or deterministically
    rewrites its own unmarked output. An Iceberg deployment swaps these
    for table snapshots + MERGE INTO.

    Batches must be append-only with increasing doc_ids across batches
    (the operators/incremental.py precondition). Runs availableNow to
    completion; returns the latest committed KgState read back from
    disk (None when no batch has ever committed).

    Mention deltas are corpus-sized and never rewritten, so a fold
    costs O(delta) write I/O, not O(corpus) (a bucketed-by-token layout
    would additionally let the broadcast probe prune its read). ``retain`` keeps the
    newest committed compact versions (folds only read the latest, so
    retention never breaks resume; deltas are exempt). ``compact_keep``
    bounds the delta fan-in: past that many deltas, the older ones are
    rewritten into one committed ``mentions/c{upto}`` dir and dropped,
    so a read unions at most ``compact_keep + 1`` dirs (0 disables).

    Per batch the fixed cost is Spark jobs, so the step spends none it
    can avoid: state is read with the schemas its writers wrote
    (``STATE_SCHEMAS``, no inference job), the batch's row count is
    observed during the fold's first materialization (no count job),
    ``kg_state_fold`` evaluates each delta-sized intermediate once, and
    the metrics row is built in the JVM. A 150-doc batch on 4 local
    cores, compaction included, runs 16 jobs."""
    from ..operators.incremental import kg_state_build, kg_state_fold

    def step(batch_df, b, prev, write):
        # the batch is read once: its row count is observed during the
        # fold's first (eager) materialization
        obs = Observation()
        docs = batch_df.observe(obs, F.count(F.lit(1)).alias("n_docs"))
        if prev is None:
            st = kg_state_build(docs)
        else:
            st = kg_state_fold(_read_state(batch_df.sparkSession, state_dir, prev), docs)
        for t in ("canon", "exporters"):
            write(f"v{b}/{t}", getattr(st, t))
        n_edges = write(f"v{b}/edges", st.edges)
        write(f"mentions/d{b}", st.mentions_delta)
        return {"n_docs": int(obs.get["n_docs"]), "n_edges": n_edges}

    def compact(s, b):
        if compact_keep and compact_keep > 0:
            _compact_mentions(s, state_dir, b, compact_keep)

    stream = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_path)
    )
    v = _fold_stream(stream, state_dir, checkpoint, step, retain, compact)
    return None if v is None else _read_state(spark, state_dir, v)


def read_fold_metrics(spark: SparkSession, state_dir: str) -> DataFrame:
    """All committed per-batch fold metrics rows (batch_id, then the
    fold's own columns, then wall_ms) — the run record of a fold store.
    A row past the committed frontier belongs to a batch that has not
    committed yet (it will be rewritten on replay) and is left out."""
    done = commit.dirs(state_dir, "v", committed=True)
    reader = spark.read
    # every row of one store has the columns of its fold step, all
    # long: read them off one row file's parquet footer with pyarrow,
    # not by an inferring Spark job
    part = next(iter(glob.glob(os.path.join(state_dir, "metrics", "d*", "*.parquet"))), None)
    if part is not None:
        reader = reader.schema(from_arrow_schema(pq.read_schema(part)))
    return reader.parquet(os.path.join(state_dir, "metrics", "d*")).where(
        F.col("batch_id") <= max(done, default=-1)
    )


# the whole-state tables of the two single-table folds, as written
_WORDS_SCHEMA = "word_idx long, word_bits long"
_RECENCY_SCHEMA = (
    "src_host string, ent string, n_sightings long, first_seen long, last_seen long"
)


def stream_url_seen(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    checkpoint: str,
    m_words: int | None = None,
    k: int | None = None,
    max_files_per_trigger: int = 4,
    retain: int = 2,
):
    """Checkpoint-resumable streaming crawl URL-seen filter: every
    micro-batch of pages PROBES its distinct urls against the standing
    Bloom filter (the count of already-seen urls is the re-crawl work a
    frontier would skip), then FOLDS them in via the word-wise bit_or
    semigroup (`operators.sketch.bloom_merge`) — the streaming twin of
    q_url_bloom, on the same fold driver as `stream_kg_fold` with one
    simplification: the entire state IS compact (<= m_words rows), so
    each version ``v{b}/words`` holds the whole filter and there is no
    delta/compaction tier. Returns the latest committed words DataFrame
    (None when no batch committed)."""
    from ..operators.sketch import (
        BLOOM_K,
        BLOOM_M_WORDS,
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    mw = m_words or BLOOM_M_WORDS
    kk = k or BLOOM_K

    # pin the filter geometry: merging filters built with different
    # (m_words, k) silently breaks the no-false-negative contract, so
    # the state dir records its geometry on first use and every later
    # run must match
    os.makedirs(state_dir, exist_ok=True)
    geo_path = os.path.join(state_dir, "_GEOMETRY")
    geo = f"{mw}:{kk}"
    if os.path.exists(geo_path):
        with open(geo_path, "r", encoding="utf-8") as fh:
            have = fh.read().strip()
        if have != geo:
            raise ValueError(
                f"bloom state at {state_dir} was built with geometry "
                f"{have} (m_words:k); refusing to fold with {geo}"
            )
    else:
        with open(geo_path, "w", encoding="utf-8") as fh:
            fh.write(geo)

    def step(batch_df, b, prev, write):
        # the distinct-url count is observed during the checkpoint; the
        # probe's hit count below is the metric itself, so it stays a job
        obs = Observation()
        urls = (batch_df.select("url").dropDuplicates()
                .observe(obs, F.count(F.lit(1)).alias("n_urls"))
                .localCheckpoint(eager=True))
        n_urls = int(obs.get["n_urls"])
        words = bloom_build(urls, m_words=mw, k=kk)
        n_seen = 0
        if prev is not None:
            old = batch_df.sparkSession.read.schema(_WORDS_SCHEMA).parquet(
                os.path.join(state_dir, f"v{prev}", "words"))
            n_seen = (bloom_probe(old, urls, m_words=mw, k=kk)
                      .where(F.col("bloom_hit") == 1).count())
            words = bloom_merge(old, words)
        n_words = write(f"v{b}/words", words)
        return {"n_urls": n_urls, "n_seen": n_seen, "n_words": n_words}

    stream = stream_pages(spark, pages_path, max_files_per_trigger)
    v = _fold_stream(stream, state_dir, checkpoint, step, retain)
    return None if v is None else spark.read.schema(_WORDS_SCHEMA).parquet(
        os.path.join(state_dir, f"v{v}", "words"))


def stream_edge_recency(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: int = 4,
    retain: int = 2,
):
    """Checkpoint-resumable streaming fold of the temporal edge-recency
    state (the streaming twin of `operators.webgraph.edge_recency`):
    each micro-batch of crawled pages contributes its (src_host, ent)
    mention sightings, and the standing state keeps per edge the
    additive sighting count plus the min/max observation epochs — a
    commutative semigroup, so fold order cannot change the result and
    fold == full rebuild EXACTLY (asserted by the tests against the
    batch operator on the unioned corpus; assumes each page-url arrives
    in one batch, the append-only crawl-snapshot contract the kg fold
    already documents). Same fold driver and layout as
    `stream_url_seen`: each version ``v{b}/edges`` holds the WHOLE
    (edge-dimension-sized) state. Returns the latest committed state
    (None when nothing committed); read staleness/active off it with
    `edge_recency_from_state`."""
    from ..operators.webgraph import _URL_HOST, extract_links

    def step(batch_df, b, prev, write):
        # counts without count jobs: the batch's edges are observed
        # during their checkpoint, the standing state's are summed from
        # its parquet footers
        obs = Observation()
        ts = batch_df.select("url", F.col("warc_ts").cast("long").alias("_ep"))
        cur = (
            extract_links(batch_df)
            .where(F.col("href").startswith("lib://"))
            .select(
                F.regexp_extract("url", _URL_HOST, 1).alias("src_host"),
                F.expr("substring(href, 7)").alias("ent"),
                "url",
            )
            .distinct()
            .join(ts, "url")
            .groupBy("src_host", "ent")
            .agg(
                F.count(F.lit(1)).alias("n_sightings"),
                F.min("_ep").cast("long").alias("first_seen"),
                F.max("_ep").cast("long").alias("last_seen"),
            )
            .observe(obs, F.count(F.lit(1)).alias("n_batch"))
            .localCheckpoint(eager=True)
        )
        n_batch = int(obs.get["n_batch"])
        merged, n_prev = cur, 0
        if prev is not None:
            old = batch_df.sparkSession.read.schema(_RECENCY_SCHEMA).parquet(
                os.path.join(state_dir, f"v{prev}", "edges"))
            merged = (
                old.unionByName(cur)
                .groupBy("src_host", "ent")
                .agg(
                    F.sum("n_sightings").cast("long").alias("n_sightings"),
                    F.min("first_seen").cast("long").alias("first_seen"),
                    F.max("last_seen").cast("long").alias("last_seen"),
                )
            )
            n_prev = sum(commit.footer_rows(old.inputFiles()).values())
        n_total = write(f"v{b}/edges", merged)
        return {"n_batch_edges": n_batch, "n_total_edges": n_total,
                "n_new_edges": n_total - n_prev}

    stream = stream_pages(spark, pages_path, max_files_per_trigger)
    v = _fold_stream(stream, state_dir, checkpoint, step, retain)
    return None if v is None else spark.read.schema(_RECENCY_SCHEMA).parquet(
        os.path.join(state_dir, f"v{v}", "edges"))


def edge_recency_from_state(state: "DataFrame", horizon_s: int = 120):
    """Staleness/active readout over a folded edge-recency state —
    identical column contract to the batch operator, so fold-then-read
    equals rebuild (the corpus max observation is a driver literal off
    the dimension-sized state, the same discipline as the batch op)."""
    if horizon_s < 0:
        raise ValueError(f"horizon_s must be >= 0, got {horizon_s}")
    row = state.agg(F.max("last_seen")).first()
    max_ts = int(row[0]) if row[0] is not None else 0
    return state.select(
        "src_host",
        "ent",
        "n_sightings",
        "first_seen",
        "last_seen",
        (F.lit(max_ts) - F.col("last_seen")).cast("long").alias("staleness_s"),
        ((F.lit(max_ts) - F.col("last_seen")) <= F.lit(horizon_s)).alias(
            "active"
        ),
    )
