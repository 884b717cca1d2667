"""Streaming KG maintenance: availableNow micro-batches fold into
versioned state snapshots; a later run resumes from the checkpoint and
folds only new files; replayed batches are idempotent via the marker.
"""

import os

import pytest
from pyspark.sql import functions as F

from surfactant_spark.operators.incremental import edges_surface, kg_state_build
from surfactant_spark.streaming.incremental import stream_kg_fold
from tests.conftest import SF_DIR, jobs_so_far


def _docs(spark, lo, hi):
    return (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select("doc_id", "source", "text")
    )


def _edge_set(df):
    return {tuple(r) for r in df.collect()}


def test_stream_fold_resumes_and_matches_batch_build(spark, tmp_path):
    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # batch A arrives
    _docs(spark, 0, 60).coalesce(1).write.mode("append").parquet(src)
    st = stream_kg_fold(spark, src, state, ckpt)
    got_a = _edge_set(edges_surface(st))
    want_a = _edge_set(edges_surface(kg_state_build(_docs(spark, 0, 60))))
    assert got_a == want_a

    # batch B arrives later; the checkpoint resumes and folds ONLY it
    _docs(spark, 60, 120).coalesce(1).write.mode("append").parquet(src)
    st = stream_kg_fold(spark, src, state, ckpt)
    got_ab = _edge_set(edges_surface(st))
    want_ab = _edge_set(edges_surface(kg_state_build(_docs(spark, 0, 120))))
    assert got_ab == want_ab

    # two committed versions, monotone
    versions = sorted(
        int(v[1:]) for v in os.listdir(state)
        if v.startswith("v") and os.path.exists(os.path.join(state, v, "_OK"))
    )
    assert len(versions) == 2

    # no new files -> no new state version, state unchanged
    st = stream_kg_fold(spark, src, state, ckpt)
    assert _edge_set(edges_surface(st)) == got_ab
    after = [v for v in os.listdir(state) if v.startswith("v")]
    assert len(after) == 2


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Simulate a replay: drop the marker of the last version (a fold
    that committed its parquet but 'died' before... the inverse — a
    marked fold replayed) by calling the fold again over the same
    checkpoint; the marker short-circuits and nothing changes."""
    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _docs(spark, 0, 40).coalesce(1).write.mode("append").parquet(src)
    st1 = stream_kg_fold(spark, src, state, ckpt)
    e1 = _edge_set(edges_surface(st1))
    # fresh checkpoint over the same files replays batch 0 against the
    # already-marked v0 -> marker no-op, state identical
    st2 = stream_kg_fold(spark, src, state, str(tmp_path / "ckpt2"))
    assert _edge_set(edges_surface(st2)) == e1


def test_state_retention_bounds_versions(spark, tmp_path):
    """retain=1: after three micro-batches (one file per trigger) only
    the newest committed version survives, and the final state still
    equals the full batch build."""
    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        _docs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
    st = stream_kg_fold(
        spark, src, state, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, retain=1,
    )
    committed = [
        v for v in os.listdir(state)
        if v.startswith("v") and os.path.exists(os.path.join(state, v, "_OK"))
    ]
    assert len(committed) == 1
    want = _edge_set(edges_surface(kg_state_build(_docs(spark, 0, 90))))
    assert _edge_set(edges_surface(st)) == want


def test_mention_deltas_append_only(spark, tmp_path):
    """Standing mentions must never be rewritten: after a second fold,
    batch 0's mention delta parquet files are byte-for-byte untouched,
    compact versions hold no mentions table, and deltas survive
    retention."""
    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _docs(spark, 0, 60).coalesce(1).write.mode("append").parquet(src)
    stream_kg_fold(spark, src, state, ckpt, retain=1)
    d0 = os.path.join(state, "mentions", "d0")
    before = {
        f: os.path.getmtime(os.path.join(d0, f)) for f in os.listdir(d0)
    }
    _docs(spark, 60, 120).coalesce(1).write.mode("append").parquet(src)
    st = stream_kg_fold(spark, src, state, ckpt, retain=1)
    after = {
        f: os.path.getmtime(os.path.join(d0, f)) for f in os.listdir(d0)
    }
    assert after == before  # delta 0 untouched by the second fold
    versions = [v for v in os.listdir(state) if v.startswith("v")]
    assert versions == ["v1"]  # retention removed v0's compact tables
    assert sorted(os.listdir(os.path.join(state, "mentions"))) == ["d0", "d1"]
    for v in versions:
        assert "mentions" not in os.listdir(os.path.join(state, v))
    want = _edge_set(edges_surface(kg_state_build(_docs(spark, 0, 120))))
    assert _edge_set(edges_surface(st)) == want


def test_fold_metrics_per_batch(spark, tmp_path):
    """Every fold writes one metrics row; a checkpoint-resumed run adds
    exactly one more; a no-op replay adds none."""
    from surfactant_spark.streaming.incremental import read_fold_metrics

    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _docs(spark, 0, 50).coalesce(1).write.mode("append").parquet(src)
    stream_kg_fold(spark, src, state, ckpt)
    m1 = {r.batch_id: r for r in read_fold_metrics(spark, state).collect()}
    assert list(m1) == [0] and m1[0].n_docs == 50 and m1[0].n_edges > 0

    _docs(spark, 50, 100).coalesce(1).write.mode("append").parquet(src)
    stream_kg_fold(spark, src, state, ckpt)
    m2 = {r.batch_id: r for r in read_fold_metrics(spark, state).collect()}
    assert sorted(m2) == [0, 1] and m2[1].n_docs == 50
    assert m2[0].n_docs == 50  # batch 0's row untouched

    stream_kg_fold(spark, src, state, ckpt)  # nothing new
    assert read_fold_metrics(spark, state).count() == 2


def test_delta_compaction_bounds_fanin_and_resumes(spark, tmp_path):
    """compact_keep=1 over five micro-batches: the mention store ends
    as ONE marker-committed compaction plus the newest delta (read
    fan-in bounded), a checkpoint resume folds across the compaction,
    and the final state still equals the full batch build."""
    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for lo, hi in ((0, 20), (20, 40), (40, 60), (60, 80)):
        _docs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
    stream_kg_fold(
        spark, src, state, ckpt, max_files_per_trigger=1,
        retain=1, compact_keep=1,
    )
    mdir = os.path.join(state, "mentions")
    assert sorted(os.listdir(mdir)) == ["c2", "d3"]
    assert os.path.exists(os.path.join(mdir, "c2", "_OK"))

    # resume: one more batch arrives; the fold reads c2 + d3, folds d4,
    # then compacts c2+d3 -> c3
    _docs(spark, 80, 100).coalesce(1).write.mode("append").parquet(src)
    st = stream_kg_fold(
        spark, src, state, ckpt, max_files_per_trigger=1,
        retain=1, compact_keep=1,
    )
    assert sorted(os.listdir(mdir)) == ["c3", "d4"]
    want = _edge_set(edges_surface(kg_state_build(_docs(spark, 0, 100))))
    assert _edge_set(edges_surface(st)) == want


def test_compaction_read_ignores_covered_leftovers(spark, tmp_path):
    """An interrupted post-compaction cleanup leaves covered delta dirs
    on disk; the frontier-aware read path must ignore them (reading
    both the compaction and a covered delta would double-count
    mentions and inflate n_evidence)."""
    from surfactant_spark.streaming.incremental import _read_state

    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    for lo, hi in ((0, 30), (30, 60)):
        _docs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
    st = stream_kg_fold(
        spark, src, state, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, retain=2, compact_keep=1,
    )
    clean = _edge_set(edges_surface(st))
    # simulate the interrupted cleanup: resurrect d0 (covered by c0)
    mdir = os.path.join(state, "mentions")
    assert sorted(os.listdir(mdir)) == ["c0", "d1"]
    _docs(spark, 0, 30).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state, "_tmp_docs")
    )
    from surfactant_spark.operators.incremental import kg_state_build as _b

    _b(spark.read.parquet(os.path.join(state, "_tmp_docs"))).mentions_delta \
        .write.mode("overwrite").parquet(os.path.join(mdir, "d0"))
    st2 = _read_state(spark, state, 1)
    assert _edge_set(edges_surface(st2)) == clean  # d0 ignored, no double-count


def _schema_of(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _assert_declared(spark, ddl, path):
    """The schema a reader declares for ``path`` names the columns and
    types the writer wrote there."""
    assert _schema_of(spark.read.schema(ddl).parquet(path)) == _schema_of(
        spark.read.parquet(path)), path


def test_declared_schemas_match_written(spark, tmp_path):
    """Fold state is read with declared schemas, not inferred ones: for
    every directory three folded batches leave (compact tables, mention
    deltas, a mention compaction, metrics rows), the declared schema
    has the written field names and types."""
    from surfactant_spark.operators.incremental import STATE_SCHEMAS
    from surfactant_spark.plans import commit
    from surfactant_spark.streaming.incremental import read_fold_metrics

    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        _docs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
    stream_kg_fold(spark, src, state, str(tmp_path / "ckpt"),
                   max_files_per_trigger=1, retain=2, compact_keep=1)
    mdir = os.path.join(state, "mentions")
    assert sorted(os.listdir(mdir)) == ["c1", "d2"]
    for v in commit.dirs(state, "v").values():
        for t in ("canon", "exporters", "edges"):
            _assert_declared(spark, STATE_SCHEMAS[t], os.path.join(v, t))
    for name in os.listdir(mdir):
        _assert_declared(spark, STATE_SCHEMAS["mentions"], os.path.join(mdir, name))
    metrics = read_fold_metrics(spark, state)
    assert metrics.count() == 3
    assert _schema_of(metrics) == _schema_of(
        spark.read.parquet(os.path.join(state, "metrics", "d*")))


def test_fold_batch_job_count(spark, tmp_path):
    """One micro-batch folded into a standing state (compact_keep=2, so
    this batch also compacts the mention store) costs a bounded number
    of Spark jobs: no schema-inference reads, no count of the batch, no
    Python-worker job for the metrics row and no write that re-runs a
    shared plan. Measured on this corpus: 17 jobs; 45 when every read
    inferred its schema and every write re-ran the shared plans."""
    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(max_files_per_trigger=1, retain=2, compact_keep=2)
    for lo, hi in ((0, 30), (30, 60)):
        _docs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
    stream_kg_fold(spark, src, state, ckpt, **kw)
    _docs(spark, 60, 90).coalesce(1).write.mode("append").parquet(src)
    j0 = jobs_so_far(spark)
    st = stream_kg_fold(spark, src, state, ckpt, **kw)
    jobs = jobs_so_far(spark) - j0
    assert os.path.isdir(os.path.join(state, "mentions", "c0"))  # compacted
    assert jobs <= 24, f"one fold batch ran {jobs} Spark jobs"
    want = _edge_set(edges_surface(kg_state_build(_docs(spark, 0, 90))))
    assert _edge_set(edges_surface(st)) == want


def test_zero_row_batch_commits_unchanged_state(spark, tmp_path):
    """A micro-batch file with no rows commits its version with
    n_docs 0 and leaves the edges as they were, without waiting
    forever for a row count that no row produces."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from surfactant_spark.streaming.incremental import read_fold_metrics

    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for lo, hi in ((0, 30), (30, 60)):
        _docs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
    before = _edge_set(edges_surface(stream_kg_fold(
        spark, src, state, ckpt, max_files_per_trigger=1)))
    empty = pa.table({"doc_id": pa.array([], pa.int64()),
                      "source": pa.array([], pa.string()),
                      "text": pa.array([], pa.string())})
    pq.write_table(empty, os.path.join(src, "empty.parquet"))
    out = {}
    t = threading.Thread(
        target=lambda: out.update(st=stream_kg_fold(
            spark, src, state, ckpt, max_files_per_trigger=1)),
        daemon=True)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive(), "fold of a zero-row batch did not finish"
    assert os.path.exists(os.path.join(state, "v2", "_OK"))
    m = {r.batch_id: r for r in read_fold_metrics(spark, state).collect()}
    assert sorted(m) == [0, 1, 2] and m[2].n_docs == 0
    assert _edge_set(edges_surface(out["st"])) == before


CRASH_POINTS = (
    "delta_write", "metrics_row", "marker", "retention", "compaction",
    "compaction_cleanup",
)


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_fold_crash_recovers(spark, tmp_path, monkeypatch, point):
    """Crash injection at each step of one batch's commit: after its
    delta write (before the metrics row), after the metrics row (before
    the marker), after the marker (before retention), halfway through
    retention (marker off, data still there), during mention
    compaction (before its marker) and during the compaction's
    cleanup. Batch 2 of 3 crashes with retain=1 and compact_keep=1, so
    retention and compaction both fire on it. The checkpoint replays
    the batch; the resumed fold must equal a full rebuild over every
    doc with exactly one metrics row per batch, and leave the same
    layout a crash-free run does."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import surfactant_spark.plans.commit as commit
    import surfactant_spark.streaming.incremental as si

    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    v2_marker = os.path.join(state, "v2", "_OK")

    def boom():
        raise RuntimeError(f"injected crash: {point}")

    real_write, real_mark, real_drop = commit.write, commit.mark, commit.drop_below

    def write(df, path, marker, partition_by=None):
        if point == "delta_write" and path == os.path.join(state, "metrics", "d2"):
            boom()
        return real_write(df, path, marker, partition_by)

    def mark(marker, info):
        if (point == "metrics_row" and marker == v2_marker) or (
            point == "compaction" and marker.endswith(os.path.join("c1", "_OK"))
        ):
            boom()
        real_mark(marker, info)
        if point == "marker" and marker == v2_marker:
            boom()

    def drop_below(root, prefix, floor):
        if point == "retention" and prefix == "v" and floor == 2:
            os.remove(os.path.join(root, "v1", "_OK"))  # marker off, data stays
            boom()
        if point == "compaction_cleanup" and prefix == "d" and floor == 2:
            boom()
        real_drop(root, prefix, floor)

    monkeypatch.setattr(commit, "write", write)
    monkeypatch.setattr(commit, "mark", mark)
    monkeypatch.setattr(commit, "drop_below", drop_below)
    for lo, hi in ((0, 20), (20, 40), (40, 60)):
        _docs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
    kw = dict(max_files_per_trigger=1, retain=1, compact_keep=1)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        si.stream_kg_fold(spark, src, state, ckpt, **kw)
    if point in ("delta_write", "metrics_row"):
        # batch 2's data landed, but readers trust nothing of it yet
        assert not os.path.exists(v2_marker)
        assert max(commit.dirs(state, "v", committed=True)) == 1
        got = sorted(r.batch_id for r in si.read_fold_metrics(spark, state).collect())
        assert got == [0, 1]

    # recovery: the same checkpoint replays batch 2, then folds batch 3
    monkeypatch.undo()
    _docs(spark, 60, 80).coalesce(1).write.mode("append").parquet(src)
    st = si.stream_kg_fold(spark, src, state, ckpt, **kw)
    rebuilt = kg_state_build(_docs(spark, 0, 80))
    assert _edge_set(edges_surface(st)) == _edge_set(edges_surface(rebuilt))
    assert st.mentions.count() == rebuilt.mentions.count()  # none read twice
    m = sorted((r.batch_id, r.n_docs) for r in si.read_fold_metrics(spark, state).collect())
    assert m == [(b, 20) for b in range(4)]
    assert sorted(v for v in os.listdir(state) if v.startswith("v")) == ["v3"]
    assert sorted(os.listdir(os.path.join(state, "mentions"))) == ["c2", "d3"]


def test_torn_fold_marker_is_not_committed(spark, tmp_path):
    """A truncated version marker and a leftover marker temp file are
    both "not committed": the version is refolded on replay, never
    trusted and never a JSON decode error."""
    from surfactant_spark.plans import commit

    src = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    _docs(spark, 0, 30).coalesce(1).write.mode("append").parquet(src)
    st = stream_kg_fold(spark, src, state, str(tmp_path / "ckpt"))
    want = _edge_set(edges_surface(st))
    marker = os.path.join(state, "v0", "_OK")
    with open(marker, encoding="utf-8") as f:
        body = f.read()
    with open(marker, "w", encoding="utf-8") as f:
        f.write(body[: len(body) // 2])
    assert commit.dirs(state, "v", committed=True) == {}
    os.remove(marker)
    with open(marker + ".tmp", "w", encoding="utf-8") as f:
        f.write(body)
    assert commit.dirs(state, "v", committed=True) == {}
    st = stream_kg_fold(spark, src, state, str(tmp_path / "ckpt2"))
    assert _edge_set(edges_surface(st)) == want
    assert commit.marker_info(marker) == {"batch_id": 0}


# ---------------------------------------------------------------------------
# streaming URL-seen Bloom fold (round-5 post-window addition)
# ---------------------------------------------------------------------------
def _pages(spark, lo, hi):
    """Slices of ONE fixed 110-page corpus: make_corpus is not
    prefix-stable across different n (hot-domain share scales with n),
    so batches must all come from the same generated frame."""
    from surfactant_spark.synth import make_corpus, pages_to_spark

    pdf, _ = make_corpus(110, seed=11)
    return pages_to_spark(spark, pdf.iloc[lo:hi])


def _words_set(df):
    return {(r.word_idx, r.word_bits) for r in df.collect()}


def test_stream_url_seen_folds_and_counts_repeats(spark, tmp_path):
    from surfactant_spark.operators.sketch import bloom_build
    from surfactant_spark.streaming.incremental import stream_url_seen

    src = str(tmp_path / "pages")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    a = _pages(spark, 0, 60)
    a.coalesce(1).write.mode("append").parquet(src)
    words = stream_url_seen(spark, src, state, ckpt)
    assert _words_set(words) == _words_set(
        bloom_build(a.select("url").dropDuplicates())
    )

    # batch B: 30 new pages + re-crawl of 20 already-seen urls — the
    # probe-before-fold metric must count every repeat (no false
    # negatives), and the folded filter must equal the one-shot build
    b_new = _pages(spark, 60, 90)
    b = b_new.unionByName(_pages(spark, 0, 20))
    b.coalesce(1).write.mode("append").parquet(src)
    j0 = jobs_so_far(spark)
    words = stream_url_seen(spark, src, state, ckpt)
    # the distinct-url count is observed during the batch's checkpoint:
    # 10 jobs here, 12 with a count job over the checkpoint
    jobs = jobs_so_far(spark) - j0
    assert jobs <= 11, f"one url-seen batch ran {jobs} Spark jobs"
    allp = _pages(spark, 0, 90)
    assert _words_set(words) == _words_set(
        bloom_build(allp.select("url").dropDuplicates())
    )
    import os

    from surfactant_spark.streaming.incremental import read_fold_metrics

    m = {r.batch_id: r for r in read_fold_metrics(spark, state).collect()}
    assert m[0].n_seen == 0
    assert m[1].n_seen >= 20  # every re-crawled url hits; FPs may add
    assert m[1].n_urls == b.select("url").dropDuplicates().count()

    # replay with a fresh checkpoint: markers short-circuit, state same
    words2 = stream_url_seen(spark, src, state, str(tmp_path / "ckpt2"))
    assert _words_set(words2) == _words_set(words)

    from surfactant_spark.streaming.incremental import _WORDS_SCHEMA

    _assert_declared(spark, _WORDS_SCHEMA, os.path.join(state, "v1", "words"))

    # batch C: a third fold makes retention actually DELETE v0
    _pages(spark, 90, 110).coalesce(1).write.mode("append").parquet(src)
    words = stream_url_seen(spark, src, state, ckpt)
    allp = _pages(spark, 0, 110)
    assert _words_set(words) == _words_set(
        bloom_build(allp.select("url").dropDuplicates())
    )
    vs = sorted(v for v in os.listdir(state) if v.startswith("v"))
    assert vs == ["v1", "v2"]

    # stale replay below the pruned frontier: a fresh checkpoint packs
    # everything into batch 0 (whose version retention deleted); the
    # frontier guard must skip it — state AND the metrics history stay
    # intact (no n_seen=0 rewrite of d0)
    m_before = {r.batch_id: r.n_seen for r in read_fold_metrics(spark, state).collect()}
    words3 = stream_url_seen(spark, src, state, str(tmp_path / "ckpt3"))
    assert _words_set(words3) == _words_set(words)
    m_after = {r.batch_id: r.n_seen for r in read_fold_metrics(spark, state).collect()}
    assert m_after == m_before
    assert sorted(v for v in os.listdir(state) if v.startswith("v")) == ["v1", "v2"]

    # geometry pin: a later run with different m_words must refuse
    import pytest

    with pytest.raises(ValueError, match="geometry"):
        stream_url_seen(spark, src, state, str(tmp_path / "ckpt4"), m_words=64)


def _web_pages_df(spark, lo, hi):
    """Slices of ONE fixed synthetic web corpus (same rationale as
    _pages: the generator is not prefix-stable across n)."""
    import pandas as pd

    from surfactant_spark.fixtures import synth_web_pages
    from surfactant_spark.schema import PAGES

    d = synth_web_pages(120)
    pdf = pd.DataFrame(d).iloc[lo:hi].copy()
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], unit="s", utc=True)
    return spark.createDataFrame(pdf, PAGES)


def test_stream_edge_recency_fold_equals_rebuild(spark, tmp_path):
    from surfactant_spark.operators.webgraph import edge_recency
    from surfactant_spark.streaming.incremental import (
        edge_recency_from_state,
        read_fold_metrics,
        stream_edge_recency,
    )

    src = str(tmp_path / "pages")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def rows(df):
        return {tuple(r) for r in df.collect()}

    _web_pages_df(spark, 0, 70).coalesce(1).write.mode("append").parquet(src)
    st = stream_edge_recency(spark, src, state, ckpt)
    want = edge_recency(_web_pages_df(spark, 0, 70), horizon_s=60)
    assert rows(edge_recency_from_state(st, 60)) == rows(want)

    # second batch folds in; state must equal the one-shot rebuild
    _web_pages_df(spark, 70, 120).coalesce(1).write.mode("append").parquet(src)
    j0 = jobs_so_far(spark)
    st = stream_edge_recency(spark, src, state, ckpt)
    # the batch's edge count is observed during its checkpoint and the
    # standing state's is summed from parquet footers: 8 jobs here, 12
    # with a count job over each
    jobs = jobs_so_far(spark) - j0
    assert jobs <= 10, f"one edge-recency batch ran {jobs} Spark jobs"
    want = edge_recency(_web_pages_df(spark, 0, 120), horizon_s=60)
    assert rows(edge_recency_from_state(st, 60)) == rows(want)

    from surfactant_spark.streaming.incremental import _RECENCY_SCHEMA

    _assert_declared(spark, _RECENCY_SCHEMA, os.path.join(state, "v1", "edges"))
    m = {r.batch_id: r for r in read_fold_metrics(spark, state).collect()}
    assert set(m) == {0, 1}
    assert m[1].n_total_edges >= m[1].n_new_edges >= 0
    assert m[0].n_new_edges == m[0].n_total_edges

    # replay with a fresh checkpoint: markers short-circuit, state same
    st2 = stream_edge_recency(spark, src, state, str(tmp_path / "ckpt2"))
    assert rows(st2) == rows(st)

    import pytest

    with pytest.raises(ValueError):
        edge_recency_from_state(st, horizon_s=-1)
