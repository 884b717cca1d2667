"""Web-graph family unit tests: hyperlink extraction, host graph,
anchor-text mining, URL canonicalization, co-mention lift — small
hand-computed cases plus distributed-plan-shape guards.

(The cross-engine oracle replay for the same queries runs in
test_entry.py::test_query_matches_oracle like every other family.)
"""

from pyspark.sql import functions as F

from surfactant_spark.operators.webgraph import (
    anchor_stats,
    comention_lift,
    extract_links,
    host_graph,
    host_metrics,
    url_canonicalize,
)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in rows], "url string, html binary"
    )


def test_extract_links_basic(spark):
    df = _pages(
        spark,
        [
            (
                "https://a.org/1",
                '<p>x</p><a href="lib://foo">foo</a> <a href="https://b.org/p">B</a>',
            ),
            ("https://a.org/2", "<p>no links</p>"),
        ],
    )
    got = {tuple(r) for r in extract_links(df).collect()}
    assert got == {
        ("https://a.org/1", "lib://foo", "foo"),
        ("https://a.org/1", "https://b.org/p", "B"),
    }


def test_host_graph_unwraps_bundle_and_counts(spark):
    df = _pages(
        spark,
        [
            (
                "https://src.org/1",
                '<a href="bundle://https://dst.org/x">x</a>'
                '<a href="https://dst.org/y">y</a>'
                '<a href="lib://notaurl">n</a>',
            ),
            ("https://src.org/2", '<a href="https://dst.org/z">z</a>'),
        ],
    )
    rows = {tuple(r) for r in host_graph(df).collect()}
    assert rows == {("src.org", "dst.org", 3, 2)}


def test_host_graph_pathless_query_and_fragment_urls(spark):
    """A path-less target with a query or fragment must still key on
    the bare host, not 'host?x=1' / 'host#frag' (real crawl data has
    such links even though the synthetic fixture does not)."""
    df = _pages(
        spark,
        [
            (
                "https://src.org?utm=1",
                '<a href="https://dst.org?x=1">q</a>'
                '<a href="https://dst.org#frag">f</a>'
                '<a href="https://dst.org:8080/p">port</a>',
            ),
        ],
    )
    rows = {tuple(r) for r in host_graph(df).collect()}
    assert rows == {
        ("src.org", "dst.org", 2, 1),
        # a distinct port is a distinct authority (RFC 3986 §3.2)
        ("src.org", "dst.org:8080", 1, 1),
    }


def test_host_metrics_degrees_and_reciprocity(spark):
    # a -> b (2 links), b -> a (1 link), a -> c: reciprocal pair (a,b)
    df = _pages(
        spark,
        [
            (
                "https://a.org/1",
                '<a href="https://b.org/x">.</a><a href="https://b.org/y">.</a>'
                '<a href="https://c.org/z">.</a>',
            ),
            ("https://b.org/1", '<a href="https://a.org/w">.</a>'),
        ],
    )
    rows = {r.host: r for r in host_metrics(df).collect()}
    assert set(rows) == {"a.org", "b.org", "c.org"}
    a, b, c = rows["a.org"], rows["b.org"], rows["c.org"]
    assert (a.out_deg, a.in_deg, a.out_links, a.in_links, a.reciprocal) == (2, 1, 3, 1, 1)
    assert (b.out_deg, b.in_deg, b.out_links, b.in_links, b.reciprocal) == (1, 1, 1, 2, 1)
    assert (c.out_deg, c.in_deg, c.out_links, c.in_links, c.reciprocal) == (0, 1, 0, 1, 0)


def test_anchor_stats_top_text_by_count_then_text(spark):
    df = _pages(
        spark,
        [
            ("u1", '<a href="lib://e">alpha</a><a href="lib://e">beta</a>'),
            ("u2", '<a href="lib://e">beta</a>'),
        ],
    )
    row = anchor_stats(df).collect()[0]
    assert (row.href, row.n_anchors, row.n_texts, row.top_text) == (
        "lib://e", 3, 2, "beta",
    )
    # tie on count -> lexicographically first text wins
    df2 = _pages(spark, [("u1", '<a href="lib://e">b</a><a href="lib://e">a</a>')])
    assert anchor_stats(df2).collect()[0].top_text == "a"


def test_url_canonicalize_cases(spark):
    cases = {
        "https://site.org/p/1.html": "https://site.org/p/1.html",
        "HTTPS://SITE.ORG/p/1.html": "https://site.org/p/1.html",
        "https://site.org:443/p/1.html": "https://site.org/p/1.html",
        "http://Site.Org:80/a": "http://site.org/a",
        "https://site.org/p/1.html#frag": "https://site.org/p/1.html",
        "https://SITE.org": "https://site.org/",
        "https://site.org/": "https://site.org/",
        # non-default port survives; path case survives
        "https://site.org:8443/P": "https://site.org:8443/P",
        # no scheme -> untouched except fragment strip
        "site.org/x#y": "site.org/x",
    }
    df = spark.createDataFrame([(k,) for k in cases], "u string")
    got = dict(
        df.select("u", url_canonicalize(F.col("u")).alias("c")).collect()
    )
    assert got == cases


def test_comention_lift_hand_computed(spark):
    # e1 on both pages, e2 on page1, e3 on page2 (twice -> distinct once)
    df = _pages(
        spark,
        [
            ("u1", '<a href="lib://e1">.</a><a href="lib://e2">.</a>'),
            (
                "u2",
                '<a href="lib://e1">.</a><a href="lib://e3">.</a>'
                '<a href="lib://e3">.</a>',
            ),
        ],
    )
    rows = {(r.ent_a, r.ent_b): r for r in comention_lift(df).collect()}
    assert set(rows) == {("e1", "e2"), ("e1", "e3")}
    r = rows[("e1", "e2")]
    # n_ab=1, N=2, n_a=2, n_b=1 -> lift = 2/2 = 1.0
    assert (r.n_ab, r.n_a, r.n_b, r.n_docs, r.lift) == (1, 2, 1, 2, 1.0)


def test_webgraph_plan_shapes(spark):
    """No cartesian/nested-loop anywhere in the family: the global doc
    count is a driver literal off the eager checkpoint, the pair join
    is an equi join on the page url."""
    from surfactant_spark.queries import (
        q_anchor_texts,
        q_entity_pmi,
        q_host_graph,
        q_host_metrics,
        q_url_canon,
    )

    for q in (q_host_graph, q_host_metrics, q_anchor_texts, q_url_canon, q_entity_pmi):
        plan = q(spark, "unused")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        assert "PythonUDF" not in plan, q.__name__


def test_host_rank_driver_and_distributed_paths_agree(spark):
    """String node ids through both pagerank paths: the driver
    recurrence (dimension-sized dispatch) and the distributed
    checkpointed loop produce identical integer ranks."""
    from surfactant_spark.operators.graphrank import pagerank_auto, pagerank_fixed
    from surfactant_spark.queries import _fixture_paths

    p = _fixture_paths()
    edges = host_graph(spark.read.parquet(p["web_pages"])).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst"), "n_links"
    )
    auto = {(r.id, r.rank) for r in pagerank_auto(edges, weight_col="n_links").collect()}
    dist = {(r.id, r.rank) for r in pagerank_fixed(edges, weight_col="n_links").collect()}
    assert auto == dist and auto


from hypothesis import given, settings, strategies as st

_host_st = st.text(
    alphabet="abcXYZ09.-", min_size=1, max_size=10
).filter(lambda h: not h.startswith("-"))
_url_st = st.builds(
    lambda scheme, host, port, path, frag: (
        f"{scheme}://{host}"
        + (f":{port}" if port else "")
        + (f"/{path}" if path is not None else "")
        + (f"#{frag}" if frag is not None else "")
    ),
    st.sampled_from(["http", "https", "HTTP", "HTTPS", "hTtPs", "ftp"]),
    _host_st,
    st.sampled_from([None, 80, 443, 8080]),
    st.one_of(st.none(), st.text(alphabet="abP09/_.-", max_size=8)),
    st.one_of(st.none(), st.text(alphabet="abc#?", max_size=4)),
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_url_st, min_size=1, max_size=30))
def test_url_canonicalize_idempotent(spark, urls):
    """canon(canon(u)) == canon(u) for arbitrary scheme/host/port/path/
    fragment combinations — the property a crawl frontier needs to key
    on canonical urls without re-normalizing."""
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = url_canonicalize(F.col("u"))
    rows = df.select(
        once.alias("c1"), url_canonicalize(once).alias("c2")
    ).collect()
    for r in rows:
        assert r.c1 == r.c2, (r.c1, r.c2)


_html_st = st.text(
    alphabet='<>ab"c/=# \nhref', max_size=120
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_html_st, min_size=1, max_size=20))
def test_extract_links_total_on_arbitrary_markup(spark, bodies):
    """extract_links is total over arbitrary (broken) markup: it never
    throws, and every href/anchor it emits appears verbatim inside its
    page's html."""
    rows = [(f"u{i}", b.encode("utf-8")) for i, b in enumerate(bodies)]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = extract_links(df).collect()
    by_url = dict(rows)
    for r in got:
        h = by_url[r.url].decode("utf-8")
        assert f'href="{r.href}"' in h
        assert f">{r.anchor}</a>" in h


def test_comention_lift_empty_mentions(spark):
    """A corpus with no lib:// links yields an empty result, not an
    error (the driver-literal N path must tolerate the empty agg)."""
    df = _pages(spark, [("u1", '<a href="https://x.org/p">t</a>'), ("u2", "<p>n</p>")])
    assert comention_lift(df).count() == 0


def test_web_oracles_green_at_two_fixture_sizes(spark, ddb):
    """The web-graph oracles must hold on the sf-proportional corpus
    family, not just the 250-page driver fixture: run host_graph /
    host_metrics / anchor_texts at two staged sizes against the same
    DuckDB SQL builders the registry uses (make_corpus is
    deterministic at every n, so both engines read identical bytes)."""
    from surfactant_spark.fixtures import stage_web_pages
    from surfactant_spark.operators.webgraph import (
        anchor_stats,
        host_graph,
        host_metrics,
    )
    from surfactant_spark.queries import (
        _sql_anchor_texts,
        _sql_host_graph,
        _sql_host_metrics,
    )
    from tests.test_entry import _normalize, _values_equal

    for n in (250, 1000):
        path = stage_web_pages(n)
        pages = spark.read.parquet(path)
        cases = [
            (host_graph(pages), _sql_host_graph(path)),
            (host_metrics(pages), _sql_host_metrics(path)),
            (anchor_stats(pages), _sql_anchor_texts(path)),
        ]
        for df, sql in cases:
            got, want = _normalize(df.toPandas()), _normalize(ddb.execute(sql).fetchdf())
            assert len(got) > 0 and len(got) == len(want), (n, sql[:60])
            for c in got.columns:
                for x, y in zip(got[c], want[c]):
                    assert _values_equal(x, y), (n, c, x, y)


def test_web_pages_env_knob_keeps_engines_aligned(monkeypatch):
    """SPARK_GRAFT_WEB_N scales BOTH the Spark fixture and the oracle
    path to the same file — a knob that moved only one side would
    silently compare different corpora."""
    import importlib

    import surfactant_spark.queries as q

    monkeypatch.setattr(q, "WEB_PAGES_N", 1000)
    assert q._web_pages_file().endswith("web_pages_n1000.parquet")
    monkeypatch.setattr(q, "WEB_PAGES_N", 250)
    assert q._web_pages_file().endswith("web_pages.parquet")
    # the staged per-size file is what _read_web_pages loads
    from surfactant_spark.fixtures import fixture_dir, stage_web_pages

    import os

    assert stage_web_pages(1000) == os.path.join(
        fixture_dir(), "web_pages_n1000.parquet"
    )


def test_host_graph_fold_equals_full_rebuild(spark):
    """Append-only batches with disjoint url sets: fold(old, delta) ==
    host_graph(all), row-for-row including the distinct-page counts —
    and a three-way chain folds associatively."""
    from surfactant_spark.operators.webgraph import host_graph, host_graph_fold

    df = _pages(
        spark,
        [
            (f"https://h{i % 3}.org/p{i}",
             f'<a href="https://h{(i + 1) % 3}.org/x">t</a>'
             f'<a href="https://h{(i + 2) % 3}.org/y">u</a>')
            for i in range(30)
        ],
    )
    full = {tuple(r) for r in host_graph(df).collect()}
    from pyspark.sql import functions as F

    # deterministic three-way disjoint split by url hash
    part = F.pmod(F.crc32(F.col("url")), F.lit(3))
    batches = [df.where(part == i) for i in range(3)]
    assert sum(b.count() for b in batches) == 30
    state = host_graph(batches[0])
    state = host_graph_fold(state, batches[1])
    state = host_graph_fold(state, batches[2])
    assert {tuple(r) for r in state.collect()} == full


def test_host_graph_fold_plan_never_rescans_state(spark):
    """The fold's plan touches the delta scan and the standing
    AGGREGATE only — no join, no Python; the state side enters as a
    plain union into one re-aggregation."""
    from surfactant_spark.operators.webgraph import host_graph, host_graph_fold

    df = _pages(spark, [("https://a.org/1", '<a href="https://b.org/x">t</a>')])
    state = host_graph(df).localCheckpoint(eager=True)
    plan = host_graph_fold(state, df)._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_crawl_frontier_uncrawled_targets_only(spark):
    from surfactant_spark.operators.webgraph import crawl_frontier

    df = _pages(
        spark,
        [
            # a.org and b.org are crawled; c.org is only ever a target
            ("https://a.org/1", '<a href="https://c.org/x">c</a>'
                                '<a href="https://b.org/p">b</a>'),
            ("https://b.org/1", '<a href="https://c.org/y">c</a>'
                                '<a href="https://c.org/z">c</a>'),
        ],
    )
    got = {tuple(r) for r in crawl_frontier(df).collect()}
    # c.org: 3 links from 2 referrer hosts; b.org is crawled -> absent
    assert got == {("c.org", 3, 2)}


def test_host_graph_windows_buckets_by_source_page_time(spark):
    import pytest as _pytest

    from surfactant_spark.operators.webgraph import host_graph_windows

    rows = [
        ("https://a.org/1", 100, '<a href="https://b.org/x">b</a>'),
        ("https://a.org/2", 110, '<a href="https://b.org/y">b</a>'),  # same bucket@60
        ("https://a.org/3", 200, '<a href="https://b.org/z">b</a>'),  # next bucket
    ]
    df = spark.createDataFrame(
        [(u, t, h.encode()) for u, t, h in rows],
        "url string, warc_ts long, html binary",
    )
    got = {
        (r.bucket_epoch, r.src_host, r.dst_host): (r.n_links, r.n_src_pages)
        for r in host_graph_windows(df, bucket_s=60).collect()
    }
    assert got == {
        (60, "a.org", "b.org"): (2, 2),
        (180, "a.org", "b.org"): (1, 1),
    }
    with _pytest.raises(ValueError):
        host_graph_windows(df, bucket_s=0)


def test_host_cocitation_hand_computed(spark):
    """Full pair set without the cap; with max_out=2 the weakest s1
    target (c.org, tie with b.org broken by dst asc) is dropped before
    pairing, and the self-link never cites."""
    from surfactant_spark.operators.webgraph import host_cocitation

    df = _pages(
        spark,
        [
            (
                "https://s1.org/p",
                '<a href="https://a.org/1">a</a><a href="https://a.org/2">a</a>'
                '<a href="https://b.org/">b</a><a href="https://c.org/">c</a>'
                '<a href="https://s1.org/self">me</a>',
            ),
            (
                "https://s2.org/p",
                '<a href="https://a.org/">a</a><a href="https://b.org/">b</a>',
            ),
        ],
    )
    full = {
        (r.host_a, r.host_b): r.n_cociting
        for r in host_cocitation(df, max_out=10, min_shared=1).collect()
    }
    assert full == {
        ("a.org", "b.org"): 2,
        ("a.org", "c.org"): 1,
        ("b.org", "c.org"): 1,
    }
    capped = {
        (r.host_a, r.host_b): r.n_cociting
        for r in host_cocitation(df, max_out=2, min_shared=1).collect()
    }
    assert capped == {("a.org", "b.org"): 2}


def test_host_cocitation_plan_shape(spark):
    """The pair join stays an equi join on the citing host — no
    nested-loop/cartesian, no Python (the cap bounds fan-out, it must
    not change the join strategy)."""
    from surfactant_spark.operators.webgraph import host_cocitation

    df = _pages(spark, [("https://s.org/", '<a href="https://a.org/">a</a>')])
    plan = host_cocitation(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# anchor-text alias promotion (round-5 post-window addition)
# ---------------------------------------------------------------------------
def test_alias_promotion_thresholds_and_antijoin(spark):
    """Consensus promotes, split votes and thin evidence do not, and
    already-known aliases anti-join away."""
    from surfactant_spark.operators.webgraph import promote_anchor_aliases

    def page(url, elems):
        return (url, ("<html>" + "".join(elems) + "</html>").encode())

    a = lambda tgt, txt: f'<a href="{tgt}">{txt}</a>'
    t1, t2, t3 = (f"https://t{i}.example.org/" for i in (1, 2, 3))
    pages = spark.createDataFrame(
        [
            page("https://r0.example.net/", [a(t1, "Alpha Project")] * 3),
            page(
                "https://r1.example.net/",
                [a(t1, "alpha project"), a(t2, "beta"), a(t2, "Beta Tool")],
            ),
            page(
                "https://r2.example.net/",
                [a(t2, "beta tool"), a(t3, "gamma"), a(t3, "gamma"), a(t1, "")],
            ),
        ],
        "url string, html binary",
    )
    got = {
        r.alias: (r.canon_url, r.n_top, r.n_total)
        for r in promote_anchor_aliases(pages).collect()
    }
    # t1: 'alpha project' 4/4 after case-fold (promoted; empty dropped);
    # t2: 'beta tool' 2 of 3 after case-fold -> 200 >= 180 promoted;
    # t3: gamma 2/2 -> under min_anchors=3 rejected
    assert got == {
        "alpha project": (t1, 4, 4),
        "beta tool": (t2, 2, 3),
    }

    known = spark.createDataFrame([("alpha project",)], "alias string")
    left = promote_anchor_aliases(pages, existing=known)
    assert {r.alias for r in left.collect()} == {"beta tool"}


def test_host_fetch_intervals_hand_case(spark):
    """Gaps 10/20/30 -> sorted [10,20,30], rank (3-1)//2 = 1 -> 20;
    a single-fetch host has no gaps -> null median; equal-ts fetches
    order by url (gap 0, deterministic)."""
    from surfactant_spark.operators.webgraph import host_fetch_intervals

    rows = [
        ("https://a.example.org/1", 100),
        ("https://a.example.org/2", 110),
        ("https://a.example.org/3", 130),
        ("https://a.example.org/4", 160),
        ("https://b.example.org/1", 500),
        ("https://c.example.org/1", 300),
        ("https://c.example.org/2", 300),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long")
    got = {
        r.host: (r.n_fetches, r.first_ts, r.last_ts, r.median_gap_s)
        for r in host_fetch_intervals(df).collect()
    }
    assert got["a.example.org"] == (4, 100, 160, 20)
    assert got["b.example.org"] == (1, 500, 500, None)
    assert got["c.example.org"] == (2, 300, 300, 0)


def test_host_language_mix_hand_computed(spark):
    from surfactant_spark.operators.webgraph import host_language_mix

    rows = [
        ("http://a.com/1", "en"), ("http://a.com/2", "en"),
        ("http://a.com/3", "de"), ("https://b.net/x", "fr"),
        # tie on b2.org: 1 en vs 1 de -> lexicographically first lang wins
        ("http://b2.org/1", "en"), ("http://b2.org/2", "de"),
    ]
    pages = spark.createDataFrame(rows, "url string, lang string")
    got = {r.host: r for r in host_language_mix(pages).collect()}
    assert set(got) == {"a.com", "b.net", "b2.org"}
    a = got["a.com"]
    assert (a.n_pages, a.n_langs, a.top_lang, a.top_cnt) == (3, 2, "en", 2)
    assert a.top_share == round(2 / 3, 6)
    b = got["b.net"]
    assert (b.n_pages, b.n_langs, b.top_lang, b.top_share) == (1, 1, "fr", 1.0)
    t = got["b2.org"]
    assert (t.top_lang, t.top_cnt, t.top_share) == ("de", 1, 0.5)


def test_url_templates_hand_computed(spark):
    from surfactant_spark.operators.webgraph import url_templates

    rows = [
        ("https://a.com/p/1.html",),
        ("https://a.com/p/23.html",),
        ("https://a.com/p/7.html?sid=99",),   # query excluded from path
        ("https://a.com/about",),
        ("https://b.org/cal/2024/05/01",),
        ("https://b.org/cal/2024/05/02",),
        ("https://c.net",),                   # no path at all
    ]
    pages = spark.createDataFrame(rows, "url string")
    got = {
        (r.host, r.template): (r.n_urls, r.n_pages, r.example_url)
        for r in url_templates(pages).collect()
    }
    assert got[("a.com", "/p/<n>.html")] == (
        3, 3, "https://a.com/p/1.html"
    )
    assert got[("a.com", "/about")] == (1, 1, "https://a.com/about")
    assert got[("b.org", "/cal/<n>/<n>/<n>")] == (
        2, 2, "https://b.org/cal/2024/05/01"
    )
    assert got[("c.net", "")] == (1, 1, "https://c.net")
    assert len(got) == 4


def test_host_dup_rates_hand_computed(spark):
    from surfactant_spark.operators.webgraph import host_dup_rates

    rows = [
        # a.com: 3 pages, 2 distinct texts; "shared" also lives on b.org
        ("http://a.com/1", "shared"), ("http://a.com/2", "shared"),
        ("http://a.com/3", "only-a"),
        ("http://b.org/x", "shared"),        # mirrors a.com's content
        ("http://c.net/y", "unique-c"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    got = {r.host: r for r in host_dup_rates(pages).collect()}
    a = got["a.com"]
    assert (a.n_pages, a.n_distinct, a.n_mirrored) == (3, 2, 2)
    assert a.dup_rate == round(1 - 2 / 3, 6)
    b = got["b.org"]
    assert (b.n_pages, b.n_distinct, b.n_mirrored, b.dup_rate) == (1, 1, 1, 0.0)
    c = got["c.net"]
    assert (c.n_pages, c.n_distinct, c.n_mirrored, c.dup_rate) == (1, 1, 0, 0.0)


def test_page_markup_stats_hand_computed(spark):
    from surfactant_spark.operators.webgraph import page_markup_stats

    html1 = b'<html><a href="http://x.com/">x</a><script>1</script><script src="s"></script><iframe></iframe>body</html>'
    rows = [
        ("http://a.com/1", html1, "tiny text"),
        ("http://a.com/2", b"", "orphan"),  # empty html: ratio guarded to 0
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, text string")
    got = {r.url: r for r in page_markup_stats(pages).collect()}
    p = got["http://a.com/1"]
    assert (p.n_links, p.n_scripts, p.n_iframes) == (1, 2, 1)
    assert p.html_len == len(html1)
    assert p.text_len == len("tiny text")
    assert p.text_ratio == round(len("tiny text") / len(html1), 6)
    q = got["http://a.com/2"]
    assert (q.n_links, q.html_len, q.text_ratio) == (0, 0, 0.0)


def test_domain_graph_and_metrics_hand_computed(spark):
    from surfactant_spark.operators.webgraph import domain_graph, domain_metrics

    # two hosts of example.org link each other (intra-domain) and one
    # links out to other.com; localhost has no dot (maps to itself)
    def page(u, href):
        return (u, f'<a href="{href}">t</a>'.encode())

    rows = [
        page("https://a.example.org/1", "https://b.example.org/x"),
        page("https://b.example.org/2", "https://a.example.org/y"),
        page("https://b.example.org/3", "https://other.com/z"),
        page("http://localhost:8080/4", "https://a.example.org/w"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    dg = {
        (r.src_domain, r.dst_domain): (r.n_links, r.n_host_pairs)
        for r in domain_graph(pages).collect()
    }
    assert dg[("example.org", "example.org")] == (2, 2)
    assert dg[("example.org", "other.com")] == (1, 1)
    assert dg[("localhost", "example.org")] == (1, 1)
    m = {r.domain: r for r in domain_metrics(pages).collect()}
    ex = m["example.org"]
    assert (ex.n_hosts, ex.intra_links, ex.out_links, ex.in_links) == (2, 2, 1, 1)
    assert ex.intra_ratio == round(2 / 3, 6)
    oc = m["other.com"]
    assert (oc.n_hosts, oc.intra_links, oc.out_links, oc.in_links) == (1, 0, 0, 1)
    assert oc.intra_ratio == 0.0
    lh = m["localhost"]
    assert (lh.n_hosts, lh.out_links, lh.intra_ratio) == (1, 1, 0.0)


def test_host_rank_delta_consistent_with_host_rank(spark):
    from tests.conftest import SF_DIR
    from surfactant_spark.queries import q_host_rank, q_host_rank_delta

    delta = {r.host: r for r in q_host_rank_delta(spark, SF_DIR).collect()}
    full = {r.host: r.rank for r in q_host_rank(spark, SF_DIR).collect()}
    # the full-graph leg of the delta must be the host_rank product
    assert {h: r.rank_full for h, r in delta.items()} == full
    for r in delta.values():
        assert r.rank_delta == r.rank_full - r.rank_early
        assert r.rank_early >= 0


def test_entity_bursts_hand_computed(spark):
    import pytest

    from surfactant_spark.operators.webgraph import entity_bursts

    def page(url, ts, *ents):
        html = "".join(f'<a href="lib://{e}">{e}</a>' for e in ents)
        return (url, ts, html.encode("utf-8"))

    # buckets (60s): 0, 60, 120 -> n_buckets = 3
    rows = [
        page("https://a.org/1", 0, "spike", "steady"),
        page("https://a.org/2", 10, "spike", "steady"),
        page("https://a.org/3", 65, "spike", "steady"),
        page("https://a.org/4", 125, "steady"),
        page("https://a.org/5", 130, "rare"),  # below min_mentions
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts long, html binary")
    got = {r.ent: r for r in entity_bursts(pages, bucket_s=60, min_mentions=3).collect()}
    assert set(got) == {"spike", "steady"}
    s = got["spike"]  # 2 mentions in bucket 0, 1 in bucket 60
    assert (s.n_total, s.n_buckets_present, s.peak_bucket, s.peak_n, s.n_buckets) == (
        3, 2, 0, 2, 3,
    )
    assert s.burst == round(2 * 3 / 3, 6)
    t = got["steady"]  # buckets 0:2, 60:1, 120:1 -> peak is bucket 0
    assert (t.n_total, t.n_buckets_present, t.peak_bucket, t.peak_n) == (4, 3, 0, 2)
    assert t.burst == round(2 * 3 / 4, 6)

    with pytest.raises(ValueError, match="bucket_s"):
        entity_bursts(pages, bucket_s=0)
    with pytest.raises(ValueError, match="min_mentions"):
        entity_bursts(pages, min_mentions=0)


def test_mirror_pairs_hand_computed(spark):
    from surfactant_spark.operators.webgraph import mirror_pairs

    rows = [
        # a.com and b.org share texts t1, t2; b also has its own
        ("http://a.com/1", "t1"), ("http://a.com/2", "t2"),
        ("http://a.com/3", "only-a"),
        ("http://b.org/1", "t1"), ("http://b.org/2", "t2"),
        ("http://b.org/3", "only-b"),
        # c.net shares just t1 with both -> below min_shared=2
        ("http://c.net/1", "t1"),
        # duplicate urls of the same text on one host count once
        ("http://a.com/4", "t1"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    got = {
        (r.host_a, r.host_b): (r.n_shared, r.n_a, r.n_b, r.jaccard)
        for r in mirror_pairs(pages, min_shared=2).collect()
    }
    # only (a.com, b.org) clears the bar; jaccard = 2 / (3 + 3 - 2)
    assert got == {("a.com", "b.org"): (2, 3, 3, 0.5)}
    # min_shared=1 admits the single-shared c.net pairs
    all_pairs = {
        (r.host_a, r.host_b)
        for r in mirror_pairs(pages, min_shared=1).collect()
    }
    assert all_pairs == {
        ("a.com", "b.org"), ("a.com", "c.net"), ("b.org", "c.net")
    }


def test_mirror_pairs_ubiquity_cap_and_guards(spark):
    import pytest

    from surfactant_spark.operators.webgraph import mirror_pairs

    # one text served by 5 hosts; cap 4 excludes it entirely
    rows = [(f"http://h{i}.com/x", "boiler") for i in range(5)] + [
        ("http://h0.com/y", "pair"), ("http://h1.com/y2", "pair"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    capped = {
        (r.host_a, r.host_b): r.n_shared
        for r in mirror_pairs(pages, min_shared=1, max_hosts_per_sha=4).collect()
    }
    assert capped == {("h0.com", "h1.com"): 1}
    # raising the cap re-admits the 5-host blob: C(5,2) pairs + the
    # h0/h1 pair gains a second shared hash
    full = {
        (r.host_a, r.host_b): r.n_shared
        for r in mirror_pairs(pages, min_shared=1, max_hosts_per_sha=64).collect()
    }
    assert len(full) == 10 and full[("h0.com", "h1.com")] == 2
    with pytest.raises(ValueError):
        mirror_pairs(pages, min_shared=0)
    with pytest.raises(ValueError):
        mirror_pairs(pages, max_hosts_per_sha=1)


def test_edge_recency_hand_computed(spark):
    import datetime as dt

    import pytest

    from surfactant_spark.operators.webgraph import edge_recency

    def ts(s):
        return dt.datetime(
            2024, 1, 1, tzinfo=dt.timezone.utc
        ) + dt.timedelta(seconds=s)

    a = '<a href="lib://zlib">z</a>'
    b = '<a href="lib://ssl">s</a>'
    rows = [
        # zlib sighted on a.com at t=0 and t=100 (two pages)
        ("http://a.com/1", ts(0), (a).encode()),
        ("http://a.com/2", ts(100), (a + a).encode()),  # dup anchor: one sighting
        # ssl last sighted at t=10 -> stale at horizon 50 (max_ts=100)
        ("http://a.com/3", ts(10), b.encode()),
        # no mentions at all
        ("http://b.org/x", ts(100), b"<p>none</p>"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    )
    got = {
        (r.src_host, r.ent): (
            r.n_sightings, r.first_seen, r.last_seen, r.staleness_s, r.active
        )
        for r in edge_recency(pages, horizon_s=50).collect()
    }
    e0 = 1704067200  # 2024-01-01T00:00:00Z
    assert got == {
        ("a.com", "zlib"): (2, e0, e0 + 100, 0, True),
        ("a.com", "ssl"): (1, e0 + 10, e0 + 10, 90, False),
    }
    # horizon 0: only edges seen at the corpus max instant stay active
    act = {
        (r.src_host, r.ent): r.active
        for r in edge_recency(pages, horizon_s=0).collect()
    }
    assert act == {("a.com", "zlib"): True, ("a.com", "ssl"): False}
    with pytest.raises(ValueError):
        edge_recency(pages, horizon_s=-1)


def test_anchor_priors_hand_computed(spark):
    from surfactant_spark.operators.webgraph import anchor_priors

    def page(url, *hrefs_anchors):
        html = "".join(
            f'<a href="{h}">{a}</a>' for h, a in hrefs_anchors
        ).encode()
        return (url, html)

    rows = [
        # 'jaguar' -> car 3x, animal 1x ; 'home' -> one target only
        page("http://a.com/1", ("http://car.com/", "jaguar"),
             ("http://a.com/", "home")),
        page("http://b.com/1", ("http://car.com/", "jaguar"),
             ("http://zoo.org/", "jaguar")),
        page("http://c.com/1", ("http://car.com/", "jaguar"),
             ("", "empty-href-ignored")),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {
        r.anchor: (r.n_uses, r.n_targets, r.top_href, r.top_n,
                   r.prior_micro, r.ambiguous)
        for r in anchor_priors(pages).collect()
    }
    assert got["jaguar"] == (4, 2, "http://car.com/", 3, 750000, True)
    assert got["home"] == (1, 1, "http://a.com/", 1, 1000000, False)
    assert "empty-href-ignored" not in got
    # count tie breaks to lexicographically smallest href
    tie = spark.createDataFrame(
        [page("http://t.com/1", ("http://b.com/", "x"), ("http://a.com/", "x"))],
        "url string, html binary",
    )
    r = anchor_priors(tie).collect()[0]
    assert (r.top_href, r.top_n, r.prior_micro) == ("http://a.com/", 1, 500000)


def test_politeness_audit_hand_computed(spark):
    import datetime as dt

    import pytest

    from surfactant_spark.operators.webgraph import politeness_audit

    def ts(s):
        return dt.datetime(
            2024, 1, 1, tzinfo=dt.timezone.utc
        ) + dt.timedelta(seconds=s)

    rows = [
        # a.com fetched at 0, 1, 10 -> gaps [1, 9]: one violation at
        # min_delay 5
        ("http://a.com/1", ts(0)), ("http://a.com/2", ts(1)),
        ("http://a.com/3", ts(10)),
        # b.org fetched at 0, 20 -> gap [20]: clean
        ("http://b.org/1", ts(0)), ("http://b.org/2", ts(20)),
        # single fetch -> no gaps -> absent
        ("http://c.net/1", ts(0)),
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    got = {
        r.host: (r.n_gaps, r.n_violations, r.min_gap_s, r.viol_micro, r.flagged)
        for r in politeness_audit(pages, min_delay_s=5).collect()
    }
    assert got == {
        "a.com": (2, 1, 1, 500000, True),
        "b.org": (1, 0, 20, 0, False),
    }
    # same-second fetches count as zero-gap violations at any delay > 0
    burst = spark.createDataFrame(
        [("http://d.io/1", ts(0)), ("http://d.io/2", ts(0))],
        "url string, warc_ts timestamp",
    )
    r = politeness_audit(burst, min_delay_s=1).collect()[0]
    assert (r.n_violations, r.min_gap_s, r.flagged) == (1, 0, True)
    with pytest.raises(ValueError):
        politeness_audit(pages, min_delay_s=-1)


# ---------------------------------------------------------------------------
# SURT keys + CDX capture index
# ---------------------------------------------------------------------------
def test_surt_key_hand_computed(spark):
    from surfactant_spark.operators.webgraph import surt_key

    cases = [
        # canonical simple page
        ("https://example.org/p/1.html", "org,example)/p/1.html"),
        # leading www. stripped, host labels reversed
        ("https://www.news.example.com/a", "com,example,news)/a"),
        # bare authority gets the root path (canonicalizer), UPPER host folds
        ("HTTPS://Example.COM", "com,example)/"),
        # default port dropped by the canonicalizer, fragment stripped
        ("https://example.com:443/x#frag", "com,example)/x"),
        # non-default port survives after the reversed host
        ("https://example.com:8080/x", "com,example:8080)/x"),
        # userinfo dropped from the key
        ("https://alice@example.com/y", "com,example)/y"),
        # query kept (lowercased) — distinct captures, distinct keys
        ("https://example.com/s?Q=Mixed", "com,example)/s?q=mixed"),
        # path-less URL with a query: host capture must not swallow '?'
        ("https://example.com?x=1", "com,example)?x=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {
        r.url: r.surt
        for r in df.select("url", surt_key(F.col("url")).alias("surt")).collect()
    }
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)


def test_cdx_index_digest_and_plan(spark):
    import hashlib

    from surfactant_spark.operators.webgraph import cdx_index

    rows = [
        ("https://www.example.com/a", 100, "hello world"),
        ("https://example.com/b", 200, ""),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long, text string")
    got = {r.url: r for r in cdx_index(df).collect()}
    for u, ts, text in rows:
        r = got[u]
        assert r.warc_ts == ts
        assert r.digest == hashlib.sha256(text.encode()).hexdigest()
        assert r.text_len == len(text)
    assert got["https://www.example.com/a"].surt == "com,example)/a"
    # shuffle-free scan-side projection: no Exchange, no Python
    plan = cdx_index(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


# ---------------------------------------------------------------------------
# canonical-link resolution + sitemap staleness
# ---------------------------------------------------------------------------
def test_canonical_links_statuses(spark):
    from surfactant_spark.operators.webgraph import canonical_links

    rows = [
        # alt: canonical collapses the tracked variant
        ("https://a.org/item?utm=1",
         '<html><head><link rel="canonical" href="https://a.org/item"></head></html>'),
        # self after normalization (default port + fragment stripped)
        ("https://a.org/page",
         '<html><link href="https://a.org:443/page#top" rel="canonical"></html>'),
        # relative: documented skipped subset
        ("https://a.org/rel",
         '<html><link rel="canonical" href="/elsewhere"></html>'),
        # none: no canonical element (other links ignored)
        ("https://a.org/none",
         '<html><link rel="stylesheet" href="https://a.org/x.css"></html>'),
        # first declaration wins when duplicated
        ("https://a.org/two",
         '<html><link rel="canonical" href="https://a.org/first">'
         '<link rel="canonical" href="https://a.org/second"></html>'),
    ]
    df = spark.createDataFrame(
        [(u, h.encode()) for u, h in rows], "url string, html binary"
    )
    got = {r.url: r for r in canonical_links(df).collect()}
    assert got["https://a.org/item?utm=1"].status == "alt"
    assert got["https://a.org/item?utm=1"].canonical_url == "https://a.org/item"
    assert got["https://a.org/page"].status == "self"
    assert got["https://a.org/page"].canonical_url == "https://a.org/page"
    assert got["https://a.org/rel"].status == "skipped_relative"
    assert got["https://a.org/rel"].canonical_url is None
    assert got["https://a.org/rel"].canonical_raw == "/elsewhere"
    assert got["https://a.org/none"].status == "none"
    assert got["https://a.org/none"].canonical_raw is None
    assert got["https://a.org/two"].canonical_url == "https://a.org/first"


def test_sitemap_staleness_classification(spark):
    from surfactant_spark.operators.webgraph import sitemap_staleness

    day = 86400
    pages = spark.createDataFrame(
        [
            ("https://h.org/a", 19700 * day + 5),  # captured day 19700
            ("https://h.org/a", 19800 * day),  # later capture wins (max)
            ("https://h.org/b", 19800 * day),
            ("https://h.org/d", 19800 * day),
        ],
        "url string, warc_ts long",
    )
    xml = (
        "<urlset>\n"
        "<url><loc>https://h.org/a</loc><lastmod>2024-03-15</lastmod></url>\n"
        "<url><loc>https://h.org/b</loc><lastmod>2023-01-01</lastmod></url>\n"
        "<url><loc>https://h.org/c</loc><lastmod>2024-03-15</lastmod></url>\n"
        "<url><loc>https://h.org/d</loc></url>\n"
        "</urlset>"
    )
    sm = spark.createDataFrame([("h.org", xml)], "host string, sitemap_xml string")
    got = {r.url: r for r in sitemap_staleness(pages, sm).collect()}
    # 2024-03-15 is day 19797; /a last captured day 19800 -> fresh
    assert got["https://h.org/a"].status == "fresh"
    assert got["https://h.org/a"].capture_days == 19800
    assert got["https://h.org/a"].lastmod_days == 19797
    assert got["https://h.org/b"].status == "fresh"
    assert got["https://h.org/c"].status == "uncaptured"
    assert got["https://h.org/d"].status == "unknown"
    # flip /a's capture before the lastmod -> stale
    early = spark.createDataFrame(
        [("https://h.org/a", 19700 * day)], "url string, warc_ts long"
    )
    got2 = {r.url: r for r in sitemap_staleness(early, sm).collect()}
    assert got2["https://h.org/a"].status == "stale"


def test_sitemap_staleness_multiline_matches_sql_twin(spark, tmp_path):
    """A pretty-printed sitemap (<loc>/<lastmod> on their own lines) and
    a malformed lastmod: both engines find every entry and agree row
    for row; the malformed date reads as no lastmod."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from surfactant_spark.operators.webgraph import sitemap_staleness
    from surfactant_spark.queries import _sql_sitemap_stale

    day = 86400
    xml = (
        "<urlset>\n"
        "  <url>\n    <loc>https://h.org/a</loc>\n"
        "    <lastmod>2024-03-15</lastmod>\n  </url>\n"
        "  <url>\n    <loc>https://h.org/b</loc>\n"
        "    <lastmod>not-a-date</lastmod>\n  </url>\n"
        "  <url>\n    <loc>https://h.org/c</loc>\n  </url>\n"
        "</urlset>\n"
    )
    pages_path, sm_path = str(tmp_path / "pages.parquet"), str(tmp_path / "sm.parquet")
    pq.write_table(pa.table({
        "url": ["https://h.org/a", "https://h.org/b"],
        "warc_ts": pa.array([19700 * day, 19800 * day], pa.int64()),
    }), pages_path)
    pq.write_table(pa.table({"host": ["h.org"], "sitemap_xml": [xml]}), sm_path)

    got = sitemap_staleness(spark.read.parquet(pages_path), spark.read.parquet(sm_path))
    collected = got.collect()
    by_url = {r.url: r for r in collected}
    assert set(by_url) == {"https://h.org/a", "https://h.org/b", "https://h.org/c"}
    assert by_url["https://h.org/a"].status == "stale"  # lastmod day 19797 > 19700
    assert by_url["https://h.org/b"].lastmod_days is None
    assert by_url["https://h.org/b"].status == "unknown"
    assert by_url["https://h.org/c"].status == "uncaptured"

    con = duckdb.connect()
    try:
        want = con.execute(_sql_sitemap_stale(pages_path, sm_path)).fetchdf()
    finally:
        con.close()
    want_rows = {
        tuple(None if v is None or v != v else v for v in row)
        for row in want[got.columns].astype(object).itertuples(index=False)
    }
    assert {tuple(r) for r in collected} == want_rows


def test_trustrank_seeds_hold_trust_mass(spark):
    from surfactant_spark.queries import q_host_trustrank
    from tests.conftest import SF_DIR

    got = {r.host: r for r in q_host_trustrank(spark, SF_DIR).collect()}
    assert len(got) >= 2
    # uniform rank is positive everywhere; trust is bounded by rank's
    # teleport floor only at seeds — unreachable-from-seed hosts get 0
    for r in got.values():
        assert r.rank_micro > 0
        assert r.trust_micro >= 0
        assert 0.0 <= r.trust_ratio <= 1.5
    assert any(r.trust_micro > 0 for r in got.values())
