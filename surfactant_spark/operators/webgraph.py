"""Web-graph analytics over the pages corpus: hyperlink extraction,
host-level link graph, anchor-text alias mining, URL canonicalization,
and entity co-mention statistics.

These are the web-text complement of the KG link stage: where
``operators/link.py`` resolves import->export symbol probes (the
reference's relationship plugins, `surfactant/relationships/*.py`),
this module mines the *hyperlink* structure of the crawl itself — the
signals a web-scale KG build uses to weight entities (host authority),
enrich the alias dictionary (anchor texts are how the web names an
entity), and collapse crawl-duplicate urls (RFC 3986 canonicalization)
before content dedup even runs.

Scale notes (100 TB):

- ``extract_links`` is ONE JVM regex pass over html — no Python, no
  shuffle. It is compute-amplified relative to its input bytes, so
  callers route the pages scan through ``session.spread_partitions``
  first (the round-3 discipline for heavy per-row passes).
- ``host_graph`` / ``anchor_stats`` reduce with hash aggregations whose
  partial (map-side) combine absorbs the hot-domain skew the corpus is
  built with: a 30 %-hot domain collapses to one row per (src, dst)
  pair per map task before any shuffle.
- ``comention_lift``'s within-page pair join is quadratic only in the
  per-page mention count (bounded by page size, single digits here);
  the shuffle key is the page url, never an entity, so entity skew
  cannot concentrate a reducer. The global doc count is a driver
  literal counted off the eager checkpoint, never a cartesian join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import spread_partitions

# one anchor element per match; href and text re-extracted per element
_A_ELEM = r'<a href="[^"]*"[^>]*>[^<]*</a>'
_A_HREF = r'<a href="([^"]*)"'
_A_TEXT = r'>([^<]*)</a>'

# scheme://host of an absolute url: the authority ends at the first
# '/', '?' or '#', so path-less urls with a query or fragment
# (https://host?x=1) still key on the bare host. A ':port' stays part
# of the key — a distinct port is a distinct authority (RFC 3986 §3.2).
_URL_HOST = r'^[a-z]+://([^/?#]+)'


def extract_links(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """(url, href, anchor) per ``<a>`` element of each page.

    Pure whole-stage-codegen JVM: utf-8 decode + regexp_extract_all +
    explode. The pages scan is spread first because regex over full
    page bodies amplifies compute far beyond input bytes (a one-split
    small corpus would otherwise run the whole pass on one task)."""
    spread = spread_partitions(pages.select(url_col, html_col))
    elems = spread.select(
        F.col(url_col).alias("url"),
        F.explode(
            F.regexp_extract_all(F.col(html_col).cast("string"), F.lit(_A_ELEM), 0)
        ).alias("elem"),
    )
    return elems.select(
        "url",
        F.regexp_extract("elem", _A_HREF, 1).alias("href"),
        F.regexp_extract("elem", _A_TEXT, 1).alias("anchor"),
    )


def host_graph(pages: DataFrame, links: DataFrame | None = None) -> DataFrame:
    """Host-level hyperlink graph: (src_host, dst_host, n_links,
    n_src_pages) over absolute http(s) link targets (``bundle://``
    wrappers unwrapped — the corpus's Contains-style references carry
    a real url inside).

    The web-scale shape of Common Crawl's host-graph product: one
    extraction pass, one aggregation keyed by the (src, dst) host pair.
    countDistinct plans as a two-phase aggregate, so the hot domain's
    fan-in combines map-side before the shuffle.

    ``links`` lets callers share ONE extraction pass across the family
    (the dedup_minhash_with_audit shared-pass discipline): pass
    ``extract_links(pages).localCheckpoint()`` when running several
    web-graph operators over the same corpus."""
    if links is None:
        links = extract_links(pages)
    targets = links.select(
        "url", F.regexp_replace("href", r"^bundle://", "").alias("tgt")
    ).where(F.col("tgt").rlike(r"^https?://"))
    return (
        targets.select(
            F.regexp_extract("url", _URL_HOST, 1).alias("src_host"),
            F.regexp_extract("tgt", _URL_HOST, 1).alias("dst_host"),
            "url",
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("url").alias("n_src_pages"),
        )
    )


def anchor_stats(pages: DataFrame, links: DataFrame | None = None) -> DataFrame:
    """Anchor-text mining per link target: (href, n_anchors, n_texts,
    top_text). Inbound anchor texts are the web's alias dictionary —
    this is the candidate-generation stage for entity-linking surface
    forms (the enrichment input to the pipeline's alias broadcast
    join).

    Two stacked hash aggregations, no window: the top text is a min_by
    over (-count, text), so partial aggs combine map-side and no
    per-target sort runs (the q_kg_edges top-token discipline)."""
    if links is None:
        links = extract_links(pages)
    links = links.where(F.col("href") != "")
    per_text = links.groupBy("href", "anchor").agg(F.count(F.lit(1)).alias("cnt"))
    return per_text.groupBy("href").agg(
        F.sum("cnt").alias("n_anchors"),
        F.count(F.lit(1)).alias("n_texts"),
        F.min_by(
            "anchor", F.struct((-F.col("cnt")).alias("nc"), F.col("anchor"))
        ).alias("top_text"),
    )


def host_metrics(pages: DataFrame, links: DataFrame | None = None) -> DataFrame:
    """Per-host link-graph position: distinct out/in neighbor counts,
    total out/in link volumes, and how many out-neighbors link back
    (reciprocity — the mutual-link signal crawl frontier scoring and
    spam heuristics both use).

    Runs entirely over the host_graph edge *aggregate* (host-level, a
    dimension table relative to the corpus: ~10^8 hosts vs 10^12
    pages), so the self-join for reciprocity and the outer joins here
    shuffle host-cardinality rows, never page-cardinality ones."""
    hg = host_graph(pages, links).localCheckpoint(eager=True)  # 3 consumers
    out = hg.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("out_deg"),
        F.sum("n_links").alias("out_links"),
    )
    inn = hg.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).alias("in_deg"),
        F.sum("n_links").alias("in_links"),
    )
    a, b = hg.alias("a"), hg.alias("b")
    recip = (
        a.join(
            b,
            (F.col("a.src_host") == F.col("b.dst_host"))
            & (F.col("a.dst_host") == F.col("b.src_host")),
        )
        .groupBy(F.col("a.src_host").alias("host"))
        .agg(F.count(F.lit(1)).alias("reciprocal"))
    )
    z = F.lit(0).cast("long")
    return (
        out.join(inn, "host", "full_outer")
        .join(recip, "host", "left")
        .select(
            "host",
            F.coalesce("out_deg", z).alias("out_deg"),
            F.coalesce("in_deg", z).alias("in_deg"),
            F.coalesce("out_links", z).alias("out_links"),
            F.coalesce("in_links", z).alias("in_links"),
            F.coalesce("reciprocal", z).alias("reciprocal"),
        )
    )


def url_canonicalize(col: Column) -> Column:
    """RFC 3986 §6 syntax-based URL normalization as a pure JVM column
    expression: strip the fragment, lowercase scheme+authority, drop
    the scheme's default port, and give a bare authority the root path.
    Deterministic string algebra — replayable verbatim in any engine
    (the DuckDB oracle runs the same four rewrites).

    Crawl frontiers and url-keyed dedup both want this *before* any
    content hash: syntactic duplicates collapse for free, content
    fetch/dedup only sees one spelling per resource."""
    u = F.regexp_replace(col, r"#.*", "")
    head = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1))
    tail = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", "")
    u = F.concat(head, tail)
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443([/?]|$)", "$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80([/?]|$)", "$1$2")
    return F.when(
        u.rlike(r"^[a-z][a-z0-9+.\-]*://[^/?#]+$"), F.concat(u, F.lit("/"))
    ).otherwise(u)


def comention_lift(pages: DataFrame, links: DataFrame | None = None) -> DataFrame:
    """Entity co-mention statistics over ``lib://`` link targets:
    for each alias pair appearing on a common page, the observed/
    expected co-occurrence ratio ``lift = n_ab * N / (n_a * n_b)``
    (PMI's argument — monotone in PMI, exact-integer-derived so the
    one double division replays bit-identically cross-engine).

    Candidate-relation scoring for the KG: a high-lift pair is evidence
    of a real relationship *before* any predicate extraction runs. The
    pair join shuffles on the page url (bounded per-page width); the
    corpus-wide page count is a driver literal counted off the eager
    localCheckpoint (one cheap job over already-materialized blocks —
    the LSH-plane "driver-precomputed literal" discipline; a constant-
    key join constant-folds to a BroadcastNestedLoopJoin, which the
    plan guards forbid)."""
    if links is None:
        links = extract_links(pages)
    ments = (
        links
        .where(F.col("href").startswith("lib://"))
        .select("url", F.expr("substring(href, 7)").alias("ent"))
        .distinct()
    )
    ments = ments.localCheckpoint(eager=True)  # 3 consumers, one regex pass
    n_ent = ments.groupBy("ent").agg(F.count(F.lit(1)).alias("n"))
    n_docs = ments.select(F.countDistinct("url")).first()[0]
    a, b = ments.alias("a"), ments.alias("b")
    pairs = (
        a.join(b, (F.col("a.url") == F.col("b.url")) & (F.col("a.ent") < F.col("b.ent")))
        .groupBy(
            F.col("a.ent").alias("ent_a"), F.col("b.ent").alias("ent_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = n_ent.select(F.col("ent").alias("ent_a"), F.col("n").alias("n_a"))
    nb = n_ent.select(F.col("ent").alias("ent_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(na, "ent_a")
        .join(nb, "ent_b")
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
        .select(
            "ent_a",
            "ent_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_docs",
            F.round(
                (F.col("n_ab").cast("double") * F.col("n_docs").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


def host_graph_fold(state_edges: DataFrame, delta_pages: DataFrame,
                    links: DataFrame | None = None) -> DataFrame:
    """Fold an append-only crawl batch into standing host-graph edges
    without rescanning old pages — the web-graph twin of
    ``operators/incremental.kg_state_fold`` (and of Common Crawl
    publishing its host graph per-crawl, then merging).

    Correctness precondition (the crawl-batch invariant the KG fold
    asserts too): batches are APPEND-ONLY — a url appears in exactly
    one batch. Under disjoint url sets both measures are semigroup-
    mergeable per (src_host, dst_host) key: n_links adds trivially, and
    n_src_pages (a per-batch COUNT DISTINCT url) adds because the
    distinct sets are disjoint. A url recrawled into a later batch
    would double-count — that is a re-extraction, not an append, and
    belongs in a rebuild.

    Scale shape: the only inputs are the delta's link extraction and
    the standing host-pair AGGREGATE (dimension-sized — hosts, not
    pages), so a fold costs O(delta + |host pairs|), never O(corpus)."""
    delta = host_graph(delta_pages, links)
    return (
        state_edges.unionByName(delta)
        .groupBy("src_host", "dst_host")
        .agg(
            F.sum("n_links").cast("long").alias("n_links"),
            F.sum("n_src_pages").cast("long").alias("n_src_pages"),
        )
    )


def crawl_frontier(pages: DataFrame, links: DataFrame | None = None) -> DataFrame:
    """Uncrawled link targets ranked by evidence: hosts that appear as
    a link DESTINATION but never as a crawled SOURCE, with their
    aggregate in-link volume and referrer breadth — the crawl-
    scheduling product (what to fetch next) a Common-Crawl-style
    pipeline feeds back into its seed list.

    One left_anti equi join of the host-pair aggregate against the
    crawled-host dimension (both host-cardinality, broadcast-sized
    relative to the corpus), then one keyed agg. Never touches pages
    beyond the shared link-extraction pass."""
    hg = host_graph(pages, links).localCheckpoint(eager=True)
    crawled = hg.select(F.col("src_host").alias("dst_host")).dropDuplicates()
    return (
        hg.join(crawled, "dst_host", "left_anti")
        .groupBy("dst_host")
        .agg(
            F.sum("n_links").cast("long").alias("in_links"),
            F.count(F.lit(1)).alias("n_referrers"),
        )
        .select(F.col("dst_host").alias("host"), "in_links", "n_referrers")
    )


def host_graph_windows(
    pages: DataFrame,
    bucket_s: int = 60,
    links: DataFrame | None = None,
) -> DataFrame:
    """Time-bucketed host graph: (bucket_epoch, src_host, dst_host,
    n_links, n_src_pages) with each link attributed to its source
    page's crawl-time tumbling bucket — the crawl-over-crawl evolution
    product (how the link structure changes across fetches; snapshot_
    diff answers WHAT changed between two crawls, this keeps WHEN as a
    first-class key so one query spans the whole history).

    Buckets are pure integer arithmetic on the epoch column
    (``warc_ts div bucket_s * bucket_s``) — no timestamp casts, no
    timezone surface, engine-agnostic; the extraction pass is shared
    via ``links`` like the rest of the family. The page-time side is
    page-cardinality (NOT broadcastable at 10^12 pages), so the url
    join is an honest shuffle — equi-keyed, AQE-sized, and smaller
    than the exploded link stream it joins against; at cluster scale
    carry warc_ts through extract_links instead to skip it entirely
    (kept separate here so the family's shared links= pass stays a
    2-column frame). Same two-phase aggregate shape as host_graph
    with the bucket added to the key."""
    if bucket_s < 1:
        raise ValueError("bucket_s must be >= 1")
    if links is None:
        links = extract_links(pages)
    epoch = F.col("warc_ts").cast("long")  # int epoch or timestamp both land here
    ts = pages.select(
        "url", (epoch - F.pmod(epoch, F.lit(bucket_s))).alias("bucket_epoch")
    )
    targets = links.select(
        "url", F.regexp_replace("href", r"^bundle://", "").alias("tgt")
    ).where(F.col("tgt").rlike(r"^https?://"))
    return (
        targets.join(ts, "url")
        .select(
            "bucket_epoch",
            F.regexp_extract("url", _URL_HOST, 1).alias("src_host"),
            F.regexp_extract("tgt", _URL_HOST, 1).alias("dst_host"),
            "url",
        )
        .groupBy("bucket_epoch", "src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("url").alias("n_src_pages"),
        )
    )


def host_cocitation(
    pages: DataFrame,
    links: DataFrame | None = None,
    max_out: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Co-citation similarity between hosts: two hosts are related when
    the same third host links to both (Small's co-citation measure —
    the host-graph analogue of 'entities mentioned by the same
    documents', and a cheap related-domain signal for crawl frontier
    expansion). Returns (host_a, host_b, n_cociting) with
    host_a < host_b and n_cociting = number of distinct citing hosts,
    kept when >= ``min_shared``.

    Skew control is the whole design (the triangle-counting lesson):
    pairing a citing host's targets is quadratic in its out-degree, so
    a portal that links 10^5 hosts would emit 10^10 pairs. Each citing
    host's target list is therefore capped to its top-``max_out``
    targets by (n_links desc, dst_host asc) BEFORE pairing — the
    deterministic strongest-edges cap, bounding the pair fan-out at
    max_out^2 per citing host. The cap window partitions by the citing
    host, so its sort is bounded by that host's out-degree, and the
    pair join is an equi join on the citing host — never a cross
    product across hosts."""
    from pyspark.sql import Window

    hg = host_graph(pages, links=links).where(
        F.col("src_host") != F.col("dst_host")
    )
    w = Window.partitionBy("src_host").orderBy(
        F.desc("n_links"), F.asc("dst_host")
    )
    capped = (
        hg.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_out)
        .select("src_host", "dst_host")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(b, "src_host").where(F.col("a.dst_host") < F.col("b.dst_host"))
    return (
        pairs.groupBy(
            F.col("a.dst_host").alias("host_a"),
            F.col("b.dst_host").alias("host_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_cociting"))
        .where(F.col("n_cociting") >= min_shared)
    )


def promote_anchor_aliases(
    pages: DataFrame,
    existing: DataFrame | None = None,
    min_anchors: int = 3,
    min_share_pct: int = 60,
    links: DataFrame | None = None,
) -> DataFrame:
    """Dictionary ENRICHMENT from anchor text: promote a link target's
    dominant inbound anchor to an alias-dictionary candidate when it
    has enough evidence (``min_anchors`` inbound anchors in total) and
    enough consensus (the top text holds >= ``min_share_pct`` percent
    of them) — the self-improving loop where the web's own link text
    feeds the entity-linking alias broadcast join (the reference's
    analogue: pattern databases growing new detection entries).
    ``existing`` (any frame with an ``alias`` column) anti-joins
    already-known surface forms away so only NEW candidates surface.
    Returns (alias, canon_url, n_top, n_total) with exact integer
    evidence; the threshold compares 100*n_top >= pct*n_total so no
    IEEE division reaches the oracle surface.

    Spark shape: two stacked map-side-combinable aggs keyed by the
    (target, anchor) pair then the target (the anchor_stats
    discipline — min_by struct, never a per-target sort window);
    the optional anti join is alias-keyed against a dimension table.
    """
    if links is None:
        links = extract_links(pages)
    t = links.select(
        F.regexp_replace("href", "^bundle://", "").alias("tgt"),
        F.trim(F.lower("anchor")).alias("alias"),
    ).where(F.col("tgt").rlike("^https?://") & (F.col("alias") != ""))
    pt = t.groupBy("tgt", "alias").agg(F.count(F.lit(1)).alias("n"))
    agg = pt.groupBy("tgt").agg(
        F.sum("n").alias("n_total"),
        F.min_by(
            F.struct(F.col("alias"), F.col("n").alias("n_top")),
            F.struct((-F.col("n")).alias("nc"), F.col("alias")),
        ).alias("top"),
    )
    out = (
        agg.where(
            (F.col("n_total") >= min_anchors)
            & (F.col("top.n_top") * 100 >= F.col("n_total") * min_share_pct)
        )
        .select(
            F.col("top.alias").alias("alias"),
            F.col("tgt").alias("canon_url"),
            F.col("top.n_top").cast("long").alias("n_top"),
            F.col("n_total").cast("long").alias("n_total"),
        )
    )
    if existing is not None:
        out = out.join(existing.select("alias").dropDuplicates(), "alias", "left_anti")
    return out


def host_fetch_intervals(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Politeness-parameter mining: per host, the fetch count, the
    first/last fetch epoch, and the MEDIAN inter-fetch gap in seconds —
    the per-host rate estimate a crawl scheduler derives from its own
    history before assigning frontier budgets (the companion product to
    crawl_frontier and the url_bloom seen-filter). Returns (host,
    n_fetches, first_ts, last_ts, median_gap_s) — all exact integers;
    single-fetch hosts have no gaps and a null median.

    Spark shape: one lag window per host for the gaps (ordered by
    (ts, url) so equal timestamps stay deterministic; a hot host is one
    spillable partition sort — bounded by that host's OWN fetch count,
    never the corpus), then the median reuses
    :func:`..textops.exact_quantiles` — gaps reduce to a per-host
    (value, frequency) histogram first, so the quantile never sorts
    raw fetches. Stats are one combinable agg.
    """
    from pyspark.sql import Window

    from .textops import exact_quantiles

    f = pages.select(
        F.regexp_extract(F.col(url_col), _URL_HOST, 1).alias("host"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(url_col).alias("u"),
    )
    w = Window.partitionBy("host").orderBy("ts", "u")
    gaps = f.select(
        "host", (F.col("ts") - F.lag("ts").over(w)).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    med = (
        exact_quantiles(gaps, [0.5], value_col="gap_s", group_cols=("host",))
        .select("host", F.col("value").alias("median_gap_s"))
    )
    stats = f.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    return stats.join(med, "host", "left").select(
        "host", "n_fetches", "first_ts", "last_ts", "median_gap_s"
    )


def host_language_mix(pages: DataFrame) -> DataFrame:
    """Per-host language profile: (host, n_pages, n_langs, top_lang,
    top_cnt, top_share) — the crawl-curation signal that flags mixed-
    language hosts (scraper farms, auto-translated mirrors) and feeds
    per-host language routing before any per-document language model
    runs.

    Two stacked hash aggregations (the anchor_stats discipline): the
    (host, lang) agg combines map-side under hot-domain skew, and the
    per-host pick is a min_by over (-count, lang) — no window sort.
    All counts exact integers; the one IEEE division is a bit-exact
    replay in the oracle."""
    per = (
        pages.select(
            F.regexp_extract("url", _URL_HOST, 1).alias("host"), "lang"
        )
        .groupBy("host", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per.groupBy("host")
        .agg(
            F.sum("cnt").cast("long").alias("n_pages"),
            F.count(F.lit(1)).alias("n_langs"),
            F.min_by(
                "lang", F.struct((-F.col("cnt")).alias("nc"), F.col("lang"))
            ).alias("top_lang"),
            F.max("cnt").cast("long").alias("top_cnt"),
        )
        .withColumn(
            "top_share",
            F.round(F.col("top_cnt").cast("double") / F.col("n_pages"), 6),
        )
    )


def url_templates(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """URL template mining: collapse each page's path to a shape
    (digit runs -> ``<n>``) and count urls per (host, template) —
    the crawler-trap / boilerplate-template detector crawl schedulers
    run before spending budget on a host (a template with millions of
    urls and near-identical content is a calendar, a session-id trap,
    or a faceted-search explosion).

    One JVM regex pass + one hash aggregation; the example url is a
    min (partial-aggregable), never a window sort. Query strings and
    fragments are excluded from the path before shaping, so
    ``/p/7.html?sid=9`` and ``/p/12.html`` share ``/p/<n>.html``."""
    path = F.regexp_extract(F.col(url_col), r"^[a-z]+://[^/?#]*([^?#]*)", 1)
    return (
        pages.select(
            F.regexp_extract(url_col, _URL_HOST, 1).alias("host"),
            F.regexp_replace(path, r"[0-9]+", "<n>").alias("template"),
            F.col(url_col).alias("url"),
        )
        .groupBy("host", "template")
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.count(F.lit(1)).alias("n_pages"),
            F.min("url").alias("example_url"),
        )
    )


def host_dup_rates(
    pages: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-host duplication profile: (host, n_pages, n_distinct,
    n_mirrored, dup_rate) — the host-level spam/mirror signal crawl
    curation ranks hosts by before per-document dedup even runs
    (a host serving one article under a thousand urls, or mirroring
    another host's content wholesale, gets its budget cut at the
    host dimension).

    ``n_mirrored`` counts this host's pages whose exact content hash
    also appears on at least one OTHER host (cross-host mirror mass).
    Shape: one sha256 pass, a (host, sha) hash agg (map-side combine
    absorbs the hot domain), a sha-keyed dimension join for the
    mirror bit, one host agg. Exact integers + one IEEE division."""
    per = (
        pages.select(
            F.regexp_extract(url_col, _URL_HOST, 1).alias("host"),
            F.sha2(F.col(text_col), 256).alias("sha"),
        )
        .groupBy("host", "sha")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    sha_hosts = per.groupBy("sha").agg(F.count(F.lit(1)).alias("n_hosts"))
    return (
        per.join(sha_hosts, "sha")
        .groupBy("host")
        .agg(
            F.sum("n").cast("long").alias("n_pages"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.when(F.col("n_hosts") > 1, F.col("n")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_mirrored"),
        )
        .withColumn(
            "dup_rate",
            F.round(
                F.lit(1.0)
                - F.col("n_distinct").cast("double")
                / F.col("n_pages").cast("double"),
                6,
            ),
        )
    )


def page_markup_stats(pages: DataFrame) -> DataFrame:
    """Per-page markup features: link/script/iframe element counts and
    the text-to-html length ratio — the classic boilerplate/spam
    signals (script-dense thin pages, iframe farms, low text ratio)
    a quality filter consumes alongside the Gopher text rules.

    One whole-stage-codegen JVM pass over the html bytes: regex counts
    + lengths, no shuffle at all (the output is page-keyed). The pages
    scan is spread first — regex over full bodies is compute-amplified
    (the extract_links discipline)."""
    h = F.col("html").cast("string")
    spread = spread_partitions(pages.select("url", "html", "text"))
    return spread.select(
        "url",
        F.size(F.regexp_extract_all(h, F.lit(_A_ELEM), 0)).cast("long").alias(
            "n_links"
        ),
        F.size(F.regexp_extract_all(h, F.lit(r"<script\b"), 0))
        .cast("long")
        .alias("n_scripts"),
        F.size(F.regexp_extract_all(h, F.lit(r"<iframe\b"), 0))
        .cast("long")
        .alias("n_iframes"),
        F.length(h).cast("long").alias("html_len"),
        F.length("text").cast("long").alias("text_len"),
        F.when(
            F.length(h) > 0,
            F.round(
                F.length("text").cast("double") / F.length(h).cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("text_ratio"),
    )


def _domain_col(host: Column) -> Column:
    """Registered-domain heuristic: strip any ':port', keep the last
    two dot-labels (site0.example.org -> example.org); a dot-less host
    maps to itself. A real deployment swaps in the public-suffix list
    (ccSLDs like co.uk need it); the heuristic is deterministic and
    mirrored in the SQL oracles, which is what the correctness gate
    pins."""
    stripped = F.regexp_replace(host, r":[0-9]+$", "")
    two = F.regexp_extract(stripped, r"([^.]+\.[^.]+)$", 1)
    return F.when(two != "", two).otherwise(stripped)


def domain_graph(pages: DataFrame, links: DataFrame | None = None) -> DataFrame:
    """Domain-level link graph: the host graph folded to registered
    domains — Common Crawl ships exactly this rollup (host graph AND
    domain graph) because domain is the unit of ownership for spam,
    authority, and crawl-budget decisions. (src_domain, dst_domain,
    n_links, n_host_pairs) where n_links sums the host-pair volumes
    and n_host_pairs counts the distinct host pairs folded in.

    The fold is one hash agg over the host graph (domain cardinality
    <= host cardinality, itself a dimension next to the corpus)."""
    hg = host_graph(pages, links)
    return (
        hg.select(
            _domain_col(F.col("src_host")).alias("src_domain"),
            _domain_col(F.col("dst_host")).alias("dst_domain"),
            "n_links",
        )
        .groupBy("src_domain", "dst_domain")
        .agg(
            F.sum("n_links").cast("long").alias("n_links"),
            F.count(F.lit(1)).alias("n_host_pairs"),
        )
    )


def domain_metrics(pages: DataFrame, links: DataFrame | None = None) -> DataFrame:
    """Per-domain link economy: (domain, n_hosts, intra_links,
    out_links, in_links, intra_ratio) — how much of a domain's
    outgoing link volume stays inside the domain (near-1.0 flags
    navigation-only link farms; near-0 flags pure aggregators).

    Everything runs at domain cardinality once the shared host-graph
    agg has reduced the corpus; intra_ratio is exact integers + one
    guarded IEEE division."""
    hg = host_graph(pages, links).localCheckpoint(eager=True)
    hosts = (
        hg.select(F.col("src_host").alias("host"))
        .unionByName(hg.select(F.col("dst_host").alias("host")))
        .distinct()
        .select(_domain_col(F.col("host")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_hosts"))
    )
    dg = (
        hg.select(
            _domain_col(F.col("src_host")).alias("sd"),
            _domain_col(F.col("dst_host")).alias("dd"),
            "n_links",
        )
        .localCheckpoint(eager=True)
    )
    intra = (
        dg.where(F.col("sd") == F.col("dd"))
        .groupBy(F.col("sd").alias("domain"))
        .agg(F.sum("n_links").cast("long").alias("intra_links"))
    )
    out = (
        dg.where(F.col("sd") != F.col("dd"))
        .groupBy(F.col("sd").alias("domain"))
        .agg(F.sum("n_links").cast("long").alias("out_links"))
    )
    inn = (
        dg.where(F.col("sd") != F.col("dd"))
        .groupBy(F.col("dd").alias("domain"))
        .agg(F.sum("n_links").cast("long").alias("in_links"))
    )
    z = F.lit(0).cast("long")
    total = F.col("intra_links") + F.col("out_links")
    return (
        hosts.join(intra, "domain", "left")
        .join(out, "domain", "left")
        .join(inn, "domain", "left")
        .select(
            "domain",
            "n_hosts",
            F.coalesce("intra_links", z).alias("intra_links"),
            F.coalesce("out_links", z).alias("out_links"),
            F.coalesce("in_links", z).alias("in_links"),
        )
        .withColumn(
            "intra_ratio",
            F.when(
                total > 0,
                F.round(
                    F.col("intra_links").cast("double") / total.cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def entity_bursts(
    pages: DataFrame,
    bucket_s: int = 60,
    min_mentions: int = 3,
    links: DataFrame | None = None,
) -> DataFrame:
    """Trending-entity detection over the crawl timeline: for each
    ``lib://`` mention target, how concentrated its page-mentions are
    in its hottest crawl-time bucket. Burst = peak_n * n_buckets /
    n_total — the same exact-integer lift family as comention_lift
    (monotone in the peak-vs-uniform ratio; 1.0 = perfectly uniform,
    n_buckets = everything in one window), so the one IEEE
    multiply-divide replays bit-identically cross-engine, with no
    mean/stddev float accumulation.

    Returns (ent, n_total, n_buckets_present, peak_bucket, peak_n,
    n_buckets, burst) for entities with >= ``min_mentions`` page-
    mentions; peak ties break to the earliest bucket (min_by struct
    ordering — deterministic).

    Scale shape: mentions reduce to (ent, bucket) counts FIRST (one
    shuffle keyed by entity+bucket, map-side combinable — hot entities
    collapse per map task); the per-entity reduction then runs at
    entity cardinality; the global bucket count is a driver literal
    counted off the eager checkpoint (constant-key joins constant-fold
    to BNLJ, which the plan guards forbid). The page-time join is the
    same url-keyed equi join as host_graph_windows."""
    if bucket_s < 1:
        raise ValueError("bucket_s must be >= 1")
    if min_mentions < 1:
        raise ValueError("min_mentions must be >= 1")
    if links is None:
        links = extract_links(pages)
    epoch = F.col("warc_ts").cast("long")
    ts = pages.select(
        "url", (epoch - F.pmod(epoch, F.lit(bucket_s))).alias("bucket_epoch")
    )
    ments = (
        links.where(F.col("href").startswith("lib://"))
        .select("url", F.expr("substring(href, 7)").alias("ent"))
        .distinct()
        .join(ts, "url")
        .select("ent", "bucket_epoch")
    )
    per_bucket = (
        ments.groupBy("ent", "bucket_epoch")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # two consumers: per-entity agg + W
    )
    n_buckets = per_bucket.select(F.countDistinct("bucket_epoch")).first()[0]
    per_ent = per_bucket.groupBy("ent").agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_present"),
        F.min_by(
            "bucket_epoch", F.struct((-F.col("n")).alias("nn"), F.col("bucket_epoch"))
        ).alias("peak_bucket"),
        F.max("n").cast("long").alias("peak_n"),
    )
    return (
        per_ent.where(F.col("n_total") >= min_mentions)
        .withColumn("n_buckets", F.lit(n_buckets).cast("long"))
        .withColumn(
            "burst",
            F.round(
                (F.col("peak_n").cast("double") * F.col("n_buckets").cast("double"))
                / F.col("n_total").cast("double"),
                6,
            ),
        )
    )


def mirror_pairs(
    pages: DataFrame,
    min_shared: int = 2,
    max_hosts_per_sha: int = 64,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Cross-host mirror PAIR identification — host_dup_rates says how
    much of a host is mirrored somewhere; this names WHO mirrors whom,
    the pair list a crawl scheduler consumes to fetch one replica of a
    mirror network instead of all of them. For every host pair sharing
    at least ``min_shared`` exact content hashes: (host_a, host_b,
    n_shared, n_a, n_b, jaccard) with host_a < host_b, n_a/n_b the
    hosts' distinct content counts, and jaccard the exact-integer
    intersection over union rounded once.

    Scale shape: the candidate generator is a self-join keyed ON THE
    CONTENT HASH of the distinct (host, sha) table, so fan-out per key
    is the number of hosts serving that exact document squared. A
    universally-mirrored blob (an empty page, a license file) would go
    quadratic in hosts — shas on more than ``max_hosts_per_sha`` hosts
    are EXCLUDED deterministically (mirrored in the oracle): content
    that ubiquitous identifies no specific mirror relationship, the
    containment/boilerplate cap discipline. Pair agg and both count
    aggs combine map-side; per-host counts join back at host-dimension
    cardinality."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_hosts_per_sha < 2:
        raise ValueError(
            f"max_hosts_per_sha must be >= 2, got {max_hosts_per_sha}"
        )
    hs = (
        pages.select(
            F.regexp_extract(url_col, _URL_HOST, 1).alias("host"),
            F.sha2(F.col(text_col), 256).alias("sha"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    counts = hs.groupBy("host").agg(F.count(F.lit(1)).alias("n_distinct"))
    ok = (
        hs.groupBy("sha")
        .agg(F.count(F.lit(1)).alias("_nh"))
        .where((F.col("_nh") >= 2) & (F.col("_nh") <= max_hosts_per_sha))
        .select("sha")
    )
    scan = hs.join(ok, "sha")
    pairs = (
        scan.select("sha", F.col("host").alias("host_a"))
        .join(scan.select("sha", F.col("host").alias("host_b")), "sha")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(counts.select(F.col("host").alias("host_a"),
                                 F.col("n_distinct").alias("n_a")), "host_a")
        .join(counts.select(F.col("host").alias("host_b"),
                            F.col("n_distinct").alias("n_b")), "host_b")
        .select(
            "host_a",
            "host_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def edge_recency(
    pages: DataFrame,
    horizon_s: int = 120,
    links: DataFrame | None = None,
) -> DataFrame:
    """Temporal validity of KG mention edges over the crawl timeline —
    the maintenance signal incremental KG folding (kg_incremental /
    kg_diff say WHAT changed) needs to decide what to RE-CRAWL: per
    (src_host, ent) mention edge its first/last sighting, sighting
    count, staleness against the corpus's newest observation, and an
    ``active`` flag (stale edges are re-fetch candidates; an edge no
    crawl window has seen for a long horizon is presumed retracted —
    the first_seen/last_seen interval model temporal knowledge graphs
    use).

    Returns (src_host, ent, n_sightings, first_seen, last_seen,
    staleness_s, active): epochs as exact integer seconds; a page
    sights an edge once regardless of repeated anchors.

    Scale shape: one distinct over (host, ent, url) mentions (map-side
    combinable), the page-time equi join on url, one (host, ent) agg;
    the corpus max timestamp is a driver literal off the eager
    checkpoint (constant-key joins constant-fold to BNLJ — the
    entity_bursts discipline)."""
    if horizon_s < 0:
        raise ValueError(f"horizon_s must be >= 0, got {horizon_s}")
    if links is None:
        links = extract_links(pages)
    ts = pages.select("url", F.col("warc_ts").cast("long").alias("_ep"))
    ments = (
        links.where(F.col("href").startswith("lib://"))
        .select(
            F.regexp_extract("url", _URL_HOST, 1).alias("src_host"),
            F.expr("substring(href, 7)").alias("ent"),
            "url",
        )
        .distinct()
        .join(ts, "url")
    )
    per = (
        ments.groupBy("src_host", "ent")
        .agg(
            F.count(F.lit(1)).alias("n_sightings"),
            F.min("_ep").cast("long").alias("first_seen"),
            F.max("_ep").cast("long").alias("last_seen"),
        )
        .localCheckpoint(eager=True)
    )
    row = per.agg(F.max("last_seen")).first()
    max_ts = int(row[0]) if row[0] is not None else 0
    return per.select(
        "src_host",
        "ent",
        "n_sightings",
        "first_seen",
        "last_seen",
        (F.lit(max_ts) - F.col("last_seen")).cast("long").alias("staleness_s"),
        ((F.lit(max_ts) - F.col("last_seen")) <= F.lit(horizon_s)).alias("active"),
    )


def anchor_priors(pages: DataFrame, links: DataFrame | None = None) -> DataFrame:
    """Entity-linking anchor PRIOR per surface form — the transpose of
    anchor_stats: for each anchor TEXT, how its occurrences distribute
    over link targets, and which target wins. P(target | anchor) is
    the classic disambiguation prior (Wikipedia-anchor-style commonness
    baseline): 'jaguar' resolving to the car page 70% of the time IS
    the baseline an entity linker must beat. Returns (anchor, n_uses,
    n_targets, top_href, top_n, prior_micro, ambiguous): exact counts,
    the winning target by (count desc, href asc) — a min_by over the
    struct order, never a per-anchor sort — and the prior as an exact
    integer micro-share; ``ambiguous`` marks surface forms with more
    than one observed target (the rows a linker actually works on).

    Scale shape: the (anchor, href) agg combines map-side (hot
    boilerplate anchors like 'home' collapse per map task); the
    per-anchor reduction runs at surface-form cardinality — a
    dimension table relative to the corpus."""
    if links is None:
        links = extract_links(pages)
    links = links.where((F.col("href") != "") & (F.col("anchor") != ""))
    per = links.groupBy("anchor", "href").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per.groupBy("anchor")
        .agg(
            F.sum("cnt").cast("long").alias("n_uses"),
            F.count(F.lit(1)).alias("n_targets"),
            F.min_by(
                F.struct(F.col("href").alias("top_href"), F.col("cnt").alias("top_n")),
                F.struct((-F.col("cnt")).alias("nc"), F.col("href")),
            ).alias("_w"),
        )
        .select(
            "anchor",
            "n_uses",
            "n_targets",
            F.col("_w.top_href"),
            F.col("_w.top_n").cast("long").alias("top_n"),
            F.expr("div(1000000 * _w.top_n, n_uses)").cast("long").alias("prior_micro"),
            (F.col("n_targets") > 1).alias("ambiguous"),
        )
    )


def politeness_audit(
    pages: DataFrame,
    min_delay_s: int = 5,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Crawl politeness audit: which hosts did the crawler hit FASTER
    than the declared minimum delay, and how often — the compliance
    readout a crawl operator publishes next to host_fetch_intervals'
    rate estimates (intervals say what the crawler DID; this says
    where that violated policy). Returns (host, n_gaps, n_violations,
    min_gap_s, viol_micro, flagged) for hosts with at least one
    inter-fetch gap: exact integer gap counts, the violation share in
    exact micro-units, ``flagged`` when any gap ran under
    ``min_delay_s``.

    Shape: the same per-host lag window as host_fetch_intervals (a hot
    host sorts only its own fetches), then ONE combinable agg — no
    quantile pass, no join."""
    from pyspark.sql import Window

    if min_delay_s < 0:
        raise ValueError(f"min_delay_s must be >= 0, got {min_delay_s}")
    f = pages.select(
        F.regexp_extract(F.col(url_col), _URL_HOST, 1).alias("host"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(url_col).alias("u"),
    )
    w = Window.partitionBy("host").orderBy("ts", "u")
    gaps = f.select(
        "host", (F.col("ts") - F.lag("ts").over(w)).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum(
                F.when(F.col("gap_s") < min_delay_s, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_violations"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
        )
        .select(
            "host",
            "n_gaps",
            "n_violations",
            "min_gap_s",
            F.expr("div(1000000 * n_violations, n_gaps)")
            .cast("long")
            .alias("viol_micro"),
            (F.col("n_violations") > 0).alias("flagged"),
        )
    )


def surt_key(col: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key of a URL — the
    sort key Common Crawl's CDX index and the Wayback Machine file
    their captures under: canonicalize (RFC 3986 §6, reusing
    :func:`url_canonicalize`), drop userinfo and a leading ``www.``,
    reverse the host labels comma-joined, keep a non-default port, and
    append ``)`` plus the lowercased path+query — so every capture of
    one site's subtree is one contiguous key range
    (``org,example)/p/...``) and prefix range scans replace host joins.
    Pure JVM string algebra, replayed verbatim in the DuckDB twin."""
    canon = url_canonicalize(col)
    auth = F.regexp_extract(canon, _URL_HOST, 1)
    host = F.regexp_replace(auth, r"^.*@", "")
    port = F.regexp_extract(host, r":([0-9]+)$", 1)
    hostname = F.regexp_replace(
        F.regexp_replace(host, r":[0-9]+$", ""), r"^www\.", ""
    )
    rev = F.array_join(F.reverse(F.split(hostname, r"\.")), ",")
    rest = F.lower(F.regexp_replace(canon, r"^[a-z]+://[^/?#]+", ""))
    return F.concat(
        rev,
        F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        F.lit(")"),
        rest,
    )


def cdx_index(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """CDX-style capture index over the crawl (Common Crawl's cdx-index
    product): one row per captured page with its SURT sort key, the
    original url, the capture timestamp, the sha-256 content digest of
    the extracted text, and the text length — everything a lookup
    service needs to answer "what captures exist under this prefix,
    and which are distinct?".

    Scale shape: a shuffle-free scan-side projection (hash + string
    algebra, whole-stage codegen). The index FILES are produced by
    range-repartitioning on ``surt`` and sorting within partitions at
    write time (Spark's repartitionByRange + sortWithinPartitions —
    each output shard is one contiguous key range, the layout prefix
    scans want); the query surface returns the unsorted rows because
    the driver compare is order-insensitive and range boundaries are
    sample-dependent, not semantic."""
    return pages.select(
        surt_key(F.col(url_col)).alias("surt"),
        F.col(url_col).alias("url"),
        F.col(ts_col).cast("long").alias("warc_ts"),
        F.sha2(F.col(text_col), 256).alias("digest"),
        F.length(text_col).cast("long").alias("text_len"),
    )


def canonical_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Resolve each page's ``<link rel="canonical">`` element — the
    publisher-declared duplicate-collapse signal search and crawl
    stacks honor before any content hash (query-string variants,
    mobile mirrors, and A/B hosts all declare one canonical). Returns
    (url, canonical_raw, canonical_url, status) where status is
    'self' (declares itself canonical after RFC normalization),
    'alt' (declares a DIFFERENT canonical — the url to fold into),
    'skipped_relative' (relative href: the documented subset — a
    production resolver would resolve against the base url), or
    'none'. ``canonical_url`` runs through :func:`url_canonicalize`
    so syntactic noise (fragments, default ports) never splits a
    canonical cluster.

    Pure whole-stage-codegen JVM (decode + regexp + string algebra),
    shuffle-free; attribute order is handled by matching the whole
    <link> element and pulling rel/href independently."""
    h = F.col(html_col).cast("string")
    links_arr = F.regexp_extract_all(h, F.lit(r"<link[^>]*>"), 0)
    canon_elems = F.filter(
        links_arr, lambda e: e.rlike(r'rel="canonical"')
    )
    elem = F.try_element_at(canon_elems, F.lit(1))  # first declaration wins
    href = F.regexp_extract(elem, r'href="([^"]*)"', 1)
    is_abs = href.rlike(r"^https?://")
    canon = url_canonicalize(href)
    self_canon = url_canonicalize(F.col(url_col))
    status = (
        F.when(elem.isNull() | (href == ""), "none")
        .when(~is_abs, "skipped_relative")
        .when(canon == self_canon, "self")
        .otherwise("alt")
    )
    return pages.select(
        F.col(url_col).alias("url"),
        F.when(elem.isNotNull() & (href != ""), href).alias("canonical_raw"),
        F.when(is_abs, canon).alias("canonical_url"),
        status.alias("status"),
    )


def sitemap_staleness(
    pages: DataFrame,
    sitemaps: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    host_col: str = "host",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Join each host's sitemap <url> entries against the crawl's
    latest capture per url and classify the recrawl need: 'stale'
    (lastmod after the last capture — refetch), 'fresh' (capture at or
    after lastmod), 'uncaptured' (in the sitemap, never crawled),
    'unknown' (no or malformed lastmod). The scheduling complement of
    crawl_frontier (which finds urls LINKED but uncrawled; this finds
    urls DECLARED but stale/uncrawled).

    Dates stay exact integers: lastmod parses as days since epoch via
    datediff-on-DATE (timezone-free in both engines) and capture
    timestamps floor-divide by 86400 — no timestamp-zone arithmetic on
    the oracle surface. Sitemap entries are host-dimension-sized; the
    capture side is one groupBy(url).max aggregation of the corpus,
    then an equi join at entry cardinality."""
    entries = sitemaps.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.regexp_extract_all(
                F.col(xml_col), F.lit(r"(?s)<url>.*?</url>"), 0
            )
        ).alias("e"),
    ).select(
        "host",
        F.regexp_extract("e", r"<loc>([^<]*)</loc>", 1).alias("url"),
        F.regexp_extract("e", r"<lastmod>([^<]*)</lastmod>", 1).alias("lastmod"),
    ).where(F.col("url") != "")
    lm_days = F.when(
        F.col("lastmod") != "",
        F.datediff(F.try_to_date("lastmod"), F.to_date(F.lit("1970-01-01"))),
    ).cast("long")
    captures = pages.groupBy(F.col(url_col).alias("url")).agg(
        F.max(F.col(ts_col).cast("long")).alias("last_capture_ts")
    )
    j = entries.withColumn("lastmod_days", lm_days).join(captures, "url", "left")
    cap_days = F.floor(F.col("last_capture_ts") / F.lit(86400)).cast("long")
    status = (
        F.when(F.col("last_capture_ts").isNull(), "uncaptured")
        .when(F.col("lastmod_days").isNull(), "unknown")
        .when(F.col("lastmod_days") > cap_days, "stale")
        .otherwise("fresh")
    )
    return j.select(
        "host",
        "url",
        F.when(F.col("lastmod") != "", F.col("lastmod")).alias("lastmod"),
        "lastmod_days",
        "last_capture_ts",
        cap_days.alias("capture_days"),
        status.alias("status"),
    )
