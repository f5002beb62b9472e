"""Web link-graph operators: href extraction, URL canonicalization,
host-level graph construction, degrees, and intra-corpus link resolution.

The reference pipeline consumes isolated documents (ner_app.py request
bodies; single-file corpora); a Common-Crawl-style corpus at the north
rule's 10^12-page scale is a *hyperlinked* corpus, and the link graph is
a first-class KG input: host authority (PageRank over the host graph)
ranks extraction sources, link resolution finds the crawl frontier, and
anchor edges seed entity co-reference across pages. Everything here is
pure JVM column expressions — ``regexp_extract_all`` + ``explode`` for
extraction, ``when``-chains for canonicalization — no Python UDF touches
the hot path (the html column is decoded and dropped inside one narrow
projection, the Arrow boundary is never crossed).

Scale shape: extraction is a narrow scan->project->explode (no shuffle);
the host graph is ONE aggregation keyed by (src_host, dst_host) — and a
handful of mega-hosts dominating a real web corpus is the canonical
aggregation-skew case, so a salted two-phase twin
(``link_edges_salted``) reuses ``plans.skew.salted_count``; degrees fold
both directions through a single union->groupBy shuffle; resolution is
one equi-join against the page table (AQE skew-split handles head URLs).

Synthetic pages (``synth_linked_pages``) are deterministic and closed
form so DuckDB oracles reconstruct every link from ``documents``: page
``i`` lives on host shard ``ex{i%4}.example.net`` and carries
``1 + i % 3`` anchors; anchor ``k`` targets doc
``t = (i*7 + 13*(k+1)) % M`` where ``M = n_docs + 1 + n_docs/8`` —
targets ``>= n_docs`` are DANGLING (the page does not exist), giving the
resolution join a real miss rate (~11%). The anchor's surface form
rotates by ``k % 3`` to exercise canonicalization: absolute url,
root-relative with query+fragment, and protocol-relative with a
trailing slash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hebrew_ner_spark.plans.buckets import bucket_pairs
from hebrew_ner_spark.plans.rounds import lineage_breaker
from hebrew_ner_spark.plans.skew import salted_count
from hebrew_ner_spark.resources import ENTITY_TERMS

N_HOST_SHARDS = 4
SKEW_BUCKETS = 16

# Anchor texts cycle through the entity vocabulary (sorted for a stable
# order both engines can reproduce) — the anchor-text naming signal.
ANCHOR_TERMS = sorted(ENTITY_TERMS)


def _host_shard(doc_id: Column) -> Column:
    return F.concat(
        F.lit("https://ex"),
        (doc_id % N_HOST_SHARDS).cast("string"),
        F.lit(".example.net/p/"),
        doc_id.cast("string"),
    )


def synth_linked_pages(docs: DataFrame) -> DataFrame:
    """(url, warc_ts, html, text, lang) — hyperlinked CC-style pages.

    Unlike ``extract.synth_webpages`` (single-host, anchor-free — it pins
    the byte-identical extraction invariant), pages here are sharded over
    ``N_HOST_SHARDS`` hosts and embed a deterministic nav block of
    ``<a href>`` anchors, closed-form per doc_id so oracles reconstruct
    the link set without running the extractor.
    """
    n = docs.agg(F.count("*").alias("_n_docs"))
    d = docs.crossJoin(F.broadcast(n))
    m = F.col("_n_docs") + 1 + F.expr("_n_docs DIV 8")
    doc_id = F.col("doc_id")

    def anchor(k: Column) -> Column:
        t = (doc_id * 7 + 13 * (k + 1)) % m
        h = (t % N_HOST_SHARDS).cast("string")
        ts = t.cast("string")
        href = (
            F.when(
                k % 3 == 0,
                F.concat(F.lit("https://ex"), h, F.lit(".example.net/p/"), ts),
            )
            .when(
                k % 3 == 1,
                F.concat(
                    F.lit("/p/"), ts, F.lit("?utm_source=synth#s"), k.cast("string")
                ),
            )
            .otherwise(
                F.concat(F.lit("//ex"), h, F.lit(".example.net/p/"), ts, F.lit("/"))
            )
        )
        term = F.element_at(
            F.array(*[F.lit(t) for t in ANCHOR_TERMS]),
            ((t + k) % len(ANCHOR_TERMS) + 1).cast("int"),
        )
        return F.concat(F.lit('<a href="'), href, F.lit('">'), term, F.lit("</a>"))

    nav = F.array_join(
        F.transform(F.sequence(F.lit(0), doc_id % 3), anchor), ""
    )
    page = F.concat(
        F.lit("<html><head><title>page "),
        doc_id.cast("string"),
        F.lit("</title></head><body><p>"),
        F.col("text"),
        F.lit('</p><div class="nav">'),
        nav,
        F.lit("</div></body></html>"),
    )
    return d.select(
        _host_shard(doc_id).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)"
        ).alias("warc_ts"),
        F.encode(page, "UTF-8").alias("html"),
        "text",
        "lang",
    )


def host_of(url: Column) -> Column:
    """Lower-cased host of an absolute http(s) url ('' if not absolute).

    Userinfo is consumed by the optional ``[^/?#@]*@`` group — which
    must stop at ``?``/``#`` too, or a pathless url with an ``@`` in its
    query ('?email=a@b.org') would donate the wrong host; port/path/
    query/fragment are cut by the ``[^/:?#]+`` capture. No lookaround,
    no ``\\s``, no order-dependent alternation (engine-parity rules,
    BENCH.md) — though only the Spark side runs this regex; oracles
    reconstruct hosts closed-form.
    """
    return F.lower(
        F.regexp_extract(
            url, "^[hH][tT][tT][pP][sS]?://(?:[^/?#@]*@)?([^/:?#]+)", 1
        )
    )


def _scheme_of(url: Column) -> Column:
    """Lower-cased scheme of the page url, defaulting to https when the
    page url itself is not absolute."""
    s = F.lower(F.regexp_extract(url, "^([a-zA-Z]+)://", 1))
    return F.when(s == "", F.lit("https")).otherwise(s)


def canonical_href(href: Column, page_url: Column) -> Column:
    """Resolve + normalize one href against its page url.

    Rules (the subset a CC-scale dedup actually needs, applied in order):
    fragment then query stripped; protocol-relative ``//h/p`` and
    root-relative ``/p`` inherit the PAGE's scheme (browser semantics —
    an http page's relative links must resolve back into the http page
    table, or link_resolution reports false danglings); scheme+host
    lower-cased; one trailing slash stripped. Pure codegen — every rule
    is a string primitive, no UDF.
    """
    scheme = _scheme_of(page_url)
    s = F.substring_index(F.substring_index(href, "#", 1), "?", 1)
    s = (
        F.when(s.startswith("//"), F.concat(scheme, F.lit(":"), s))
        .when(
            s.startswith("/"),
            F.concat(scheme, F.lit("://"), host_of(page_url), s),
        )
        .otherwise(s)
    )
    head = F.lower(F.regexp_extract(s, "^([hH][tT][tT][pP][sS]?://[^/]*)", 1))
    tail = F.regexp_replace(s, "^[hH][tT][tT][pP][sS]?://[^/]*", "")
    s = F.when(head == "", s).otherwise(F.concat(head, tail))
    return F.regexp_replace(s, "/$", "")


def out_links(pages: DataFrame) -> DataFrame:
    """(url, k, href, canon, dst_host): one row per anchor per page.

    Narrow plan: decode html -> regexp_extract_all -> posexplode ->
    canonicalize, all whole-stage codegen; the heavy html column is
    pruned inside the first projection and never shuffles.
    """
    hrefs = F.regexp_extract_all(
        F.decode(F.col("html"), "UTF-8"), F.lit('href="([^"]*)"'), 1
    )
    exploded = pages.select(
        "url", F.posexplode(hrefs).alias("k", "href")
    )
    canon = canonical_href(F.col("href"), F.col("url"))
    return exploded.select(
        "url",
        F.col("k").cast("long").alias("k"),
        "href",
        canon.alias("canon"),
        host_of(canon).alias("dst_host"),
    )


def link_edges(pages: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links): the host-level link multigraph,
    one shuffle keyed by the host pair."""
    return (
        out_links(pages)
        .select(host_of(F.col("url")).alias("src_host"), "dst_host")
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


def link_edges_salted(pages: DataFrame) -> DataFrame:
    """Plan-twin of ``link_edges`` through the two-phase salted
    aggregation — the shape that survives a mega-host (a real corpus's
    wikipedia.org receives double-digit percent of all edges; one
    reducer task must not)."""
    src = out_links(pages).select(
        host_of(F.col("url")).alias("src_host"), "dst_host"
    )
    return salted_count(
        src, ["src_host", "dst_host"], SKEW_BUCKETS, out_col="n_links"
    )


def host_degrees(edges: DataFrame) -> DataFrame:
    """(host, out_links, out_hosts, in_links, in_hosts) from the host
    graph — both directions folded through ONE union->groupBy shuffle
    (no self-join, no second pass over the edge table)."""
    both = edges.select(
        F.col("src_host").alias("host"),
        F.col("n_links").alias("out_links"),
        F.lit(1).alias("out_hosts"),
        F.lit(0).cast("long").alias("in_links"),
        F.lit(0).alias("in_hosts"),
    ).unionByName(
        edges.select(
            F.col("dst_host").alias("host"),
            F.lit(0).cast("long").alias("out_links"),
            F.lit(0).alias("out_hosts"),
            F.col("n_links").alias("in_links"),
            F.lit(1).alias("in_hosts"),
        )
    )
    return both.groupBy("host").agg(
        F.sum("out_links").cast("long").alias("out_links"),
        F.sum("out_hosts").cast("long").alias("out_hosts"),
        F.sum("in_links").cast("long").alias("in_links"),
        F.sum("in_hosts").cast("long").alias("in_hosts"),
    )


def link_resolution(pages: DataFrame) -> DataFrame:
    """(src_host, n_total, n_resolved, n_dangling): how many of each
    host's out-links point at pages that exist in this crawl.

    One left join of canonical targets against the page-url set — the
    crawl-frontier primitive (dangling links ARE the frontier). Page
    urls are already canonical by construction; a real corpus would pass
    them through ``canonical_href`` first.
    """
    targets = out_links(pages).select(
        host_of(F.col("url")).alias("src_host"), F.col("canon").alias("dst")
    )
    known = pages.select(F.col("url").alias("dst")).distinct()
    resolved = targets.join(
        known.withColumn("_hit", F.lit(1)), "dst", "left"
    )
    return resolved.groupBy("src_host").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_resolved"),
        (F.count("*") - F.sum(F.coalesce(F.col("_hit"), F.lit(0))))
        .cast("long")
        .alias("n_dangling"),
    )


def anchor_texts(pages: DataFrame) -> DataFrame:
    """(url, k, href, anchor_text): every anchor with its link text.

    Single codegen pass: extract whole ``<a ...>text</a>`` fragments,
    then pull href and text out of each — no UDF, html pruned in the
    first projection. Positions (k) align with ``out_links`` because
    both walk the document in order.
    """
    frags = F.regexp_extract_all(
        F.decode(F.col("html"), "UTF-8"),
        F.lit('<a href="[^"]*">[^<]*</a>'),
        0,
    )
    exploded = pages.select("url", F.posexplode(frags).alias("k", "frag"))
    return exploded.select(
        "url",
        F.col("k").cast("long").alias("k"),
        F.regexp_extract("frag", 'href="([^"]*)"', 1).alias("href"),
        F.regexp_extract("frag", ">([^<]*)<", 1).alias("anchor_text"),
    )


def anchor_evidence(pages: DataFrame) -> DataFrame:
    """(canon, anchor_text, n): how often each canonical target url is
    referred to by each anchor text — the classic cross-page naming
    signal for entity canonicalization (what the web CALLS a page beats
    what the page calls itself). One aggregation shuffle keyed by
    (canon, anchor_text); head targets are the skew case and the salted
    twin pattern from link_edges applies unchanged if needed."""
    at = anchor_texts(pages)
    canon = canonical_href(F.col("href"), F.col("url"))
    return (
        at.select(canon.alias("canon"), "anchor_text")
        .groupBy("canon", "anchor_text")
        .agg(F.count("*").cast("long").alias("n"))
    )


def host_quality(pages: DataFrame) -> DataFrame:
    """(host, n_pages, n_pass, pass_ratio_1e6): per-host curation signal
    — how much of each host's content survives the document quality
    filter (textstats.quality_pass_expr, the SAME predicate the per-doc
    gate applies). The C4/RefinedWeb move: judge the DOMAIN by its
    pages, then keep or drop whole domains. One narrow pass + one
    host-keyed aggregation shuffle."""
    from hebrew_ner_spark.operators.textstats import quality_pass_expr

    toks = pages.withColumn("toks", F.split(F.col("text"), " "))
    flagged = toks.select(
        host_of(F.col("url")).alias("host"),
        quality_pass_expr().cast("long").alias("_p"),
    )
    return flagged.groupBy("host").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("_p").cast("long").alias("n_pass"),
        F.expr(
            "CAST((2 * sum(_p) * 1000000 + count(*)) DIV (2 * count(*)) AS BIGINT)"
        ).alias("pass_ratio_1e6"),
    )


def quality_hosts(pages: DataFrame) -> DataFrame:
    """(host): hosts whose quality pass-ratio is ABOVE the corpus mean —
    scale-free (exact integer cross-multiplication, the above_mean_edges
    discipline), so no tuned threshold constant can go stale. The two
    corpus totals are folded back via broadcast-of-aggregate (the
    crawl_frontier precedent) — no driver collect, one lazy plan."""
    hq = host_quality(pages)
    tot = hq.agg(
        F.coalesce(F.sum("n_pages"), F.lit(0)).cast("long").alias("_tp"),
        F.coalesce(F.sum("n_pass"), F.lit(0)).cast("long").alias("_ts"),
    )
    return (
        hq.crossJoin(F.broadcast(tot))
        .where(F.col("n_pass") * F.col("_tp") > F.col("_ts") * F.col("n_pages"))
        .select("host")
    )


def crawl_frontier(pages: DataFrame, host_pr: DataFrame) -> DataFrame:
    """(url, host, age_sec, pr_1e6, priority, host_rank) — re-crawl
    prioritization: the crawl loop the KG feeds back into (host PageRank
    exists exactly for "crawl/extraction prioritization", pagerank.py
    module doc). priority = (age_sec + 1) * pr_1e6 — stale pages on
    authoritative hosts first, integer arithmetic only; host_rank orders
    the queue WITHIN each host (politeness: a crawler draws the top k
    per host per cycle, so one mega-host cannot monopolize the fleet).

    Scale shape: one scalar max (broadcast-folded, no collect), one
    host-keyed left join against the host-sized rank table (AQE
    broadcasts it while hosts are few, key-partitions it at web scale),
    and one per-host window for the rank — per-host row counts bound the
    window task; a pathological mega-host takes the two-level bucket
    discipline documented on token_budget_sample.
    """
    p = pages.select(
        "url", host_of(F.col("url")).alias("host"), F.unix_seconds("warc_ts").alias("ts")
    )
    mx = p.agg(F.max("ts").alias("mx"))
    aged = p.crossJoin(F.broadcast(mx)).select(
        "url", "host", (F.col("mx") - F.col("ts")).cast("long").alias("age_sec")
    )
    pr = host_pr.select("host", "pr_1e6")
    scored = aged.join(pr, "host", "left").select(
        "url",
        "host",
        "age_sec",
        F.coalesce("pr_1e6", F.lit(0)).cast("long").alias("pr_1e6"),
        ((F.col("age_sec") + 1) * F.coalesce("pr_1e6", F.lit(0))).cast("long").alias("priority"),
    )
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("url"))
    return scored.select(
        "url", "host", "age_sec", "pr_1e6", "priority",
        F.row_number().over(w).cast("long").alias("host_rank"),
    )


ALIAS_MIN_N = 2  # minimum naming evidence for a mined alias
ALIAS_MIN_SHARE_1E6 = 600_000  # dominance threshold (60% of the alias's uses)


def alias_dictionary(pages: DataFrame) -> DataFrame:
    """(anchor_text, canon, n, n_total, share_1e6): the alias dictionary
    MINED from cross-page naming evidence — for each anchor text, the
    dominant canonical target, kept when it wins >= 60% of the alias's
    uses with >= ALIAS_MIN_N sightings. This is where a web-scale
    linker's dictionary actually comes from (the reference ships a
    static per-language alias list; the crawl keeps growing one): the
    output is exactly the broadcast tier link_mentions consumes.

    Scale shape: one (canon, anchor_text) aggregate (anchor_evidence),
    one anchor-keyed total + argmax window — WindowGroupLimit ships one
    candidate row per alias per map task; ambiguous aliases (share below
    threshold) drop out rather than mislink.
    """
    ev = anchor_evidence(pages)
    tot = ev.groupBy("anchor_text").agg(F.sum("n").cast("long").alias("n_total"))
    w = Window.partitionBy("anchor_text").orderBy(F.col("n").desc(), "canon")
    top = ev.withColumn("_r", F.row_number().over(w)).where(F.col("_r") == 1)
    return (
        top.join(tot, "anchor_text")
        .select(
            "anchor_text",
            "canon",
            "n",
            "n_total",
            F.expr(
                "CAST((2 * n * 1000000 + n_total) DIV (2 * n_total) AS BIGINT)"
            ).alias("share_1e6"),
        )
        .where(
            (F.col("n") >= ALIAS_MIN_N)
            & (F.col("share_1e6") >= ALIAS_MIN_SHARE_1E6)
        )
    )


def synth_messy_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url): deterministically messy absolute urls — mixed-case
    scheme/host, explicit default port, tracking params, fragments,
    trailing slashes — the planted-evidence input for url_canonicalize
    (every mess dimension varies independently by doc_id residue)."""
    return docs.select(
        "doc_id",
        F.concat(
            F.expr("IF(doc_id % 2 = 0, 'HTTPS', 'https')"),
            F.lit("://"),
            F.expr("IF(doc_id % 4 = 0, 'ExAmple.ORG', 'example.org')"),
            F.expr("IF(doc_id % 3 = 0, ':443', '')"),
            F.lit("/"),
            F.col("lang"),
            F.lit("/Doc/"),
            F.col("doc_id").cast("string"),
            F.expr("IF(doc_id % 2 = 0, '/', '')"),
            F.expr(
                "CASE CAST(doc_id % 3 AS INT)"
                " WHEN 0 THEN concat('?utm_source=feed&ref=', CAST(doc_id % 5 AS STRING))"
                " WHEN 1 THEN concat('?ref=', CAST(doc_id % 5 AS STRING))"
                " ELSE '' END"
            ),
            F.expr("IF(doc_id % 5 = 0, '#top', '')"),
        ).alias("url"),
    )


def url_canonicalize(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """+ ``canon`` column: the crawl-dedup URL canonicalizer — the rules
    a CC-scale frontier/dedup actually applies, in order:

    1. fragment stripped;
    2. ``utm_*`` tracking params stripped (leading-param shape; other
       params KEPT — unlike canonical_href, which drops whole queries
       for link-graph identity);
    3. scheme + host (+port) lower-cased, path case preserved;
    4. explicit default port ``:443`` dropped (synthesis is all-https);
    5. one trailing path slash stripped — including the path-final
       slash in front of a kept query string.

    Pure codegen string primitives, zero shuffles. Each rule is one
    regexp with no lookaround (engine-parity rules, BENCH.md); the
    oracle replays them with DuckDB's backreference syntax — identical
    VALUES, independently spelled."""
    u = F.regexp_replace(F.col(url_col), "#.*", "")
    u = F.regexp_replace(u, "\\?utm_[^&]*&", "?")
    u = F.regexp_replace(u, "\\?utm_[^&]*$", "")
    head = F.lower(F.regexp_extract(u, "^([a-zA-Z]+://[^/?#]*)", 1))
    tail = F.regexp_replace(u, "^[a-zA-Z]+://[^/?#]*", "")
    u = F.when(head == "", u).otherwise(F.concat(head, tail))
    u = F.regexp_replace(u, "^(https://[^/:]+):443", "$1")
    u = F.regexp_replace(u, "/\\?", "?")
    u = F.regexp_replace(u, "/$", "")
    return pages.withColumn("canon", u)


CRAWL_BUDGET = 1000


def crawl_budget(pages: DataFrame, budget: int = CRAWL_BUDGET) -> DataFrame:
    """(host, w, base, rem, budget): per-host crawl-budget apportionment
    by the largest-remainder (Hamilton) method over the host quality
    signal — the crawl-planning step between host_quality (which hosts
    deserve fetches) and crawl_frontier (which urls, in what order):
    w = quality-passing pages, base = floor(budget * w / W),
    the leftover budget - sum(base) seats go to the largest remainders
    (rem DESC, host ASC tie order). EXACT integer arithmetic end to
    end, and the output provably sums to ``budget`` (sum of fractional
    parts is an integer); a zero-remainder host can never win a seat
    (extra < count(rem > 0)), so zero-weight hosts always get 0.

    Engine shape: one host-keyed aggregation (host_quality), two
    provably driver-sized scalar folds (W, sum(base)) — each folded
    back via broadcast-of-aggregate (the crawl_frontier precedent;
    no driver collect, one lazy plan), one codegen projection, and one
    rank window over the HOST table — corpus-sublinear; a 10^8-host
    frontier takes the build_vocab two-level-rank discipline with
    rem-range buckets. w * budget stays far inside int64 for any
    real corpus (pages <= 10^12, budget <= 10^6). The W == 0 corpus
    degenerates through IF-guarded arithmetic (everything 0), not a
    driver branch."""
    hq = host_quality(pages).select("host", F.col("n_pass").alias("w"))
    tw = hq.agg(F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("_tw"))
    scored = hq.crossJoin(F.broadcast(tw)).select(
        "host",
        "w",
        "_tw",
        F.expr(f"CAST(IF(_tw = 0, 0, (w * {budget}) DIV _tw) AS BIGINT)").alias("base"),
        F.expr(f"CAST(IF(_tw = 0, 0, (w * {budget}) % _tw) AS BIGINT)").alias("rem"),
    )
    sb = scored.agg(
        F.coalesce(F.sum("base"), F.lit(0)).cast("long").alias("_sb"),
        F.max((F.col("_tw") > 0).cast("long")).alias("_live"),
    )
    rk = F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("host")))
    return (
        scored.crossJoin(F.broadcast(sb))
        .withColumn("_rk", rk)
        .select(
            "host",
            "w",
            "base",
            "rem",
            (
                F.col("base")
                + (
                    (F.col("_live") == 1)
                    & (F.col("_rk") <= F.lit(budget) - F.col("_sb"))
                ).cast("long")
            ).alias("budget"),
        )
    )


# ---------------------------------------------------------------------------
# rel=canonical chain resolution
# ---------------------------------------------------------------------------

CANON_MAX_ROUNDS = 8


def synth_canonical_decls(docs: DataFrame) -> DataFrame:
    """(url, canon) — per-page rel=canonical declarations, closed-form:
    page p declares its block base p - p%3 canonical; every base whose
    id is a multiple of 3 (but not of 30) declares the 30-block base —
    so chains of depth 0, 1 and 2 all exist at every scale factor, the
    shapes real mirror/session-id/tracking-param duplication produces.
    Urls reuse the /p/{doc_id} scheme so downstream joins are uniform.
    """
    u = lambda c: F.concat(F.lit("https://site.example.org/p/"), c.cast("string"))  # noqa: E731
    d = F.col("doc_id")
    target = F.when(d % 3 != 0, d - d % 3).otherwise(
        F.when(d % 30 != 0, d - d % 30).otherwise(d)
    )
    return docs.select(u(d).alias("url"), u(target).alias("canon"))


def canonical_resolve(
    decls: DataFrame,
    max_rounds: int = CANON_MAX_ROUNDS,
) -> DataFrame:
    """(url, canonical_url, depth) — every page mapped to its chain ROOT
    (the page declaring itself canonical), with the hop count.

    Search-engine dedup folds mirrors/parameterized urls by FOLLOWING
    canonical declarations, which chain (p -> print view -> base).
    Resolution advances one hop per round against the STATIC url->canon
    lookup (which keeps ``depth`` an exact hop count — a doubling jump
    would need depth bookkeeping the web's tiny chain depths don't
    justify): rounds = max chain depth, each round ONE join keyed by
    the current target over the 10^12-row table. Convergence is one
    count action per round; the cap RAISES (a half-resolved canonical
    map silently merges the wrong duplicates); rounds break lineage via
    the shared breaker (``plans/rounds.py`` — round tables under a
    configured checkpoint dir, so executor loss mid-fold on a real
    cluster does not orphan the lineage). Declarations pointing
    outside the crawl resolve to the declared target (left join keeps
    them); cycles cannot appear (declarations are id-decreasing by
    construction — real pipelines break ties by url order first).
    """
    _break = lineage_breaker(decls)
    cur = decls.select(
        "url", F.col("canon").alias("c"),
        F.when(F.col("url") == F.col("canon"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("depth"),
    )
    lookup = decls.select(
        F.col("url").alias("_lu"), F.col("canon").alias("_lc")
    )
    changed = -1
    for _ in range(max_rounds):
        stepped = cur.join(lookup, cur["c"] == F.col("_lu"), "left").select(
            "url",
            F.coalesce("_lc", F.col("c")).alias("c"),
            (
                F.col("depth")
                + F.when(
                    F.col("_lc").isNotNull() & (F.col("_lc") != F.col("c")), 1
                ).otherwise(0)
            ).alias("depth"),
            (F.col("_lc").isNotNull() & (F.col("_lc") != F.col("c"))).alias(
                "_moved"
            ),
        )
        stepped = _break(stepped)
        changed = stepped.where("_moved").count()
        cur = stepped.select("url", "c", "depth")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"canonical_resolve did not converge within {max_rounds} rounds"
        )
    return cur.select(
        "url",
        F.col("c").alias("canonical_url"),
        F.col("depth").cast("long").alias("depth"),
    )


# --- mirror-host detection ------------------------------------------------------

MIRROR_THRESHOLD_1E6 = 900_000  # host-level shingle Jaccard >= 0.9 = mirror


def mirror_host_pairs(
    pages: DataFrame, threshold_1e6: int = MIRROR_THRESHOLD_1E6
) -> DataFrame:
    """(host_a, host_b, n_a, n_b, n_inter, jaccard_1e6, is_mirror) —
    candidate mirror-host pairs with exact host-level shingle Jaccard.

    Mirrors (the same site served under several hosts) are a fixture of
    web crawls; URL-level dedup misses them (different URLs) and
    doc-level near-dup finds the pages but not the HOST decision a
    crawler needs ("stop fetching this host entirely"). The trick that
    makes host grain tractable: a MinHash signature COMPOSES — the
    min over a host's shingle union equals the min over its documents'
    rows — so the existing one-pass signature aggregation runs
    unchanged with the host as the key; no per-host shingle-set
    materialization, no host x host comparison. LSH banding then
    produces candidate pairs only for hosts sharing a band (same caps /
    overflow discipline as document LSH — `plans.buckets`), and
    only those pairs pay the exact set-intersection verify, whose cost
    is bounded by the candidates. At 10^8 hosts this is the same plan;
    only the key changed.
    """
    from hebrew_ner_spark.operators import dedup

    hp = pages.select(host_of(F.col("url")).alias("doc_id"), "text")
    keyed = dedup.band_keys_from_shingles(dedup._shingle_rows(hp))
    pairs = (
        bucket_pairs(keyed, ["band", "band_key"], "doc_id", dedup.MAX_BUCKET)
        .select(F.col("a").alias("host_a"), F.col("b").alias("host_b"))
        .distinct()
    )
    sh = dedup._shingle_rows(hp).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("host_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("host_b"), "shingle")
    inter = (
        pairs.join(a, "host_a")
        .join(b, ["host_b", "shingle"])
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("host_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("host_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(na, "host_a")
        .join(nb, "host_b")
        .select(
            "host_a",
            "host_b",
            "n_a",
            "n_b",
            "n_inter",
            F.expr(
                "CAST((2 * n_inter * 1000000 + (n_a + n_b - n_inter))"
                " DIV (2 * (n_a + n_b - n_inter)) AS BIGINT)"
            ).alias("jaccard_1e6"),
        )
        .withColumn(
            "is_mirror",
            (F.col("jaccard_1e6") >= threshold_1e6).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Link-farm detection via densest subgraph
# ---------------------------------------------------------------------------

FARM_HOSTS = 64     # host universe (doc_id % FARM_HOSTS covers it at all sfs)
FARM_LO = 56        # hosts [FARM_LO, FARM_HOSTS) form the planted farm


def synth_farm_host_edges(docs: DataFrame) -> DataFrame:
    """(a, b) a < b — an undirected host graph with a PLANTED link farm
    (the repo's planted-group pattern, cf. dedup_exact): a sparse
    deterministic background (two affine-map neighbors per host) plus a
    complete subgraph on hosts [FARM_LO, FARM_HOSTS) — the mutual-
    admiration clique a spam farm's cross-linking produces (Gibson,
    Kumar & Tomkins 2005 find exactly these as dense subgraphs). The
    host universe derives from doc_id so no external data is involved;
    background density ~2.3 vs farm density 3.5, so the densest-subgraph
    peel must recover the farm EXACTLY — the gate is structurally
    non-vacuous."""
    hosts = docs.select((F.col("doc_id") % FARM_HOSTS).alias("h")).distinct()
    bg = None
    for mul, add in ((17, 3), (29, 11)):
        j = (F.col("h") * mul + add) % FARM_HOSTS
        e = hosts.where(F.col("h") != j).select(
            F.least(F.col("h"), j).alias("a"),
            F.greatest(F.col("h"), j).alias("b"),
        )
        bg = e if bg is None else bg.unionAll(e)
    farm_hosts = hosts.where(F.col("h") >= FARM_LO)
    farm = (
        farm_hosts.select(F.col("h").alias("a"))
        .crossJoin(farm_hosts.select(F.col("h").alias("b")))
        .where(F.col("a") < F.col("b"))
    )
    return bg.unionAll(farm).distinct()
