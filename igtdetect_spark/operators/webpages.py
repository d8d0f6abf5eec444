"""Web-page URL operators for Common-Crawl-style corpora: URL
canonicalization and freshest-crawl deduplication.

The target input shape is the CC page table ``(url, warc_ts, html,
text, lang)`` — the same page may be fetched many times across crawls
under cosmetically different URLs (scheme, ``www.``, default port,
tracking parameters, parameter order, fragment, trailing slash).  The
standard curation step (CC-Net / RefinedWeb / FineWeb all do a form of
it) is: canonicalize the URL, group, and keep exactly one page per
canonical URL — here the LATEST fetch, with the smallest id breaking
timestamp ties.

Everything is native column expressions (regex + array functions in
whole-stage codegen; the Java-regex ∩ RE2 subset only — no lookaround —
so the DuckDB oracle mirrors byte-for-byte).  The driver's synthetic
``documents`` table has no URL column, so the graded query derives a
deterministic page table from ``doc_id``'s md5 nibbles identically on
both engines (:func:`synthetic_page_urls`) — same convention as the
cleaning family's pseudo-lines.

Scale shape: canonicalization is a per-row map (ZERO shuffles, fuses
into the scan); the dedup is ONE hash aggregate on the canonical URL
with a map-side-combinable ``max(struct(ts, -id))`` winner — no window,
no second shuffle, no join.  Canonical-URL groups are tiny (re-crawl
multiplicity), so there is no skew axis; at 10¹² pages the aggregate is
the unavoidable one exchange of any global group-by-URL.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import materialize, scoped
from .scale import spread_small_scan

#: Query parameters dropped during canonicalization: tracking junk that
#: never changes the resource (Google Analytics ``utm_*``, Facebook's
#: click id).  SQL-LIKE-free so both engines use the same regex.
TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid)="


def _nib(h, i: int):
    """Value 0-15 of hex digit ``i`` (1-based) of md5 column ``h``."""
    return F.conv(F.substring(h, i, 1), 16, 10).cast("int")


def synthetic_page_urls(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, url, fetch_ts_sec): a deterministic Common-Crawl-ish
    page-URL table derived from ``md5(doc_id)`` nibbles, engineered so
    every canonicalization rule has both firing and non-firing
    population and distinct raw URLs collide on canonical form:

    * host ``site{0-3}.example.org``, optionally ``www.``-prefixed
    * scheme http|https, optionally with the matching default port
    * path ``/a/{0-39}`` (320 canonical slots → real dup groups),
      optionally with a trailing slash
    * query: ``?id=X`` with tracking params before/after/absent, or no
      query at all (a genuinely different canonical resource)
    * fragment ``#frag`` on half the URLs
    * ``fetch_ts_sec`` strictly distinct per doc (7919 is coprime to
      the modulus span), so "latest fetch" is well-defined.
    """
    docs = spread_small_scan(docs, "doc_id")
    h = F.md5(F.col("doc_id").cast("string"))
    path_id = (_nib(h, 5) * 16 + _nib(h, 6)) % 40
    scheme = F.when(_nib(h, 3) % 2 == 0, F.lit("http")).otherwise(
        F.lit("https")
    )
    port = F.when(
        _nib(h, 4) % 4 == 0,
        F.when(_nib(h, 3) % 2 == 0, F.lit(":80")).otherwise(
            F.lit(":443")
        ),
    ).otherwise(F.lit(""))
    qid = F.concat(F.lit("id="), path_id.cast("string"))
    query = (
        F.when(_nib(h, 8) % 4 == 0,
               F.concat(F.lit("?"), qid, F.lit("&utm_source=rss")))
        .when(_nib(h, 8) % 4 == 1,
              F.concat(F.lit("?utm_campaign=x&"), qid))
        .when(_nib(h, 8) % 4 == 2, F.concat(F.lit("?"), qid))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        scheme,
        F.lit("://"),
        F.when(_nib(h, 2) % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"), (_nib(h, 1) % 4).cast("string"),
        F.lit(".example.org"), port,
        F.lit("/a/"), path_id.cast("string"),
        F.when(_nib(h, 7) % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        query,
        F.when(_nib(h, 9) % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        (F.lit(1735689600) + (F.col("doc_id") * 7919) % 8640000)
        .cast("long").alias("fetch_ts_sec"),
        *[F.col(c) for c in carry],
    )


def canonical_url(url) -> "F.Column":
    """Canonical form of a URL column, as one native expression chain:

    1. strip the fragment;
    2. fold scheme to ``https`` (CC dedup treats the two fetches as one
       resource);
    3. strip a leading ``www.``;
    4. strip an explicit default port (``:443``/``:80`` — 80 folds
       because step 2 already folded its scheme);
    5. drop tracking query parameters (:data:`TRACKING_PARAM_RE`) and
       SORT the survivors (parameter order is not resource identity);
    6. strip a trailing slash from the path.

    Regexes stay inside the Java ∩ RE2 subset (no lookaround) so the
    DuckDB mirror (``SQL_URL_DEDUP``) is byte-identical.
    """
    u = F.regexp_replace(url, r"#.*$", "")
    u = F.regexp_replace(u, r"^http://", "https://")
    u = F.regexp_replace(u, r"^https://www\.", "https://")
    u = F.regexp_replace(
        u, r"^(https://[^/?#:]+):(443|80)([/?].*)?$", "$1$3"
    )
    base = F.regexp_replace(u, r"\?.*$", "")
    base = F.regexp_replace(base, r"/$", "")
    params = F.filter(
        F.split(F.regexp_extract(u, r"\?(.*)$", 1), "&"),
        lambda p: (F.length(p) > 0)
        & ~p.rlike(TRACKING_PARAM_RE),
    )
    return F.concat(
        base,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
        ).otherwise(F.lit("")),
    )


def synthetic_param_pages(docs: DataFrame) -> DataFrame:
    """(url, text) rows for DUST-rule mining: every document yields its
    parameterless base page plus 1-4 single-parameter variants whose
    CONTENT behavior is planted —

    - ``utm_campaign`` (always emitted) and ``sort`` (md5-nibble-gated)
      preserve the text exactly → droppable;
    - ``sess`` (nibble-gated) preserves text with a per-doc VALUE
      (session ids look unique but don't change content — the classic
      DUST catch);
    - ``page`` (nibble-gated) APPENDS content → a real content param;
    - ``ref`` preserves for even-nibble docs only → a mixed param whose
      preserved fraction must land strictly between 0 and 10⁶.
    """
    h = F.md5(F.col("doc_id").cast("string"))
    base_url = _page_url(F.col("doc_id"))
    text = F.coalesce(F.col("text"), F.lit(""))
    nib4 = _nib(h, 4)

    def variant(cond, qs: "F.Column", body: "F.Column") -> DataFrame:
        return docs.filter(cond).select(
            F.concat(base_url, F.lit("?"), qs).alias("url"),
            body.alias("text"),
        )

    base = docs.select(base_url.alias("url"), text.alias("text"))
    always = F.lit(True)
    parts = [
        base,
        variant(
            always,
            F.concat(F.lit("utm_campaign=c"),
                     (F.col("doc_id") % 3).cast("string")),
            text,
        ),
        variant(
            nib4 % 2 == 0,
            F.concat(F.lit("sess=s"), F.col("doc_id").cast("string")),
            text,
        ),
        variant(
            nib4 % 4 == 1,
            F.lit("page=2"),
            F.concat(text, F.lit(" :: page two tail")),
        ),
        variant(nib4 % 8 == 3, F.lit("sort=asc"), text),
        variant(
            always,
            F.lit("ref=partner"),
            F.when(nib4 % 2 == 0, text).otherwise(
                F.concat(text, F.lit(" :: referral banner"))
            ),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dust_rules(pages: DataFrame) -> DataFrame:
    """DUST rule mining (Bar-Yossef et al., WWW 2007 — "Do Not Crawl
    in the DUST: different URLs with similar text"): learn, per (host,
    query-parameter), whether stripping the parameter preserves page
    content — the rules a crawler then applies to collapse its
    frontier.  Complementary to :func:`canonical_url`, which strips a
    STATIC tracking-param list; this LEARNS the list from fetched
    content, host by host (``sess`` may be content-bearing on one site
    and a pure session marker on another).

    Grain: single-parameter variants (``base?p=v`` vs ``base``) — the
    pairwise rule grain of the paper; multi-param urls are out of
    scope here and filtered (disclosed, and at the frontier they are
    handled by applying learned single-param rules iteratively).

    Scale shape: one narrow projection parses base/param and
    fingerprints content (md5 — no text leaves the scan); variants
    equi-join their base's fingerprint on the base url (both sides
    hash-partition on the SAME key); one hash aggregate to (host,
    param).  Preserved fraction in integer ppm.

    Output: (host, param, n_pairs, preserved_ppm, droppable).
    """
    qs = F.regexp_extract("url", r"\?(.*)$", 1)
    parsed = pages.select(
        F.regexp_replace("url", r"\?.*$", "").alias("base"),
        qs.alias("_qs"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_fp"),
    ).filter(~F.col("_qs").contains("&"))
    bases = parsed.filter(F.col("_qs") == "").select(
        F.col("base"), F.col("_fp").alias("_fp_base")
    )
    variants = parsed.filter(F.col("_qs") != "").select(
        "base",
        F.regexp_extract("_qs", r"^([^=&]+)", 1).alias("param"),
        "_fp",
    )
    pairs = variants.join(bases, "base").select(
        F.regexp_extract("base", r"^https://([^/]+)", 1).alias("host"),
        "param",
        (F.col("_fp") == F.col("_fp_base")).cast("int").alias("_same"),
    )
    return (
        pairs.groupBy("host", "param")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("_same").alias("_n_same"),
        )
        .select(
            "host",
            "param",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.expr("(_n_same * 1000000L) div n_pairs")
            .alias("preserved_ppm"),
            (F.expr("(_n_same * 1000000L) div n_pairs") == 1_000_000)
            .alias("droppable"),
        )
    )


def crawl_trap_hosts(pages: DataFrame, min_urls: int = 20) -> DataFrame:
    """Crawl-trap detection (the Heritrix/Nutch operational screen):
    a host whose URL space explodes while its CONTENT does not —
    calendars, session-id mazes, faceted-search grids — shows many
    distinct urls per distinct content fingerprint.  Per host:
    distinct urls, distinct content md5s, the duplicate-url fraction
    in integer ppm, and the trap verdict (fraction ≥ threshold AND
    enough urls to matter — a 3-url host is never evidence).

    Scale shape: one narrow projection (host parse + md5 fingerprint,
    fused into the scan), ONE hash aggregate on host with two distinct
    counts (partial aggregation applies; a pathological host
    concentrates one aggregate cell, not a join).  This is the
    host-grain summary OF the same signal :func:`dust_rules` mines at
    parameter grain — the two run off one scan in practice.

    Output: (host, n_urls, n_content, dup_ratio_ppm, trap).
    """
    parsed = pages.select(
        F.regexp_extract("url", r"^https://([^/]+)", 1).alias("host"),
        F.col("url"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_fp"),
    )
    agg = parsed.groupBy("host").agg(
        F.count_distinct("url").alias("n_urls"),
        F.count_distinct("_fp").alias("n_content"),
    )
    ratio = F.expr("((n_urls - n_content) * 1000000L) div n_urls")
    return agg.select(
        "host",
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_content").cast("long").alias("n_content"),
        ratio.alias("dup_ratio_ppm"),
        (
            (ratio >= 300_000)
            & (F.col("n_urls") >= min_urls)
        ).alias("trap"),
    )


def url_dedup(pages: DataFrame) -> DataFrame:
    """One row per canonical URL: how many raw fetches collapsed onto
    it and which single page survives (latest ``ts``, smallest id on a
    timestamp tie).

    Exactly one shuffle: ``groupBy(canonical)`` with the winner picked
    by a map-side-combinable ``max(struct(ts, -id))`` — no window
    function, so no second exchange and no per-group sort.

    Output: (canonical_url, n_variants, kept_doc_id, latest_ts_sec).
    """
    canon = pages.select(
        F.col("doc_id").alias("_id"),
        F.col("fetch_ts_sec").cast("long").alias("_ts"),
        canonical_url(F.col("url")).alias("canonical_url"),
    )
    best = F.max(
        F.struct(F.col("_ts").alias("ts"), (-F.col("_id")).alias("neg"))
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_variants"),
        best.alias("_best"),
    ).select(
        "canonical_url",
        "n_variants",
        (-F.col("_best.neg")).cast("long").alias("kept_doc_id"),
        F.col("_best.ts").alias("latest_ts_sec"),
    )


# ---------------------------------------------------------------------------
# Synthetic boilerplate-wrapped HTML pages + main-content extraction
# (the north-rule stage: HTML boilerplate strip, byte-identical text/url)
# ---------------------------------------------------------------------------

#: Navigation variants (2-4 links) chosen per page by an md5 nibble.
#: Every variant is a pure link farm: link_frac = 1.0, zero stopword
#: hits, < 25 visible chars — dropped by ALL THREE density gates, so the
#: oracle never needs to model them.
_NAV_VARIANTS = (
    '<nav><a href="/">Home</a><a href="/news">News</a></nav>',
    '<nav><a href="/">Home</a><a href="/news">News</a>'
    '<a href="/tags">Tags</a></nav>',
    '<nav><a href="/">Home</a><a href="/news">News</a>'
    '<a href="/tags">Tags</a><a href="/rss">RSS</a></nav>',
)
_AD_BLOCK = (
    '<div class="promo"><a href="/buy">Buy now</a>'
    '<a href="/win">Win big</a></div>'
)
#: Footer: 12 of 24 non-space chars are anchor text (link_frac 0.5 >
#: 0.4) and no stopwords — dropped by two independent gates.
_FOOTER = (
    '<footer><a href="/contact">Contact</a>'
    '<a href="/legal">Legal</a>SiteCorp 2026</footer>'
)
#: Constant second article paragraph: ≥ 25 chars, stopword-bearing, no
#: anchors, no ``&<>`` — ALWAYS kept, so every page extracts ≥ 1 block
#: and the kernel's multi-block join ("\n\n") is exercised whenever the
#: document block survives too.
ARTICLE_TRAILER = (
    "This second paragraph is part of the article and survives the "
    "extraction filter."
)


def synthetic_html_pages(docs: DataFrame) -> DataFrame:
    """The ``input_hint`` CC page table ``(doc_id, url, warc_ts, html,
    text, lang)`` derived deterministically from ``documents``: each
    page's ``html`` wraps the document's text in boilerplate — a
    pure-link nav (md5-nibble-chosen variant), a link-farm promo block,
    the document text as the first ``<p>``, :data:`ARTICLE_TRAILER` as
    the second, and a link-heavy footer.

    The document text is HTML-escaped (``& < >``) so the strip →
    unescape round-trip is the identity, and separator control bytes
    (``\\n \\x02 \\x03``) are folded to spaces so the document is
    exactly ONE block in the page (real pages go through the kernels
    unsanitized — hostile inputs are pytest-covered on the kernel
    directly; this builder's job is a *provable* expected value on both
    engines). One projection over the (spread) scan.
    """
    docs = spread_small_scan(docs, "doc_id")
    h = F.md5(F.col("doc_id").cast("string"))
    esc = F.coalesce(F.col("text"), F.lit(""))
    for bad, good in (
        ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
        ("\n", " "), ("\x02", " "), ("\x03", " "),
    ):
        esc = F.replace(esc, F.lit(bad), F.lit(good))
    nav = F.elt(
        _nib(h, 10) % 3 + 1, *[F.lit(v) for v in _NAV_VARIANTS]
    )
    page = F.concat(
        F.lit("<html><head><title>Doc</title><style>.m{}</style>"
              "</head><body>"),
        nav,
        F.lit(_AD_BLOCK),
        F.lit("<article><p>"), esc, F.lit("</p><p>"),
        F.lit(ARTICLE_TRAILER), F.lit("</p></article>"),
        F.lit(_FOOTER),
        F.lit("</body></html>"),
    )
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (_nib(h, 1) % 4).cast("string"),
            F.lit(".example.org/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1735689600) + (F.col("doc_id") * 7919) % 8640000
        ).alias("warc_ts"),
        F.encode(page, "utf-8").alias("html"),
        "text",
        "lang",
    )


_MAIN_CONTENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("main_text", T.StringType()),
        T.StructField("kept_blocks", T.LongType()),
    ]
)


def main_content_pages(pages: DataFrame) -> DataFrame:
    """Density-based main-content extraction over the ``html`` column
    (north rule: boilerplate strip with byte-identical extracted text
    per url): per-block link-character fraction / text mass / function-
    word gates, computed by the production kernel
    (:func:`igtdetect_spark.segmentation.main_content_text`).

    Scale shape: a pure per-row map — ZERO shuffles, fuses into the
    scan, and only ``(doc_id, url, html)`` cross the Arrow boundary
    (column pruning keeps ``text``/``lang`` out of Python). Cost is
    linear in page bytes; mega-pages are bounded by the Arrow batch
    size, so there is no skew axis beyond page length itself. At 10¹²
    pages this is embarrassingly parallel.

    Output: (doc_id, url, main_text, kept_blocks) where ``kept_blocks``
    counts surviving blocks (0 when nothing passes the gates).
    """
    from ..segmentation import main_content_text

    def gen(batches):
        for pdf in batches:
            texts = [main_content_text(h) for h in pdf["html"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "url": pdf["url"],
                    "main_text": texts,
                    "kept_blocks": [
                        (t.count("\n\n") + 1) if t else 0 for t in texts
                    ],
                }
            )

    return pages.select("doc_id", "url", "html").mapInPandas(
        gen, schema=_MAIN_CONTENT_SCHEMA
    )


_STRIP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("text_full", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def strip_html_pages(pages: DataFrame) -> DataFrame:
    """Plain HTML → text boilerplate strip (the non-density mode of the
    north-rule extraction stage): script/style/head/comment removal,
    block-tag paragraph structure, entity unescape — ALL visible text
    kept, byte-identically (:func:`igtdetect_spark.segmentation.strip_html`).

    Same scale shape as :func:`main_content_pages`: a zero-exchange
    Arrow-batched per-row map over ``(doc_id, url, html)`` only.

    Output: (doc_id, url, text_full, n_chars).
    """
    from ..segmentation import strip_html

    def gen(batches):
        for pdf in batches:
            texts = [strip_html(h) for h in pdf["html"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "url": pdf["url"],
                    "text_full": texts,
                    "n_chars": [len(t) for t in texts],
                }
            )

    return pages.select("doc_id", "url", "html").mapInPandas(
        gen, schema=_STRIP_SCHEMA
    )


# ---------------------------------------------------------------------------
# Link-graph construction (CC web-graph step: href extraction, in-degree)
# ---------------------------------------------------------------------------


def _page_url(id_expr) -> "F.Column":
    """The synthetic url for a doc-id EXPRESSION (md5-nibble site shard,
    same scheme as :func:`synthetic_html_pages`)."""
    return F.concat(
        F.lit("https://site"),
        (_nib(F.md5(id_expr.cast("string")), 1) % 4).cast("string"),
        F.lit(".example.org/p/"),
        id_expr.cast("string"),
    )


def _page_url_sql(x: str) -> str:
    """:func:`_page_url` as Spark SQL text over the SQL expression ``x``."""
    return (
        "concat('https://site', CAST(CAST(conv(substring("
        f"md5(CAST({x} AS STRING)), 1, 1), 16, 10) AS INT) % 4 AS STRING), "
        f"'.example.org/p/', CAST({x} AS STRING))"
    )


#: Anchor-word vocabulary for the synthetic link farm: word ``(doc_id +
#: j) mod 5`` + the target id, so per-target anchor aggregation sees
#: several distinct anchors (the real-web norm) yet stays provable.
ANCHOR_WORDS = ("click", "read", "more", "info", "here")


def synthetic_linked_pages(
    docs: DataFrame, targets_mod: int = 256
) -> DataFrame:
    """(doc_id, url, html): pages whose HTML carries 1-3 deterministic
    outlinks — target ids ``(doc_id·31 + j·97) mod targets_mod`` — so
    the link graph is provable on both engines. Links 1-2 are
    in-crawl pages; link 3 (when present) points at an EXTERNAL host,
    so dangling targets exist at every corpus size (like the real
    web). Link count varies by an md5 nibble so the extractor must
    handle ragged link lists; anchor text varies by (source, slot)
    (:data:`ANCHOR_WORDS`). Body text is constant: this table grades
    link/anchor extraction; page TEXT extraction is ``html_extract``'s
    job.

    The three output columns are Spark SQL text applied in ONE
    ``selectExpr``: building the same expressions as ``Column`` objects
    costs one py4j round trip per node, ~150 per call."""
    i = "`doc_id`"
    k = (
        f"(1 + CAST(conv(substring(md5(CAST({i} AS STRING)), 2, 1), 16, 10)"
        " AS INT) % 3)"
    )
    words = ", ".join(f"'{w}'" for w in ANCHOR_WORDS)

    def link(j: int) -> str:
        tgt = f"(({i} * 31 + {j * 97}) % {int(targets_mod)})"
        dst = (
            f"concat('https://ext', CAST({tgt} AS STRING), '.example.net/')"
            if j == 3
            else _page_url_sql(tgt)
        )
        word = (
            f"element_at(array({words}), "
            f"CAST(({i} + {j}) % {len(ANCHOR_WORDS)} + 1 AS INT))"
        )
        return (
            f"CASE WHEN {j} <= {k} THEN concat('<li><a href=\"', {dst}, "
            f"'\">', {word}, ' ', CAST({tgt} AS STRING), '</a></li>') "
            "ELSE '' END"
        )

    html = (
        "concat('<html><body><p>A short constant paragraph.</p><ul>', "
        f"{link(1)}, {link(2)}, {link(3)}, '</ul></body></html>')"
    )
    return docs.selectExpr(
        f"{i} AS doc_id",
        f"{_page_url_sql(i)} AS url",
        f"encode({html}, 'utf-8') AS html",
    )


def extract_links(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url) edge list: decode the html column and pull
    every ``href`` attribute — pure native expressions (decode +
    regexp_extract_all + explode), whole-stage codegen, NO Python and
    NO shuffle. The per-row fan-out is the page's link count, so at
    10¹² pages this is a flat map fused into the scan."""
    return pages.select(F.col("url").alias("src_url"), _hrefs())


def _hrefs() -> "F.Column":
    """``dst_url``: one row per ``href`` of the page's html."""
    return F.explode(
        F.regexp_extract_all(
            F.decode(F.col("html"), "UTF-8"),
            F.lit(r'href="([^"]+)"'), F.lit(1),
        )
    ).alias("dst_url")


def link_graph(pages: DataFrame) -> DataFrame:
    """In-degree view of the crawl's link graph: per target URL, total
    incoming edges, distinct linking pages, and whether the target is
    inside the crawl (dangling links are the web's norm — a left-semi
    style resolution against the crawl's own url set).

    Scale shape: extraction is a fused flat map; the in-degree is ONE
    hash aggregate on dst_url (map-side combinable); the resolution is
    an equi-join on url between the AGGREGATED edge relation and the
    page-url relation — both sides hash-exchange once on the same key.
    In-degree skew (a viral page) only concentrates an aggregate cell,
    not a join row explosion.

    Output: (dst_url, in_degree, n_src, is_internal).
    """
    edges = extract_links(pages)
    agg = edges.groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.count_distinct(F.col("src_url")).alias("n_src"),
    )
    urls = pages.select(F.col("url").alias("dst_url")).distinct()
    return (
        agg.join(urls.withColumn("is_internal", F.lit(True)),
                 "dst_url", "left")
        .select(
            "dst_url",
            F.col("in_degree").cast("long").alias("in_degree"),
            F.col("n_src").cast("long").alias("n_src"),
            F.coalesce(F.col("is_internal"), F.lit(False))
            .alias("is_internal"),
        )
    )


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url, anchor) triples: pull every ``<a
    href="...">text</a>`` pair from the html column.

    ONE ``regexp_extract_all`` pass over the page bytes (full matches,
    group 0), exploded, then two per-MATCH ``regexp_extract`` calls
    recover href and anchor — the page-sized string is scanned once,
    and the second-pass regexes run over tens-of-bytes match strings.
    (The previous two-congruent-``extract_all`` form scanned the whole
    page twice and measurably GC-bound the 2-core scaling leg.) Pure
    native expressions: whole-stage codegen, NO Python, NO shuffle; at
    10¹² pages this is a flat map fused into the scan, exactly like
    :func:`extract_links`.
    """
    pat = r'<a href="([^"]+)">([^<]*)</a>'
    html = F.decode(F.col("html"), "UTF-8")
    return (
        pages.select(
            F.col("url").alias("src_url"),
            F.explode(
                F.regexp_extract_all(html, F.lit(pat), F.lit(0))
            ).alias("_m"),
        )
        .select(
            "src_url",
            F.regexp_extract("_m", pat, 1).alias("dst_url"),
            F.regexp_extract("_m", pat, 2).alias("anchor"),
        )
    )


def anchor_text_profile(pages: DataFrame) -> DataFrame:
    """Per-target incoming-anchor-text profile — the classic web-search
    signal (anchor text describes the TARGET page better than the page
    itself; Brin & Page 1998 §2.2, and a standard web-scale corpus
    enrichment step). Per ``dst_url``: total incoming anchors, distinct
    sorted anchor texts, and the length of the longest anchor.

    Scale shape: extraction is a fused flat map; then ONE hash
    aggregate on ``dst_url`` (``collect_set`` is map-side combinable;
    its size is bounded by the target's distinct-anchor vocabulary,
    which the pipeline would cap in production — noted, not needed for
    the bounded synthetic vocabulary).

    Output: (dst_url, n_anchors, anchors, max_anchor_len).
    """
    return (
        extract_anchors(pages)
        .groupBy("dst_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
            F.array_sort(F.collect_set("anchor")).alias("anchors"),
            F.max(F.length("anchor")).cast("long")
            .alias("max_anchor_len"),
        )
    )


# PageRank damping factor d = 0.85, in micro-units
DAMPING_PPM = 850_000


@scoped
def pagerank(
    pages: DataFrame,
    graph: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Integer-exact PageRank power iteration over the crawl's INTERNAL
    link graph (edges whose target is itself a crawled page — the
    dangling/external mass leaks, the standard simplification).

    Cross-engine exactness: ranks live in integer micro-units (e6).
    ``r₀ = 1_000_000``; each of three iterations every node sends
    ``(r·d) div (10⁶·out_deg)`` micro-units along each out-edge,
    d = ``DAMPING_PPM`` (``div`` = integral division, identical in Spark and DuckDB for the
    non-negative values here) and every node restarts from
    ``10⁶ - d`` teleport micro-units. No floating point anywhere, so
    the oracle can unroll the same iterations in SQL and hash-match
    bit-for-bit — floats would diverge across engines in summation
    order alone.

    Scale shape: urls are resolved to integer node ids ONCE (one
    equi-join of the edge flat-map against the page table), and the
    (src, dst, out_deg) relation is computed once and persisted; each
    iteration is then one shuffle join on ``src_id`` (edges re-use
    their partitioning; AQE handles the rank side) plus one hash
    aggregate on ``dst_id``. Rank state is one BIGINT per node —
    ~8 B·|V|, trivially partitionable. Every round's rank relation is
    an eager ``localCheckpoint``, so each round's plan stays O(1).

    Output: (url, rank_e6, out_deg) — out_deg 0 for pure sinks.
    """
    # ``graph``: optional pre-resolved (ids, NON-distinct edges) from
    # :func:`_resolve_edges` — a composition running several kernels
    # over the same pages resolves (and materializes) the links once
    ids, edges = graph if graph is not None else _resolve_edges(pages)
    er, deg = _degree_join(edges)
    nodes = ids.select(F.col("_nid").alias("id"))
    teleport = F.lit(1_000_000 - DAMPING_PPM)
    ranks = nodes.select("id", F.lit(1_000_000).cast("long").alias("rank_e6"))
    for _ in range(3):
        # eager localCheckpoint per round (round 6): the rank chain's
        # PLAN otherwise inlines every prior iteration (persist caches
        # data, not lineage) and Catalyst optimization cost compounds
        ranks = materialize(
            _pagerank_iter(er, nodes, ranks, teleport), "local"
        )
    return (
        ranks.join(ids, ranks.id == ids._nid)
        .join(deg, ranks.id == deg.src_id, "left")
        .select(
            "url", "rank_e6",
            F.coalesce(F.col("out_deg"), F.lit(0)).cast("long")
            .alias("out_deg"),
        )
    )


def _resolve_edges(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ids, edges): url→integer-id resolution of the href flat-map,
    NON-distinct — one row per link occurrence, exactly
    :func:`pagerank`'s edge build.  ``url`` is the page table's key (one
    row per url), so a link's ``src_id`` is its page's own ``doc_id``,
    taken at extraction; only ``dst_id`` needs ONE equi-join against
    the page urls, and a target outside the crawl drops in it.
    Compositions that run several graph kernels over the SAME pages
    (spam_mass) materialize this once and hand it to each kernel's
    ``graph=`` hook."""
    ids = pages.select(F.col("url"), F.col("doc_id").alias("_nid"))
    edges = (
        pages.select(F.col("doc_id").alias("src_id"), _hrefs())
        .join(ids.select(F.col("url").alias("dst_url"),
                         F.col("_nid").alias("dst_id")), "dst_url")
        .select("src_id", "dst_id")
    )
    return ids, edges


def _degree_join(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(er, deg): the per-source out-degree relation ``deg`` and the
    (src_id, dst_id, out_deg) relation ``er`` every power iteration
    joins, persisted once (:func:`pagerank`, :func:`trustrank`)."""
    deg = edges.groupBy("src_id").agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    return materialize(edges.join(deg, "src_id"), "persist"), deg


def _internal_edges(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared link-graph prep for the iterative graph operators: resolve
    the href flat-map against the page table ONCE (one url equi-join,
    :func:`_resolve_edges`) and return ``(ids, edges)`` where
    ``ids = (url, _nid)`` and ``edges`` is the DISTINCT internal
    (src_id, dst_id) relation — external targets drop in the inner dst
    join, exactly like :func:`pagerank`'s edge build."""
    ids, edges = _resolve_edges(pages)
    return ids, edges.distinct()


@scoped
def crawl_depth(
    pages: DataFrame, seeds_mod: int = 64, max_hops: int = 4
) -> DataFrame:
    """Crawl-depth BFS: minimum hop distance from a seed set over the
    crawl's internal link graph — the frontier metric real crawls
    budget by (pages more than k hops from any seed are the long tail
    a breadth-limited crawl never reaches; CC's own crawler caps hop
    depth per seed list).

    Seeds are the deterministic set ``doc_id % seeds_mod == 0`` (the
    stand-in for a seed list; sparse at every corpus size).  Classic
    frontier BFS, unrolled to ``max_hops`` (:func:`_bfs_depths`): depth
    = FIRST hop seen (min distance) and the frontier never re-expands
    settled nodes — the property that bounds total work at
    O(|E reachable|) regardless of hop count.

    Scale shape: the resolved edge relation is persisted once; each hop
    is one narrow filter-and-collect job over it keyed by the frontier's
    ids, with the frontier and visited set held on the driver and the
    BFS stopping when the frontier empties.

    Output: (url, depth) for every page reached within ``max_hops``
    hops (seeds at depth 0).  Unreached pages are absent — the
    consumer's outer-join decides their fate, not this operator.
    """
    ids, edges = _internal_edges(pages)
    # resolve the url join ONCE — every hop reads this relation
    edges = materialize(edges, "persist")
    seeds = pages.filter((F.col("doc_id") % seeds_mod) == 0).select(
        F.col("doc_id").alias("id")
    )
    visited = _bfs_depths(edges, seeds, max_hops)
    return visited.join(ids, visited.id == ids._nid).select("url", "depth")


def _bfs_depths(
    edges: DataFrame, seeds: DataFrame, max_hops: int,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Shared frontier-BFS kernel (the hop loop of :func:`crawl_depth`,
    reused by :func:`bowtie_classes` on both edge directions and by
    :func:`landmark_closeness`).  ``edges`` is (src_id, dst_id) over
    integer ids, ``seeds`` is (*keys, id).  Returns the visited
    (*keys, id, depth) relation: every seed row as given at depth 0
    (duplicates kept), then each (*keys, id) pair once, at the first
    hop that reaches it.  With ``keys`` (e.g. a landmark id) the BFS of
    every key value runs independently inside the same hops.

    The frontier and the visited set live on the driver.  The seeds are
    collected once; each hop is ONE narrow job over the already
    persisted ``edges`` — ``src_id IN (…)`` over the frontier's ids,
    sent as one SQL text (``Column.isin`` would cost one py4j round
    trip per id), its out-edges collected through Arrow, with no
    exchange, distinct or anti-join in Spark — and the driver expands
    each edge per key, drops the pairs it has seen and stops as soon as
    the frontier is empty.  A null seed id is kept at depth 0 and never
    expanded.  The result is a local relation, so no hop state sits on
    executors and nothing needs releasing.

    Driver memory grows with the visited (*keys, id) pairs plus one
    hop's out-edges, and the IN text with the frontier; nothing caps
    either.  landmark_closeness at sf0.1 holds 4,875 visited rows and
    sends at most 1,419 ids per hop; at a regenerated sf1.0, 49,050 rows
    and 14,268 ids, where parsing the text costs ~1 s per hop (ROADMAP
    direction C)."""
    spark = edges.sparkSession
    cols = [*keys, "id"]
    schema = seeds.select(*cols).schema.add("depth", T.LongType(), False)
    rows = [(*r, 0) for r in seeds.select(*cols).collect()]
    seen = {r[:-1] for r in rows}
    found = list(seen)
    for hop in range(1, max_hops + 1):
        frontier: dict = {}
        for *k, i in found:
            if i is not None:
                frontier.setdefault(i, []).append(tuple(k))
        if not frontier:
            break
        id_list = ",".join(str(int(i)) for i in frontier)
        got = (
            edges.filter(f"src_id IN ({id_list})")
            .select("src_id", "dst_id")
            .toArrow()
        )
        found = []
        for s, d in zip(got.column(0).to_pylist(), got.column(1).to_pylist()):
            for k in frontier[s]:
                p = (*k, d)
                if p not in seen:
                    seen.add(p)
                    found.append(p)
        rows.extend((*p, hop) for p in found)
    return _local_relation(spark, rows, schema)


def _local_relation(spark, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """``rows`` as a LocalRelation.  Built through Arrow: a
    ``createDataFrame`` of Python rows plans as an ExistingRDD scan
    whose size estimate blocks broadcast joins."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    table = pa.table(
        {n: [r[j] for r in rows] for j, n in enumerate(names)},
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


@scoped
def bowtie_classes(
    pages: DataFrame, seeds_mod: int = 64, max_hops: int = 4
) -> DataFrame:
    """Seed-relative bow-tie decomposition of the crawl graph (Broder
    et al., WWW 2000 — the IN/SCC/OUT map of the web): classify every
    page by whether it is REACHED FROM the seed set (forward BFS) and
    whether it REACHES the seed set (the same BFS over reversed
    edges):

    - ``core`` — both: with the seeds in the giant component, the
      crawl's well-connected middle;
    - ``in``   — reaches seeds but is not reached (upstream feeders:
      new content linking into the known web);
    - ``out``  — reached but does not reach back (downstream leaves:
      where crawl frontier mass accumulates);
    - ``disconnected`` — neither, within the hop horizon.

    This is the SEED-RELATIVE variant (Broder's original is relative
    to the giant SCC; a crawl planner's operational question is
    relative to its seed list), bounded at ``max_hops`` like
    :func:`crawl_depth` — both choices disclosed, not hidden.

    Scale shape: exactly two runs of the shared BFS kernel
    (:func:`_bfs_depths`: one narrow job per hop, frontier on the
    driver) — the reverse pass swaps the edge columns, reusing the SAME
    persisted edge relation (no second extraction); the classifier is
    two left joins of the page table against the two local
    (id, depth) relations.

    Output: (url, fwd_depth, bwd_depth, cls) — depths NULL when
    unreached in that direction.
    """
    ids, edges = _internal_edges(pages)
    # resolved ONCE, read by every hop of both directions
    edges = materialize(edges, "persist")
    seeds = pages.filter((F.col("doc_id") % seeds_mod) == 0).select(
        F.col("doc_id").alias("id")
    )
    fwd = _bfs_depths(edges, seeds, max_hops)
    rev_edges = edges.select(
        F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")
    )
    bwd = _bfs_depths(rev_edges, seeds, max_hops)
    return (
        ids.join(fwd.withColumnRenamed("depth", "fwd_depth"),
                 ids._nid == fwd.id, "left")
        .drop("id")
        .join(bwd.withColumnRenamed("depth", "bwd_depth"),
              ids._nid == bwd.id, "left")
        .select(
            "url", "fwd_depth", "bwd_depth",
            F.when(F.col("fwd_depth").isNotNull()
                   & F.col("bwd_depth").isNotNull(), F.lit("core"))
            .when(F.col("bwd_depth").isNotNull(), F.lit("in"))
            .when(F.col("fwd_depth").isNotNull(), F.lit("out"))
            .otherwise(F.lit("disconnected")).alias("cls"),
        )
    )


@scoped
def hits_scores(pages: DataFrame) -> DataFrame:
    """Integer-exact HITS (hubs & authorities) over the crawl's
    internal link graph — the complement of :func:`pagerank` for
    search-tier ranking: authorities are pages many good hubs point
    AT, hubs are pages that point at many good authorities
    (Kleinberg '99).

    Cross-engine exactness (same discipline as :func:`pagerank`):
    scores live in BIGINT micro-units.  ``hub₀ = auth₀ = 10⁶``; each
    of two iterations computes ``auth'(p) = Σ_{q→p} hub(q)`` then
    L1-normalizes back to micro-units with integral division
    (``auth = auth'·10⁶ div Σauth'``), then symmetrically
    ``hub'(p) = Σ_{p→q} auth(q)`` with its own normalization.  Sums of
    integers are order-independent and ``div`` is integral on
    non-negative values, so the unrolled SQL oracle matches
    bit-for-bit — the float HITS formulation would diverge across
    engines in summation order alone.  Magnitude bound: the
    pre-normalization sum is ≤ |E|·10⁶, inside BIGINT up to ~9·10¹²
    edges; a larger graph drops to e3 units (one constant).

    Scale shape: edges resolved and persisted ONCE; each half-iteration
    is one shuffle join (edges against the score relation on the
    sending side) + one hash aggregate on the receiving side + a 1-row
    global sum broadcast-crossed back (a scalar, not a data shuffle).
    Score state is two BIGINTs per node.  Nodes with no in-edges hold
    authority 0, no out-edges hub 0 — the standard open-web shape.

    Output: (url, hub_e6, auth_e6).
    """
    ids, edges = _internal_edges(pages)
    er = materialize(edges, "persist")
    nodes = ids.select(F.col("_nid").alias("id"))
    hub = nodes.select("id", F.lit(1_000_000).cast("long").alias("s"))
    auth = None
    for _ in range(2):
        raw_a = (
            er.join(hub.withColumnRenamed("id", "src_id"), "src_id")
            .groupBy(F.col("dst_id").alias("id"))
            .agg(F.sum("s").alias("_raw"))
        )
        auth = _l1_normalize_e6(nodes, raw_a)
        raw_h = (
            er.join(auth.withColumnRenamed("id", "dst_id"), "dst_id")
            .groupBy(F.col("src_id").alias("id"))
            .agg(F.sum("s").alias("_raw"))
        )
        hub = _l1_normalize_e6(nodes, raw_h)
    return (
        hub.withColumnRenamed("s", "hub_e6")
        .join(auth.withColumnRenamed("s", "auth_e6"), "id")
        .join(ids, F.col("id") == ids._nid)
        .select("url", "hub_e6", "auth_e6")
    )


@scoped
def triangle_counts(pages: DataFrame) -> DataFrame:
    """Per-node triangle participation over the UNDIRECTED view of the
    crawl's internal link graph — the local-clustering signal link-spam
    and community analyses start from (a page whose neighbors also
    link each other sits inside a template ring or a genuine
    community; a high-degree page with zero triangles is a directory).

    Algorithm: degree-ordered edge orientation ("compact-forward").
    Every undirected edge is stored ONCE, oriented from its lower
    endpoint to its higher endpoint under the total order
    ``(degree, id)``.  Wedges are then built only at the LOW end
    (``o(u,v) ⋈ o(u,w)`` on ``u`` with ``rank(v) < rank(w)``) and a
    wedge closes into a triangle iff the oriented edge ``(v, w)``
    exists — each triangle is found exactly once, at its
    minimum-degree corner.

    Scale shape — why the orientation matters at 10¹² pages: a
    celebrity page with in-degree d would contribute d² wedges under
    naive node-iteration, but under degree orientation every node's
    ORIENTED out-degree is O(√m) (it only keeps edges toward
    higher-degree endpoints), so total wedge work is the optimal
    O(m^{3/2}) and the self-join key ``u`` cannot host a quadratic hot
    spot.  Plan: one distinct on the canonical edge (one exchange),
    one degree aggregate, the wedge self-join on ``u``, the closing
    equi-join on ``(v, w)``, then an explode of each triangle's three
    corners into one hash aggregate.

    Output: (url, degree, triangles) for every node of the undirected
    graph — ``triangles`` is 0 for nodes in none (left join), so the
    degree distribution rides along for free.
    """
    ids, edges = _internal_edges(pages)
    # consumed by the degree agg AND the orientation join
    und = materialize(
        edges.filter(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("a"),
            F.greatest("src_id", "dst_id").alias("b"),
        )
        .distinct(),
        "local",
    )
    # consumed by two orientation joins + the output join
    deg = materialize(
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg")),
        "local",
    )
    e = (
        und.join(deg.select(F.col("id").alias("a"),
                            F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"),
                         F.col("deg").alias("db")), "b")
    )
    # a < b always, so a degree tie keeps the a→b direction — the
    # (degree, id) order needs no explicit id comparison here
    low = F.col("da") <= F.col("db")
    # consumed THREE times: both wedge sides + closing join
    o = materialize(
        e.select(
            F.when(low, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(low, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(low, F.col("db")).otherwise(F.col("da")).alias("dv"),
        ),
        "local",
    )
    e1, e2 = o.alias("e1"), o.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u"))
        & (
            (F.col("e1.dv") < F.col("e2.dv"))
            | (
                (F.col("e1.dv") == F.col("e2.dv"))
                & (F.col("e1.v") < F.col("e2.v"))
            )
        ),
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    closing = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedge.join(closing, ["y", "z"])
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "id", "left")
        .join(ids, deg.id == ids._nid)
        .select(
            "url",
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0))
            .cast("long").alias("triangles"),
        )
    )


#: Fixed landmark page ids for :func:`landmark_closeness` — a
#: CONSTANT-SIZE set by construction (a real deployment samples a few
#: hundred well-connected pages once), unlike a ``doc_id % k`` seed
#: rule whose cardinality grows with the corpus.  Chosen inside the
#: synthetic hub range so they exist at every SF.
CLOSENESS_LANDMARKS = (0, 7, 21, 35)


@scoped
def landmark_closeness(
    pages: DataFrame,
    landmarks: tuple[int, ...] = CLOSENESS_LANDMARKS,
    max_hops: int = 4,
) -> DataFrame:
    """Landmark-based harmonic closeness (the scalable stand-in for
    exact closeness centrality — exact all-pairs BFS is Θ(n·m) and
    dead at web scale; BFS from a small fixed landmark set is the
    standard estimator, cf. the pivoting scheme HyperBall replaces
    with sketches): for every page, the hop distance TO each landmark
    (how quickly a crawler starting at that page reaches the known
    core — the reverse direction of :func:`crawl_depth`), folded into
    ``closeness_e6 = Σ_lm 10⁶ div d(page → lm)``.

    Integral ``div`` keeps the score a BIGINT sum of integers, so the
    unrolled SQL oracle matches bit-for-bit (harmonic closeness over
    floats would hash-differ in summation order alone).  Distances are
    bounded at ``max_hops``, like every BFS here — disclosed, and what
    a crawl planner wants anyway.

    Scale shape: ONE multi-source BFS over the reversed edge relation
    (:func:`_bfs_depths` with ``keys=("lm",)`` — landmark id rides as a
    key, so |landmarks| sweeps share each hop's single narrow job);
    the (lm, id, depth) state lives on the driver with |landmarks|
    constant by construction. The final fold is one hash aggregate on
    ``id``.

    Output: (url, n_landmarks, closeness_e6) for pages that reach ≥1
    landmark within the horizon (unreached pages are absent — the
    consumer's outer join decides their score, not this operator).
    """
    ids, edges = _internal_edges(pages)
    # resolved ONCE, read by every hop
    rev = materialize(
        edges.select(
            F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")
        ),
        "persist",
    )
    seeds = pages.filter(
        F.col("doc_id").isin(*[int(x) for x in landmarks])
    ).select(F.col("doc_id").alias("lm"), F.col("doc_id").alias("id"))
    visited = _bfs_depths(rev, seeds, max_hops, keys=("lm",))
    agg = (
        visited.filter(F.col("depth") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_landmarks"),
            F.sum(F.expr("1000000L div depth")).alias("closeness_e6"),
        )
    )
    return agg.join(ids, agg.id == ids._nid).select(
        "url",
        F.col("n_landmarks").cast("long").alias("n_landmarks"),
        F.col("closeness_e6").cast("long").alias("closeness_e6"),
    )


def _pagerank_iter(
    er: DataFrame, nodes: DataFrame, ranks: DataFrame, restart,
) -> DataFrame:
    """One power iteration over the (id, rank_e6) state: shuffle join of
    the (src, dst, out_deg) relation against the rank state, hash
    aggregate on the receiver, ``restart`` mass re-added on the full
    node set — a Column over ``id``: the uniform teleport for
    :func:`pagerank`, the seed mass for :func:`trustrank`."""
    contrib = (
        er.join(ranks, er.src_id == ranks.id)
        .select(
            F.col("dst_id"),
            F.expr(
                f"(rank_e6 * {DAMPING_PPM}L) div (1000000L * out_deg)"
            ).alias("_c"),
        )
        .groupBy("dst_id")
        .agg(F.sum("_c").alias("_in"))
    )
    return (
        nodes.join(contrib, nodes.id == contrib.dst_id, "left")
        .select(
            "id",
            (restart + F.coalesce(F.col("_in"), F.lit(0)))
            .cast("long").alias("rank_e6"),
        )
    )


@scoped
def trustrank(
    pages: DataFrame,
    seeds_mod: int = 64,
    graph: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Integer-exact TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB '04): PageRank personalized on a trusted seed set — teleport
    mass restarts ONLY at seeds, so trust decays with link distance
    from the seed list and spam clusters that PageRank rewards (dense
    reciprocal linkage far from any trusted page) starve.  The
    standard web-spam demotion score; pages with high PageRank but
    near-zero trust are the classic spam signature
    (:func:`link_spam`'s graph-local screen generalized to global
    propagation).

    Same integer micro-unit discipline as :func:`pagerank`: seeds
    start (and restart) at ``10⁶ − damping`` micro-units, every node
    forwards ``(t·damping) div (10⁶·out_deg)`` along each out-edge,
    non-seeds get NO teleport.  All-integer, so the unrolled SQL
    oracle matches bit-for-bit.

    Scale shape: identical to pagerank — edges resolved and persisted
    once, one shuffle join + one hash aggregate per iteration; the
    seed gate is a modular predicate on the node id, no extra join.

    Output: (url, trust_e6, seed).
    """
    if graph is not None:
        # the hook hands NON-distinct resolved edges; this kernel's
        # contract is the DISTINCT internal relation
        ids, edges = graph[0], graph[1].distinct()
    else:
        ids, edges = _internal_edges(pages)
    er, _ = _degree_join(edges)
    nodes = ids.select(F.col("_nid").alias("id"))
    seed_mass = F.when(
        (F.col("id") % seeds_mod) == 0, F.lit(1_000_000 - DAMPING_PPM)
    ).otherwise(F.lit(0)).cast("long")
    trust = nodes.select("id", seed_mass.alias("rank_e6"))
    for _ in range(3):
        # per-round lineage truncation — see pagerank
        trust = materialize(
            _pagerank_iter(er, nodes, trust, seed_mass),
            "local",
        )
    return (
        trust.join(ids, trust.id == ids._nid)
        .select(
            "url", F.col("rank_e6").alias("trust_e6"),
            ((F.col("id") % seeds_mod) == 0).alias("seed"),
        )
    )


def _l1_normalize_e6(nodes: DataFrame, raw: DataFrame) -> DataFrame:
    """(id, s): left-join ``raw`` sums
    onto the full node set (absent → 0) and L1-normalize to micro-units
    with integral division.  The joined relation is MATERIALIZED
    because it is consumed TWICE — by the 1-row global sum and by the
    normalized projection; without it every half-iteration recomputes
    the whole upstream chain twice and the fan-out compounds
    exponentially across iterations (measured at sf0.1, 2 iterations:
    10.3 s).  Round 6: eager ``localCheckpoint`` instead of persist —
    a persist caches data but hits_scores' PLAN still inlined every
    prior half-iteration (33k plan lines, 4349 exchanges; Catalyst
    time, not execution, was the wall).  The global sum itself comes
    back via a broadcast cross join — a scalar exchange, not a data
    shuffle."""
    full = materialize(
        nodes.join(raw, "id", "left")
        .select("id", F.coalesce(F.col("_raw"), F.lit(0)).alias("_raw")),
        "local",
    )
    tot = full.agg(F.sum("_raw").alias("_tot"))
    return full.crossJoin(F.broadcast(tot)).select(
        "id",
        F.when(F.col("_tot") > 0,
               F.expr("(_raw * 1000000L) div _tot"))
        .otherwise(F.lit(0)).cast("long").alias("s"),
    )


def crawl_cadence(pages: DataFrame) -> DataFrame:
    """Recrawl-cadence profile per canonical URL — the crawl-scheduling
    signal (how often a resource is refetched drives politeness budgets
    and freshness ranking). Per canonical URL: fetch count, first/last
    fetch time, and the mean refetch gap in whole seconds —
    ``(last - first) div (n - 1)``, integral division so the value is
    engine-exact; NULL for single-fetch URLs.

    Scale shape: canonicalization fuses into the scan; then ONE
    map-side-combinable hash aggregate (count/min/max) — same
    single-exchange shape as :func:`url_dedup`, no window, no join.

    Output: (canonical_url, n_fetches, first_ts_sec, last_ts_sec,
    mean_gap_sec).
    """
    canon = pages.select(
        F.col("fetch_ts_sec").cast("long").alias("_ts"),
        canonical_url(F.col("url")).alias("canonical_url"),
    )
    agg = canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.min("_ts").alias("first_ts_sec"),
        F.max("_ts").alias("last_ts_sec"),
    )
    return agg.select(
        "canonical_url", "n_fetches", "first_ts_sec", "last_ts_sec",
        F.when(
            F.col("n_fetches") > 1,
            F.expr("(last_ts_sec - first_ts_sec) div (n_fetches - 1)"),
        ).cast("long").alias("mean_gap_sec"),
    )


# ---------------------------------------------------------------------------
# Page metadata extraction (title / robots meta / rel=canonical)
# ---------------------------------------------------------------------------


def synthetic_meta_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, url, html): pages with a deterministic ``<head>`` —
    title always present; a robots meta directive on 3/4 of pages
    (``index,follow`` / ``noindex,follow`` / ``noindex,nofollow`` by
    md5 nibble 4); a ``rel=canonical`` link on 2/3 (self or a pointer
    at page ``(id·7+13) mod 256`` by nibble 5) — so every extraction
    branch has firing and non-firing population."""
    h = F.md5(F.col("doc_id").cast("string"))
    meta = (
        F.when(_nib(h, 4) % 4 == 0,
               F.lit('<meta name="robots" content="index,follow">'))
        .when(_nib(h, 4) % 4 == 1,
              F.lit('<meta name="robots" content="noindex,follow">'))
        .when(_nib(h, 4) % 4 == 2,
              F.lit('<meta name="robots" content="noindex,nofollow">'))
        .otherwise(F.lit(""))
    )
    canon_tgt = _page_url((F.col("doc_id") * 7 + 13) % 256)
    canon = (
        F.when(_nib(h, 5) % 3 == 0,
               F.concat(F.lit('<link rel="canonical" href="'),
                        _page_url(F.col("doc_id")), F.lit('">')))
        .when(_nib(h, 5) % 3 == 1,
              F.concat(F.lit('<link rel="canonical" href="'),
                       canon_tgt, F.lit('">')))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title>"), meta, canon,
        F.lit("</head><body><p>Body of "),
        F.col("doc_id").cast("string"),
        F.lit(".</p></body></html>"),
    )
    return docs.select(
        "doc_id",
        _page_url(F.col("doc_id")).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )


def page_metadata(pages: DataFrame) -> DataFrame:
    """Head-metadata extraction — the DOM-heuristic curation step every
    CC pipeline runs before indexing: ``<title>``, the robots meta
    directive (noindex/nofollow verdicts — noindex pages are dropped
    from training corpora; nofollow prunes the link graph), and the
    ``rel=canonical`` target with a self-vs-cross verdict.

    Pure native regexp projection over the decoded html — ZERO
    shuffles, whole-stage codegen, fuses into the scan at 10¹² pages.
    Absent tags surface as NULL (``nullif`` on the empty regex match),
    never as a fabricated empty value.

    Output: (url, title, directive, noindex, nofollow, canonical_href,
    self_canonical, kept).
    """
    html = F.decode(F.col("html"), "UTF-8")
    title = F.nullif(
        F.regexp_extract(html, r"<title>([^<]*)</title>", 1), F.lit("")
    )
    directive = F.nullif(
        F.regexp_extract(
            html, r'<meta name="robots" content="([^"]+)">', 1
        ),
        F.lit(""),
    )
    href = F.nullif(
        F.regexp_extract(
            html, r'<link rel="canonical" href="([^"]+)">', 1
        ),
        F.lit(""),
    )
    flags = F.split(F.coalesce(directive, F.lit("")), ",")
    return pages.select(
        "url",
        title.alias("title"),
        directive.alias("directive"),
        F.array_contains(flags, "noindex").alias("noindex"),
        F.array_contains(flags, "nofollow").alias("nofollow"),
        href.alias("canonical_href"),
        F.when(href.isNotNull(), href == F.col("url"))
        .alias("self_canonical"),
    ).withColumn("kept", ~F.col("noindex"))


# ---------------------------------------------------------------------------
# robots.txt disallow application
# ---------------------------------------------------------------------------

#: Deterministic per-host disallow rules (synthetic robots.txt corpus):
#: prefix semantics per the robots exclusion protocol — "/p/1" blocks
#: /p/1, /p/10, /p/199…; "/" blocks the whole host; site2 publishes no
#: rules. Every branch (no-rule host, non-matching rule, multi-rule
#: host, block-all) is populated at any corpus size.
ROBOTS_RULES = (
    ("site0.example.org", "/p/1"),
    ("site1.example.org", "/p/2"),
    ("site1.example.org", "/p/33"),
    ("site3.example.org", "/"),
)


def robots_rules_df(spark) -> DataFrame:
    """The synthetic disallow rules as a (host, disallow) DataFrame.

    Built as a SQL ``VALUES`` LocalRelation (not ``createDataFrame``,
    which in PySpark yields an ExistingRDD scan whose Catalyst size
    stat is the conservative maximum) so :func:`robots_filter`'s
    size-aware join sees the relation's REAL byte size and can take
    the broadcast branch — exactly what a parquet-backed rules table
    would provide via file metadata."""
    vals = ", ".join(f"('{h}', '{d}')" for h, d in ROBOTS_RULES)
    return spark.sql(
        f"SELECT * FROM VALUES {vals} AS t(host, disallow)"
    )


def robots_filter(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """Apply robots.txt disallow rules to a page table: a URL is
    blocked when its path starts with ANY of its host's disallow
    prefixes (the protocol's prefix-match semantics, disallow-only).
    Emits the evidence: match count and the lexicographically greatest
    matched prefix (deterministic on both engines).

    Scale shape: rules are pre-grouped into ONE array row per host
    (the relation is #hosts-sized — vocabulary class, so the join uses
    the size-aware broadcast-XOR-shuffle helper, same policy as the
    term-statistics queries), then a single equi-join on host and a
    higher-order filter over the per-host prefix array — no per-rule
    row fan-out, no second shuffle, and ``path`` is materialized as a
    named column before the lambda (the per-element re-evaluation
    trap). Hosts with no rules pass through the left join with an
    empty array.

    Output: (url, host, n_rules_matched, matched_rule, allowed).
    """
    from .scale import maybe_broadcast, plan_size_bytes

    per_host = rules.groupBy("host").agg(
        F.collect_list("disallow").alias("_rules")
    )
    # Sound upper bound on the per-host aggregate: the SOURCE rule
    # relation's plan size (grouping never grows the bytes).
    small = maybe_broadcast(per_host, bound_bytes=plan_size_bytes(rules))
    base = pages.select(
        "url",
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        F.regexp_extract("url", r"^https?://[^/]+(/.*)$", 1).alias("_path"),
    )
    joined = base.join(small, "host", "left").withColumn(
        "_hits",
        F.filter(
            F.coalesce(F.col("_rules"), F.array().cast("array<string>")),
            lambda r: F.col("_path").startswith(r),
        ),
    )
    return joined.select(
        "url", "host",
        F.size("_hits").cast("long").alias("n_rules_matched"),
        F.array_max("_hits").alias("matched_rule"),
        (F.size("_hits") == 0).alias("allowed"),
    )


#: RFC 9309 rule set for the synthetic crawl: (host, pattern, allow).
#: Patterns exercise every spec feature — ``*`` wildcards, ``$``
#: end-anchors, Allow overrides, and the longest-match precedence
#: (site2's blanket Disallow ``/`` is overridden by the longer Allow
#: ``/p/`` for the whole page subtree, except the still-longer
#: Disallow ``/p/9*``).
RFC9309_RULES = (
    ("site0.example.org", "/p/*7", False),
    ("site0.example.org", "/p/*77", True),
    ("site1.example.org", "/p/1*", False),
    ("site1.example.org", "/p/12$", True),
    ("site2.example.org", "/", False),
    ("site2.example.org", "/p/", True),
    ("site2.example.org", "/p/9*", False),
    ("site3.example.org", "/p/*3$", False),
)


def _robots_pattern_rx(pattern: str) -> str:
    """RFC 9309 pattern → anchored regex: ``*`` matches any run,
    ``$`` anchors the end, everything else is literal.  Done in PYTHON
    at plan build (rules are a bounded control relation), so BOTH
    engines receive the identical precompiled regex literal — no
    cross-engine translation code to diverge."""
    import re as _re

    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "".join(
        ".*" if ch == "*" else _re.escape(ch) for ch in body
    )
    return "^" + rx + ("$" if anchored else "")


def rfc9309_rules_df(spark) -> DataFrame:
    """(host, rx, pattern, score) rules relation as a VALUES
    LocalRelation (real size stats, like :func:`robots_rules_df`).
    ``score = 2·len(pattern) + allow`` encodes the RFC's precedence —
    longest pattern wins, Allow wins length ties — as ONE integer max
    (struct comparison differs between engines; integer max doesn't)."""
    scores = [(h, 2 * len(p) + int(a)) for h, p, a in RFC9309_RULES]
    assert len(set(scores)) == len(scores), (
        "rule scores must be unique per host: the best-pattern pick "
        "filters on score == max, which is only deterministic then"
    )
    rows = ", ".join(
        f"('{h}', '{_robots_pattern_rx(p)}', '{p}',"
        f" {2 * len(p) + int(allow)})"
        for h, p, allow in RFC9309_RULES
    )
    return spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(host, rx, pattern, score)"
    )


def robots_rfc9309(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """Full RFC 9309 robots matching (the spec the prefix-only
    :func:`robots_filter` approximates): every rule whose
    wildcard/anchored pattern matches the url path counts, and the
    verdict follows the MOST SPECIFIC match — longest pattern octets,
    Allow beating Disallow on a length tie; no match → allowed.

    Scale shape: identical to :func:`robots_filter` — rules
    pre-grouped to one array row per host (size-aware broadcast), one
    equi-join, then native higher-order filter/transform over the
    per-host rule array with the path materialized as a named column
    first.  The precedence fold is an integer ``array_max`` over the
    encoded (2·len + allow) scores — no struct ordering, no second
    pass, no Python.

    Output: (url, host, n_match, best_pattern, allowed).
    """
    from .scale import maybe_broadcast, plan_size_bytes

    per_host = rules.groupBy("host").agg(
        F.collect_list(F.struct("rx", "pattern", "score")).alias("_rl")
    )
    small = maybe_broadcast(per_host, bound_bytes=plan_size_bytes(rules))
    base = pages.select(
        "url",
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        F.regexp_extract("url", r"^https?://[^/]+(/.*)$", 1).alias("_path"),
    )
    empty = F.array().cast(
        "array<struct<rx:string,pattern:string,score:int>>"
    )
    joined = base.join(small, "host", "left").withColumn(
        "_hits",
        F.filter(
            F.coalesce(F.col("_rl"), empty),
            lambda r: F.regexp_like(F.col("_path"), r.rx),
        ),
    ).withColumn(
        "_best",
        F.array_max(F.transform(F.col("_hits"), lambda r: r.score)),
    )
    # unique (host, score) by construction (asserted in the rules
    # builder), so this filter yields exactly one element and the
    # collect_list order never matters; try_element_at is NULL-safe
    # under ANSI for the no-match row
    best_pat = F.try_element_at(
        F.filter(
            F.col("_hits"), lambda r: r.score == F.col("_best")
        ),
        F.lit(1),
    ).pattern
    return joined.select(
        "url", "host",
        F.size("_hits").cast("long").alias("n_match"),
        F.when(F.size("_hits") > 0, best_pat).alias("best_pattern"),
        (
            (F.size("_hits") == 0) | (F.col("_best") % 2 == 1)
        ).alias("allowed"),
    )


# ---------------------------------------------------------------------------
# host-graph rollup
# ---------------------------------------------------------------------------


def host_graph(pages: DataFrame) -> DataFrame:
    """Collapse the page-level link graph to the HOST graph (the web-
    graph form ranking/spam pipelines actually operate on): one row per
    (src_host, dst_host) with total link count, distinct linking pages,
    and the same-host flag.

    Scale shape: the edge flat-map fuses into the scan (no Python, no
    shuffle); the rollup is one hash aggregate whose key space is
    #host-pairs — tiny relative to edges — with the distinct-page count
    riding the SAME exchange (partial distinct on (hosts, src_url)
    before the merge). Host-level in-link skew (everybody links
    google.com) concentrates a few CELLS of the output, never a join
    fan-out, and partial aggregation caps what any one reducer sees.
    """
    def host(c) -> "F.Column":
        return F.regexp_extract(c, r"^https?://([^/:]+)", 1)

    edges = extract_links(pages)
    e = edges.select(
        host(F.col("src_url")).alias("src_host"),
        host(F.col("dst_url")).alias("dst_host"),
        "src_url",
    )
    return (
        e.groupBy("src_host", "dst_host")
        .agg(
            F.count("*").cast("long").alias("n_links"),
            F.countDistinct("src_url").cast("long").alias("n_src_pages"),
        )
        .withColumn("internal", F.col("src_host") == F.col("dst_host"))
    )


# ---------------------------------------------------------------------------
# recrawl content-change detection
# ---------------------------------------------------------------------------


def recrawl_delta(fetches: DataFrame) -> DataFrame:
    """Content-change detection across recrawls (the freshness signal
    crawl schedulers feed on): order each canonical URL's fetches by
    time and flag every fetch whose content fingerprint differs from
    the previous one. First fetch of a URL is ``changed = false`` (no
    baseline), matching the scheduler convention.

    Input: (canonical_url, fetch_ts_sec, fingerprint). Output adds
    (changed, fetch_seq).

    Scale shape: ONE shuffle — the window partitions by canonical_url;
    per-key state is the recrawl count (bounded by crawl policy, no
    skew axis beyond hot URLs, which AQE's skew handling splits since
    lag/row_number need only per-key sorted runs)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("canonical_url").orderBy("fetch_ts_sec")
    prev = F.lag("fingerprint").over(w)
    return fetches.select(
        "canonical_url",
        "fetch_ts_sec",
        "fingerprint",
        (prev.isNotNull() & (F.col("fingerprint") != prev))
        .alias("changed"),
        F.row_number().over(w).cast("long").alias("fetch_seq"),
    )


#: (min change-ratio ppm, bucket name, revisit interval seconds) —
#: descending thresholds; a URL whose content changed on ≥50% of
#: recrawls is polled hourly, ≥20% daily, ever-changed weekly, never-
#: changed monthly. Single-fetch URLs (no baseline) get one daily
#: probe — the cold-start convention.
REVISIT_POLICY = (
    (500_000, "hourly", 3_600),
    (200_000, "daily", 86_400),
    (1, "weekly", 604_800),
    (0, "monthly", 2_592_000),
)


def adaptive_revisit(deltas: DataFrame) -> DataFrame:
    """Adaptive revisit scheduling from recrawl change history — the
    policy output a freshness-driven crawler derives from
    :func:`recrawl_delta`'s change flags (Cho & Garcia-Molina's
    frequency-based revisit estimation, discretized to integer ppm
    buckets so the schedule is engine-exact; the continuous-λ Poisson
    estimator needs ``ln`` and would diverge across engines in float).

    Per canonical URL: observed change ratio
    ``n_changes·10⁶ div (n_fetches − 1)`` (NULL when a single fetch
    has no baseline), the :data:`REVISIT_POLICY` bucket it falls in,
    and the concrete next fetch time (last fetch + bucket interval).

    Scale shape: ONE map-side-combinable hash aggregate over the delta
    relation; since :func:`recrawl_delta`'s window already exchanged
    on ``canonical_url``, the aggregate reuses that partitioning and
    the composed plan keeps a single shuffle end-to-end.

    Output: (canonical_url, n_fetches, n_changes, change_ratio_ppm,
    revisit_bucket, next_fetch_ts_sec).
    """
    agg = deltas.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum(F.col("changed").cast("long")).cast("long")
        .alias("n_changes"),
        F.max(F.col("fetch_ts_sec").cast("long")).alias("_last_ts"),
    )
    ratio = F.when(
        F.col("n_fetches") > 1,
        F.expr("(n_changes * 1000000L) div (n_fetches - 1)"),
    ).cast("long")
    out = agg.select(
        "canonical_url", "n_fetches", "n_changes",
        ratio.alias("change_ratio_ppm"), "_last_ts",
    )
    cond_built = F.when(
        F.col("change_ratio_ppm").isNull(), F.lit("daily")
    )
    int_built = F.when(
        F.col("change_ratio_ppm").isNull(), F.lit(86_400)
    )
    for ppm, name, secs in REVISIT_POLICY:
        cond_built = cond_built.when(
            F.col("change_ratio_ppm") >= ppm, F.lit(name)
        )
        int_built = int_built.when(
            F.col("change_ratio_ppm") >= ppm, F.lit(secs)
        )
    return out.select(
        "canonical_url", "n_fetches", "n_changes", "change_ratio_ppm",
        cond_built.alias("revisit_bucket"),
        (F.col("_last_ts") + int_built.cast("long"))
        .cast("long").alias("next_fetch_ts_sec"),
    )


# ---------------------------------------------------------------------------
# host-level quality gating (domain filtering)
# ---------------------------------------------------------------------------


def synthetic_host_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, url, host, text): pages spread over 256 synthetic hosts
    (md5 nibbles 12-13) so host-level statistics have real variance at
    any corpus size — the 4-host table the other builders share is too
    coarse to ever fail a per-host gate."""
    h = F.md5(F.col("doc_id").cast("string"))
    hid = (_nib(h, 12) * 16 + _nib(h, 13)).cast("string")
    host = F.concat(F.lit("h"), hid, F.lit(".example.org"))
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), host, F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        host.alias("host"),
        "text",
    )


@scoped
def host_quality_gate(pages: DataFrame) -> DataFrame:
    """Domain-level filtering (the FineWeb/UT1 curation step): score
    each page, aggregate per HOST, and gate every page by its host's
    verdict — spam farms get dropped wholesale, not page by page.

    Page score: alphanumeric-character fraction in integer ppm
    (floored — engine-exact, no doubles). Host verdict: at least 2
    pages AND integral mean score ≥ 500,000 ppm.

    Scale shape: one hash aggregate on host (map-side combinable
    sums), then the verdict relation joins back on host through the
    size-aware broadcast-XOR-shuffle helper — the host relation is
    heavy-tailed-web-sized (10⁸ hosts at crawl scale: vocabulary
    class, NOT unconditionally broadcastable), with the corpus scan's
    plan size as the sound upper bound. Two exchanges total; page
    rows never shuffle twice.

    Round 6 (§2.4): the scored relation feeds BOTH the host aggregate
    and the final join — Catalyst re-executed the scoring scan (the
    full-text strip regex is the dominant per-row cost) once per
    branch; it is now persisted (narrow: url, host, one BIGINT).
    """
    from .scale import maybe_broadcast, plan_size_bytes

    score = F.when(
        F.length(F.coalesce(F.col("text"), F.lit(""))) == 0, F.lit(0)
    ).otherwise(
        F.floor(
            F.lit(1_000_000)
            * F.length(F.regexp_replace("text", "[^A-Za-z0-9]", ""))
            / F.length("text")
        )
    ).cast("long")
    scored = materialize(
        pages.select("url", "host", score.alias("score_ppm")), "persist"
    )
    verdict = scored.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("host_pages"),
        F.sum("score_ppm").alias("_sum"),
    ).select(
        "host",
        "host_pages",
        # integral mean (`div`, not double `/`: DuckDB CAST rounds
        # where Spark truncates — engine-exact only as floor division)
        F.expr("_sum div host_pages").alias("host_avg_ppm"),
    ).withColumn(
        "host_kept",
        (F.col("host_pages") >= 2)
        & (F.col("host_avg_ppm") >= 500_000),
    )
    small = maybe_broadcast(verdict, bound_bytes=plan_size_bytes(pages))
    return scored.join(small, "host").select(
        "url", "host", "score_ppm", "host_pages", "host_avg_ppm",
        F.col("host_kept").alias("kept"),
    )

# ---------------------------------------------------------------------------
# SURT keys + CDX-style capture index (the Common-Crawl index build)
# ---------------------------------------------------------------------------


def surt_key(url) -> "F.Column":
    """SURT-style urlkey (Sort-friendly URI Reordering Transform) — the
    key Common Crawl's CDX index sorts on, so one host's captures (and
    one registered domain's subdomains) are lexicographically adjacent:
    ``https://www.Example.org:443/A/b?z=1&a=2#f`` →
    ``org,example)/a/b?a=2&z=1``.

    Rule set (the ``surt`` library's default canonicalizer, the parts
    expressible without lookaround so the DuckDB oracle mirrors
    byte-identically): lowercase; strip fragment; strip scheme; strip
    ONE leading ``www.``; strip an explicit default port (:80/:443);
    reverse the host labels comma-joined and close with ``)``; strip a
    trailing path slash; drop empty query params and SORT the rest.

    Pure native expression chain (regex + array ops in whole-stage
    codegen), ZERO shuffles — at 10¹² captures this fuses into the
    scan.
    """
    u = F.lower(url)
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"^([^/?:]+):(80|443)([/?].*)?$", "$1$3")
    host = F.regexp_extract(u, r"^([^/?:]+)", 1)
    # a surviving NON-default port rides after the reversed labels,
    # before ')' — the surt library's layout (com,example:8080)/...)
    port = F.regexp_extract(u, r"^[^/?:]+(:\d+)", 1)
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[^/?]+([^?]*)", 1), r"/$", ""
    )
    params = F.filter(
        F.split(F.regexp_extract(u, r"\?(.*)$", 1), "&"),
        lambda p: F.length(p) > 0,
    )
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        port,
        F.lit(")"),
        path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
        ).otherwise(F.lit("")),
    )


def cdx_index(pages: DataFrame) -> DataFrame:
    """CDX-style capture index over a page table: one row per fetch
    with the SURT urlkey, capture timestamp, original URL, content
    digest and octet length — the lookup structure every CC consumer
    (wayback, dedup backfills, per-domain slicing) reads.

    Scale shape: the projection (urlkey, digest, length) is a ZERO
    shuffle narrow map; the index is then RANGE-partitioned on
    (urlkey, ts) and sorted within partitions — exactly how the real
    CDX shards are laid out, so a reader can binary-search a shard and
    one domain's captures land in one (or few) adjacent partitions.
    The range exchange is the single unavoidable shuffle of any
    globally sorted index build; Spark samples boundaries, so skewed
    megadomains split across partitions instead of hot-spotting one.

    Output: (urlkey, fetch_ts_sec, url, digest, length).
    """
    idx = pages.select(
        surt_key(F.col("url")).alias("urlkey"),
        F.col("fetch_ts_sec").cast("long").alias("fetch_ts_sec"),
        "url",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest"),
        F.octet_length(F.coalesce(F.col("text"), F.lit("")))
        .cast("long").alias("length"),
    )
    return idx.repartitionByRange(
        "urlkey", "fetch_ts_sec"
    ).sortWithinPartitions("urlkey", "fetch_ts_sec")


# ---------------------------------------------------------------------------
# sitemap parsing (the crawler's URL-discovery source)
# ---------------------------------------------------------------------------

#: <changefreq> vocabulary cycled by an md5 nibble.
CHANGEFREQS = ("daily", "weekly", "monthly")


def synthetic_sitemaps(docs: DataFrame) -> DataFrame:
    """(sitemap_url, xml): one deterministic sitemaps.org ``<urlset>``
    document per doc with 1-3 ``<url>`` entries; ``<lastmod>`` /
    ``<changefreq>`` / ``<priority>`` are each OPTIONAL per entry
    (independent md5 nibbles), so every parser branch has firing and
    non-firing population — the real-web raggedness the parser must
    survive. Entry locs reuse the 4-host page-URL scheme."""
    docs = spread_small_scan(docs, "doc_id")
    h = F.md5(F.col("doc_id").cast("string"))
    k = 1 + _nib(h, 10) % 3

    def entry(j: int) -> "F.Column":
        tgt = (F.col("doc_id") * 17 + j * 59) % 512
        nib = _nib(h, 10 + j)
        day = (nib % 28 + 1).cast("string")
        lastmod = F.when(
            nib % 2 == 0,
            F.concat(F.lit("<lastmod>2026-01-"),
                     F.lpad(day, 2, "0"), F.lit("</lastmod>")),
        ).otherwise(F.lit(""))
        freq = F.when(
            nib % 3 != 0,
            F.concat(
                F.lit("<changefreq>"),
                F.element_at(
                    F.array(*[F.lit(c) for c in CHANGEFREQS]),
                    (nib % len(CHANGEFREQS) + 1).cast("int"),
                ),
                F.lit("</changefreq>"),
            ),
        ).otherwise(F.lit(""))
        prio = F.when(
            nib % 4 != 0,
            F.concat(F.lit("<priority>0."),
                     (nib % 10).cast("string"), F.lit("</priority>")),
        ).otherwise(F.lit(""))
        return F.when(
            F.lit(j) <= k,
            F.concat(
                F.lit("<url><loc>"), _page_url(tgt), F.lit("</loc>"),
                lastmod, freq, prio, F.lit("</url>"),
            ),
        ).otherwise(F.lit(""))

    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        entry(1), entry(2), entry(3),
        F.lit("</urlset>"),
    )
    return docs.select(
        F.concat(
            F.lit("https://site"),
            (_nib(h, 1) % 4).cast("string"),
            F.lit(".example.org/sitemap-"),
            F.col("doc_id").cast("string"),
            F.lit(".xml"),
        ).alias("sitemap_url"),
        xml.alias("xml"),
    )


def sitemap_entries(sitemaps: DataFrame) -> DataFrame:
    """Flatten sitemap XML into one row per ``<url>`` entry — the
    crawler's URL-discovery feed (sitemaps.org protocol): loc, lastmod
    date, changefreq, and priority in integer ppm (the protocol's 0.0-
    1.0 decimal ×10⁶ — never a float cross-engine).

    ONE ``regexp_extract_all`` pass over the sitemap bytes pulls whole
    ``<url>…</url>`` blocks (the single-scan discipline — congruent
    per-field passes re-scan the document K times); the per-FIELD
    regexes then run over tens-of-byte match strings. Absent optional
    tags are NULL. Pure native expressions, zero shuffles: a flat map
    fused into the scan at any corpus size.

    Output: (sitemap_url, loc, lastmod, changefreq, priority_ppm).
    """
    block = r"<url>.*?</url>"
    ent = (
        sitemaps.select(
            "sitemap_url",
            F.explode(
                F.regexp_extract_all(F.col("xml"), F.lit(block), F.lit(0))
            ).alias("_e"),
        )
    )
    def opt(tag: str) -> "F.Column":
        pat = rf"<{tag}>([^<]*)</{tag}>"
        v = F.regexp_extract("_e", pat, 1)
        return F.when(F.col("_e").rlike(pat), v)

    return ent.select(
        "sitemap_url",
        F.regexp_extract("_e", r"<loc>([^<]*)</loc>", 1).alias("loc"),
        opt("lastmod").alias("lastmod"),
        opt("changefreq").alias("changefreq"),
        (
            F.conv(F.regexp_extract(opt("priority"), r"^0\.(\d)$", 1),
                   10, 10).cast("long") * 100_000
        ).alias("priority_ppm"),
    )


# ---------------------------------------------------------------------------
# politeness-aware fetch scheduling (the frontier → fetch-slot step)
# ---------------------------------------------------------------------------


def fetch_schedule(pages: DataFrame) -> DataFrame:
    """Assign every frontier URL a per-host fetch slot under a per-host
    crawl delay — the politeness constraint every crawler schedules
    around (one connection per host, ``Crawl-delay`` seconds apart):
    slot ``i`` of host ``h`` is fetched at ``i · delay(h)`` seconds
    into the wave.

    The per-host delay is derived here from the host name's md5 (1-4 s)
    standing in for a robots.txt ``Crawl-delay`` lookup; the ordering
    within a host is deterministic (url, then id) so re-planning a
    crashed wave reproduces the same schedule.

    Scale shape: ONE shuffle — the window partitions by host. A
    mega-host (10⁷ frontier URLs on one host) serializes into one
    window partition by construction; that is the POLITENESS
    constraint itself (its fetches are serial anyway), not an engine
    defect — the schedule's span is delay·n regardless of where it is
    computed. Everything else is a narrow map.

    Output: (doc_id, url, host, delay_sec, slot, scheduled_offset_sec).
    """
    from pyspark.sql import Window

    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/?:]+)", 1)
    w = (
        Window.partitionBy("host")
        .orderBy(F.col("url").asc(), F.col("doc_id").asc())
    )
    delay = (_nib(F.md5(F.col("host")), 1) % 4 + 1).cast("long")
    return (
        pages.select("doc_id", "url", host.alias("host"))
        .withColumn("delay_sec", delay)
        .withColumn(
            "slot", (F.row_number().over(w) - 1).cast("long")
        )
        .withColumn(
            "scheduled_offset_sec", F.col("slot") * F.col("delay_sec")
        )
    )


def frontier_gap(
    discovered: DataFrame, crawled: DataFrame
) -> DataFrame:
    """URL-frontier construction: sitemap-DISCOVERED locations that are
    NOT yet in the crawl — per distinct loc, how many sitemaps
    reference it, the strongest advertised priority, and the freshest
    lastmod (ISO dates compare lexicographically, so ``max`` is
    chronological without a timestamp parse).

    ``discovered`` is :func:`sitemap_entries` output; ``crawled`` any
    table with a ``url`` column. Scale shape: ONE hash aggregate on
    loc (map-side combinable), then a LEFT ANTI join against the
    crawled url set — both sides hash-exchange once on the url; at
    10¹² pages neither side is broadcastable and the anti join is the
    honest one-shuffle-each set difference. Output order-free.

    Output: (loc, n_refs, max_priority_ppm, latest_lastmod).
    """
    agg = discovered.groupBy(F.col("loc")).agg(
        F.count(F.lit(1)).cast("long").alias("n_refs"),
        F.max("priority_ppm").alias("max_priority_ppm"),
        F.max("lastmod").alias("latest_lastmod"),
    )
    return agg.join(
        crawled.select(F.col("url").alias("loc")).distinct(),
        "loc",
        "left_anti",
    )


# ---------------------------------------------------------------------------
# redirect-chain resolution (3xx canonicalization)
# ---------------------------------------------------------------------------


def synthetic_redirects(docs: DataFrame) -> DataFrame:
    """(src_url, location): a deterministic redirect-edge table with
    every chain shape the resolver must survive — straight chains into
    a final page, chains into URLs with no edge (a terminus), direct
    self-loops, and md5-scrambled cross-links that produce longer
    chains and multi-node cycles. Docs whose nibble 11 is ≥ 12 emit no
    edge (their URLs are plain pages)."""
    h = F.md5(F.col("doc_id").cast("string"))
    m = _nib(h, 11) % 4
    t = _nib(h, 12) % 4
    r = lambda e: F.concat(  # noqa: E731 — local url shorthand
        F.lit("https://r.example.org/"), e.cast("string")
    )
    dst = (
        F.when(t == 0, r((F.col("doc_id") * 7 + 3) % 512))
        .when(t == 1, F.concat(F.lit("https://f.example.org/"),
                               F.col("doc_id").cast("string")))
        .when(t == 2, r(F.col("doc_id")))
        .otherwise(r((F.col("doc_id") * 3 + 1) % 512))
    )
    return docs.filter(m <= 2).select(
        r(F.col("doc_id")).alias("src_url"),
        dst.alias("location"),
    )


def resolve_redirects(
    redirects: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Follow every redirect chain to its terminus — the 3xx
    canonicalization step a crawl pipeline runs so content attributes
    to the FINAL URL: per source, the last URL reached, the hop count,
    and how the walk ended (``resolved`` — a URL with no outgoing
    redirect; ``loop`` — a URL already visited on this walk;
    ``truncated`` — still redirecting at ``max_hops``, the real-world
    give-up bound).

    Scale shape: ``max_hops`` UNROLLED left equi-joins of the in-flight
    walks against the redirect map (both sides hash on url each hop;
    the map is crawl-fraction-sized — never broadcastable at 10¹²
    pages, and never joined to the full page table). In-flight rows
    only shrink: each hop terminates every walk that resolved, looped
    or exhausted its budget, so hop k's join input is a strict subset
    of hop k-1's. No driver-side iteration state — the loop is plan
    construction, not data movement.
    """
    emap = redirects.select(
        F.col("src_url").alias("_k"), F.col("location").alias("_v")
    )
    state = redirects.select(
        "src_url",
        F.col("location").alias("final_url"),
        F.lit(1).cast("long").alias("n_hops"),
        F.array("src_url").alias("_seen"),
        F.lit(None).cast("string").alias("status"),
    )
    for _ in range(max_hops):
        s = state.join(emap, state["final_url"] == emap["_k"], "left")
        status = (
            F.when(F.col("status").isNotNull(), F.col("status"))
            .when(F.col("_v").isNull(), F.lit("resolved"))
            .when(
                F.array_contains(F.col("_seen"), F.col("final_url")),
                F.lit("loop"),
            )
            .when(F.col("n_hops") >= max_hops, F.lit("truncated"))
        )
        cont = status.isNull()
        state = s.select(
            "src_url",
            F.when(cont, F.col("_v")).otherwise(F.col("final_url"))
            .alias("final_url"),
            F.when(cont, F.col("n_hops") + 1).otherwise(F.col("n_hops"))
            .alias("n_hops"),
            F.when(
                cont, F.concat(F.col("_seen"), F.array(F.col("final_url")))
            ).otherwise(F.col("_seen")).alias("_seen"),
            status.alias("status"),
        )
    return state.select("src_url", "final_url", "n_hops", "status")


# ---------------------------------------------------------------------------
# per-host template (chrome) line removal
# ---------------------------------------------------------------------------


def synthetic_host_lined_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, host, url, text) — a multi-line page table where every
    host stamps shared chrome around per-document body lines: a nav
    line and a copyright footer on EVERY page of the host (true
    template), a promo line on only ~half the host's pages (below any
    sane template threshold — must survive), and three body lines cut
    from the document's own text (unique per page).  ``concat_ws``
    skips the NULL promo on both engines, so line numbering stays
    dense."""
    docs = spread_small_scan(docs, "doc_id")
    d = F.col("doc_id")
    host = F.concat(
        F.lit("h"), (d % 8).cast("string"), F.lit(".example.org")
    )
    body = F.replace(
        F.coalesce(F.col("text"), F.lit("")), F.lit("\n"), F.lit(" ")
    )
    promo = F.when(
        _nib(F.md5(d.cast("string")), 13) % 2 == 0,
        F.concat(F.lit("PROMO newsletter for "), host),
    )
    return docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 d.cast("string")).alias("url"),
        F.concat_ws(
            "\n",
            F.concat(F.lit("NAV "), host,
                     F.lit(" home products about contact")),
            promo,
            F.concat(F.lit("BODY0 "), F.substring(body, 1, 80)),
            F.concat(F.lit("BODY1 "), F.substring(body, 81, 80)),
            F.concat(F.lit("BODY2 "), F.substring(body, 161, 80)),
            F.concat(F.lit("(c) 2026 "), host),
        ).alias("text"),
    )


def _page_lines(pages: DataFrame) -> DataFrame:
    """Positional line explode of the page text (dense 0-based
    ``line_no``); carries (doc_id, url, host)."""
    return pages.select(
        "doc_id",
        "url",
        "host",
        F.posexplode(F.split(F.col("text"), "\n", -1)).alias(
            "line_no", "line"
        ),
    )


def host_template_lines(
    pages: DataFrame,
    min_host_pages: int = 4,
    template_frac_ppm: int = 600_000,
) -> DataFrame:
    """Detect per-host template (chrome) lines: a line is template when
    it appears on ≥ ``template_frac_ppm``/1e6 of a host's pages and the
    host has ≥ ``min_host_pages`` pages (small hosts give no frequency
    evidence).  This is the HOST-scoped complement of the corpus-level
    RefinedWeb line dedup (`operators/cleaning.corpus_line_dedup`):
    navigation/footer chrome repeats within a site, not across the
    corpus, so the frequency denominator must be the host's own page
    count.

    Scale shape: one hash aggregate per relation — page counts per
    host and distinct page counts per (host, line) — then an equi-join
    on ``host``.  Both aggregates partial-combine map-side; the join
    keys are already hash-partitioned on ``host`` by the page-count
    aggregate, so AQE reuses the exchange.  Neither side is broadcast:
    hosts are crawl-cardinality (10⁸⁺), the textbook non-broadcastable
    dimension.  Hot hosts (mega-sites) skew the (host, line) aggregate
    only by their OWN chrome-line count, not their page count, because
    the explode's distinct-per-page pre-aggregation spreads on
    (host, line, url) before the final (host, line) combine.

    Output: (host, line, n_pages, host_pages), the template relation.
    """
    lines = _page_lines(pages)
    host_pages = pages.groupBy("host").agg(
        F.countDistinct("url").alias("host_pages")
    )
    line_pages = (
        lines.select("host", "line", "url")
        .distinct()
        .groupBy("host", "line")
        .agg(F.count("*").alias("n_pages"))
    )
    return line_pages.join(host_pages, "host").filter(
        (F.col("host_pages") >= min_host_pages)
        & (
            F.col("n_pages") * 1_000_000
            >= template_frac_ppm * F.col("host_pages")
        )
    )


def strip_host_template(
    pages: DataFrame, templates: DataFrame
) -> DataFrame:
    """Remove every template line from every page of its host and
    reassemble the page in line order — the deboilerplate step that
    per-host chrome detection exists for.

    Scale shape: explode → LEFT equi-join on (host, line) against the
    template relation → one hash aggregate back to page grain.  The
    template relation is chrome-sized per host but host-cardinality
    overall, so it joins by shuffle on the same (host-prefixed) key the
    reassembly aggregate uses.  The kept-lines array is materialized as
    a NAMED column before the ``transform`` lambda touches it
    (BENCH/PLANS.md lambda-trap discipline).

    Output: (doc_id, url, clean_text, n_lines, n_stripped).
    """
    lines = _page_lines(pages)
    tmpl = templates.select("host", "line").withColumn(
        "_is_t", F.lit(True)
    )
    marked = lines.join(tmpl, ["host", "line"], "left")
    agg = marked.groupBy("doc_id", "url").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_is_t").isNull(),
                    F.struct("line_no", "line"),
                )
            )
        ).alias("_kept"),
        F.count("*").alias("n_lines"),
        F.count("_is_t").alias("n_stripped"),
    )
    return agg.select(
        "doc_id",
        "url",
        F.array_join(
            F.transform(F.col("_kept"), lambda s: s["line"]), "\n"
        ).alias("clean_text"),
        "n_lines",
        "n_stripped",
    )


def attribute_aliases(
    pages: DataFrame, redirects: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Attribute redirect aliases to the content page they resolve to —
    the step after 3xx canonicalization where duplicate fetches of URL
    aliases collapse onto one canonical page: a crawl sees
    ``old-url → 301 → new-url`` and must credit discovery (and drop the
    duplicate fetch) to ``new-url``.

    A *content page* is a page whose URL has no outgoing redirect edge
    (3xx responses carry no body).  Each such page gets the number of
    alias URLs whose resolved walk terminates at it and the longest
    such chain; loop/truncated walks attribute nowhere (crawlers
    discard them).

    Scale shape: the walk is :func:`resolve_redirects` (unrolled
    url-keyed equi-joins); attribution adds one LEFT ANTI join (content
    pages = pages minus redirect sources), one hash aggregate on
    ``final_url``, and one LEFT equi-join back — every key is a url,
    every relation crawl-sized, nothing broadcast.

    Output: (url, doc_id, n_aliases, max_alias_hops).
    """
    content = pages.join(
        redirects.select(F.col("src_url").alias("url")), "url", "left_anti"
    )
    resolved = (
        resolve_redirects(redirects, max_hops=max_hops)
        .filter(F.col("status") == "resolved")
        .groupBy(F.col("final_url").alias("url"))
        .agg(
            F.count("*").alias("n_aliases"),
            F.max("n_hops").alias("max_alias_hops"),
        )
    )
    return content.join(resolved, "url", "left").select(
        "url",
        "doc_id",
        F.coalesce("n_aliases", F.lit(0)).alias("n_aliases"),
        F.coalesce("max_alias_hops", F.lit(0)).alias("max_alias_hops"),
    )


# ---------------------------------------------------------------------------
# link-spam (link-farm) host scoring
# ---------------------------------------------------------------------------


def link_spam_scores(host_edges: DataFrame) -> DataFrame:
    """Host-level link-spam signals over the HOST graph (the
    :func:`host_graph` rollup): link farms interlink reciprocally and
    push far more distinct outgoing host-edges than organic sites, so
    the classic screen is reciprocity — the fraction of a host's
    distinct external out-neighbours that link straight back — plus
    the raw in/out/self link masses for downstream weighting.

    ``is_farm`` fires when reciprocity ≥ 500,000 ppm over ≥ 2
    distinct out-neighbours (one mutual link
    between two blogs is friendship, not a farm).

    Scale shape: everything runs at HOST-PAIR grain (the rollup's key
    space, orders of magnitude below edges).  Three hash aggregates
    (out / in / self masses), one self-equi-join of the external pair
    relation against its own swap for reciprocity — both sides
    hash-partition on (host, host), no broadcast (hosts are
    crawl-cardinality), fan-out impossible because pairs are unique —
    then a left-join merge onto the host universe.  Integral ppm
    (BIGINT ``div``) keeps the output hash-exact cross-engine.

    Output: (host, out_links, in_links, self_links, out_hosts,
    recip_hosts, recip_ppm, is_farm).
    """
    ext = host_edges.filter(~F.col("internal")).select(
        "src_host", "dst_host", "n_links"
    )
    out_a = ext.groupBy(F.col("src_host").alias("host")).agg(
        F.sum("n_links").alias("out_links"),
        F.count("*").alias("out_hosts"),
    )
    in_a = ext.groupBy(F.col("dst_host").alias("host")).agg(
        F.sum("n_links").alias("in_links")
    )
    self_a = (
        host_edges.filter(F.col("internal"))
        .groupBy(F.col("src_host").alias("host"))
        .agg(F.sum("n_links").alias("self_links"))
    )
    pairs = ext.select("src_host", "dst_host")
    swapped = pairs.select(
        F.col("dst_host").alias("src_host"),
        F.col("src_host").alias("dst_host"),
    )
    recip = (
        pairs.join(swapped, ["src_host", "dst_host"], "left_semi")
        .groupBy(F.col("src_host").alias("host"))
        .agg(F.count("*").alias("recip_hosts"))
    )
    hosts = (
        host_edges.select(F.col("src_host").alias("host"))
        .union(host_edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    merged = (
        hosts.join(out_a, "host", "left")
        .join(in_a, "host", "left")
        .join(self_a, "host", "left")
        .join(recip, "host", "left")
        .select(
            "host",
            F.coalesce("out_links", F.lit(0)).alias("out_links"),
            F.coalesce("in_links", F.lit(0)).alias("in_links"),
            F.coalesce("self_links", F.lit(0)).alias("self_links"),
            F.coalesce("out_hosts", F.lit(0)).alias("out_hosts"),
            F.coalesce("recip_hosts", F.lit(0)).alias("recip_hosts"),
        )
    )
    recip_ppm = F.when(
        F.col("out_hosts") > 0,
        F.expr("recip_hosts * 1000000 div out_hosts"),
    ).otherwise(F.lit(0).cast("long"))
    return merged.select(
        "*",
        recip_ppm.alias("recip_ppm"),
    ).withColumn(
        "is_farm",
        (F.col("recip_ppm") >= 500_000)
        & (F.col("out_hosts") >= 2),
    )


def frontier_priority(
    gap: DataFrame, link_stats: DataFrame, per_host_cap: int = 3
) -> DataFrame:
    """Rank the uncrawled frontier and apply per-host politeness caps —
    the step after :func:`frontier_gap` that decides what actually gets
    fetched next: each candidate's score combines sitemap evidence
    (reference count, advertised priority) with link-graph popularity
    (in-degree of the candidate URL), and a per-host ``row_number``
    keeps only the top ``per_host_cap`` candidates so one mega-site
    cannot monopolize the fetch budget.

    Score is INTEGRAL (BIGINT ``div`` arithmetic): n_refs·1000 +
    priority_ppm/1000 + in_degree·500 — hash-exact cross-engine, and
    the weights are explicit constants a production config would own.

    Scale shape: one url-keyed LEFT join (frontier × link stats, both
    crawl-sized, nothing broadcast) + ONE window shuffle on host. The
    per-host cap bounds every reducer's output, and the window state is
    a counter — host skew (one host with 10⁸ candidates) is the sort
    cost of that host's partition, which AQE skew-split handles because
    row_number only needs per-key sorted runs.

    Output: (host, loc, score, host_rank, n_refs, in_degree).
    """
    from pyspark.sql.window import Window

    j = gap.join(
        link_stats.select(
            F.col("dst_url").alias("loc"), "in_degree"
        ),
        "loc",
        "left",
    ).select(
        F.regexp_extract("loc", r"^https?://([^/:]+)", 1).alias("host"),
        "loc",
        "n_refs",
        F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        F.coalesce("max_priority_ppm", F.lit(0)).alias("_prio"),
    )
    s = j.withColumn(
        "score",
        F.expr("n_refs * 1000 + _prio div 1000 + in_degree * 500")
        .cast("long"),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("score").desc(), F.col("loc")
    )
    return (
        s.withColumn(
            "host_rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("host_rank") <= per_host_cap)
        .select("host", "loc", "score", "host_rank", "n_refs", "in_degree")
    )


# ---------------------------------------------------------------------------
# soft-404 detection
# ---------------------------------------------------------------------------

#: Error-page phrase screen (lowercased match; Java ∩ RE2 regex subset
#: so the DuckDB oracle runs the same pattern byte-for-byte).
SOFT404_PHRASE_RE = (
    r"(error 404|not found|does not exist|no longer available)"
)


def synthetic_soft404_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, host, url, title, text): a page table where md5 nibble
    14 routes each document to one of three shapes — a normal content
    page (body = the document text), an error-PHRASE page (thin text
    carrying '404 - page not found'), or a host-TEMPLATE clone (the
    host's constant custom-error body, identical across the host's
    clones) — all served as HTTP 200, which is exactly the soft-404
    problem."""
    docs = spread_small_scan(docs, "doc_id")
    d = F.col("doc_id")
    host = F.concat(
        F.lit("h"), (d % 8).cast("string"), F.lit(".example.org")
    )
    body = F.replace(
        F.coalesce(F.col("text"), F.lit("")), F.lit("\n"), F.lit(" ")
    )
    b = _nib(F.md5(d.cast("string")), 14) % 8
    title = (
        F.when(b == 6, F.lit("Oops"))
        .when(b == 7, F.lit("Error"))
        .otherwise(F.concat(F.lit("Doc "), d.cast("string")))
    )
    text = (
        F.when(
            b == 6,
            F.concat(
                F.lit("Error 404 - page not found. "),
                F.substring(body, 1, 20),
            ),
        )
        .when(b == 7, _soft404_template(host))
        .otherwise(body)
    )
    return docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 d.cast("string")).alias("url"),
        title.alias("title"),
        text.alias("text"),
    )


def _soft404_template(host) -> "F.Column":
    """The host's constant custom-error body (what probing a random
    URL on the host returns)."""
    return F.concat(
        F.lit("The page you requested does not exist on "), host,
        F.lit(". Try the homepage."),
    )


def soft404_probes(pages: DataFrame) -> DataFrame:
    """(host, probe_md5): the fingerprint of each host's error
    template, as an active random-URL probe would capture it
    (Bar-Yossef et al. 2004's sic-transit method: fetch a URL that
    cannot exist, fingerprint what comes back).  Derived here from the
    hosts present in the page table; in production this relation is
    the probe crawl's output."""
    return (
        pages.select("host")
        .distinct()
        .select(
            "host", F.md5(_soft404_template(F.col("host"))).alias("probe_md5")
        )
    )


def soft404_screen(pages: DataFrame, probes: DataFrame) -> DataFrame:
    """Flag soft 404s — error pages served as HTTP 200: a page is
    flagged when its body md5 equals the host's probed error-template
    fingerprint (exact template clone), or when it carries an error
    phrase AND is thin (< 12 whitespace tokens; phrase alone would
    false-positive on pages ABOUT 404s).

    Scale shape: the phrase/length screens are per-row codegen; the
    template check is ONE host-keyed LEFT equi-join against the probe
    relation — host-cardinality (10⁸⁺ hosts at crawl scale), so it is
    a shuffle join by construction, never a broadcast.

    NULL text (undecodable / binary payloads upstream) is treated as
    the empty page: no phrase, zero tokens, never a template match —
    flags are always non-NULL so downstream gates can filter directly.

    Output: (doc_id, url, has_phrase, n_toks, template_match,
    is_soft404).
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.filter(
        F.split(
            F.trim(F.regexp_replace(text, r"[ \t\n\r\f\x0b]+", " ")),
            " ",
        ),
        lambda w: F.length(w) > 0,
    )
    j = pages.join(probes, "host", "left")
    return j.select(
        "doc_id",
        "url",
        F.lower(text).rlike(SOFT404_PHRASE_RE).alias("has_phrase"),
        F.size(toks).cast("long").alias("n_toks"),
        F.coalesce(
            F.md5(text) == F.col("probe_md5"), F.lit(False)
        ).alias("template_match"),
    ).withColumn(
        "is_soft404",
        F.col("template_match")
        | (F.col("has_phrase") & (F.col("n_toks") < 12)),
    )


# ---------------------------------------------------------------------------
# crawl snapshot merge (Iceberg-style MERGE INTO, expressed relationally)
# ---------------------------------------------------------------------------


def snapshot_upsert(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge a new crawl snapshot into the canonical page table — the
    MERGE INTO an Iceberg deployment runs per crawl, expressed as the
    engine-portable aggregate + full-outer-join plan (same row
    semantics; Iceberg's copy-on-write file pruning replaces nothing in
    the logical result):

    * url in both: latest-fetch fingerprint wins (``max_by`` on ts),
      ``first_seen_ts`` carried from base, fetch counts summed —
      ``updated`` when the fingerprint changed, else ``unchanged``;
    * url only in delta: ``new`` (first_seen = its earliest delta ts);
    * url only in base: ``carried`` untouched.

    Input: base (url, first_seen_ts, last_fetch_ts, n_fetches,
    fingerprint); delta (url, fetch_ts_sec, fingerprint).

    Scale shape: ONE hash aggregate collapses the delta to url grain
    (map-side combinable — re-fetch multiplicity never crosses the
    wire), then ONE url-keyed full outer join against base.  Both
    sides are crawl-sized: never broadcast; on a real deployment both
    would be bucketed by url so the join is exchange-free.  Output is
    url grain, ready to overwrite the canonical table.

    Output: (url, first_seen_ts, last_fetch_ts, n_fetches,
    fingerprint, status).
    """
    d = delta.groupBy("url").agg(
        F.min("fetch_ts_sec").alias("_d_first"),
        F.max("fetch_ts_sec").alias("_d_last"),
        F.count("*").alias("_d_n"),
        F.max_by("fingerprint", "fetch_ts_sec").alias("_d_fp"),
    )
    j = base.join(d, "url", "full_outer")
    in_base = F.col("n_fetches").isNotNull()
    in_delta = F.col("_d_n").isNotNull()
    status = (
        F.when(~in_base, F.lit("new"))
        .when(~in_delta, F.lit("carried"))
        .when(F.col("_d_fp") != F.col("fingerprint"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "url",
        F.when(in_base, F.col("first_seen_ts"))
        .otherwise(F.col("_d_first")).alias("first_seen_ts"),
        F.greatest(
            F.coalesce(F.col("last_fetch_ts"), F.lit(0)),
            F.coalesce(F.col("_d_last"), F.lit(0)),
        ).alias("last_fetch_ts"),
        (
            F.coalesce(F.col("n_fetches"), F.lit(0))
            + F.coalesce(F.col("_d_n"), F.lit(0))
        ).alias("n_fetches"),
        F.coalesce(F.col("_d_fp"), F.col("fingerprint"))
        .alias("fingerprint"),
        status.alias("status"),
    )


# ---------------------------------------------------------------------------
# hreflang alternate validation (multilingual cluster consistency)
# ---------------------------------------------------------------------------

HREFLANG_RE = r'<link rel="alternate" hreflang="([a-z-]+)" href="([^"]+)"/>'

_HL_LANGS = ("en", "de", "fr")


def synthetic_hreflang_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, url, html): language-variant pages — doc_id mod 3
    picks the page's language, doc_id div 3 its translation group —
    each declaring ``<link rel="alternate" hreflang>`` to its sibling
    variants, with md5-nibble-selected declarations OMITTED (the real
    web's most common hreflang defect is the missing return link) and
    an ``x-default`` on English pages."""
    d = F.col("doc_id")
    h = F.md5(d.cast("string"))
    gid = F.expr("doc_id div 3")
    own = (d % 3).cast("int")

    def vurl(lang) -> "F.Column":
        return F.concat(
            F.lit("https://www.example.org/"), lang, F.lit("/"),
            gid.cast("string"),
        )

    def decl(j: int) -> "F.Column":
        lang = F.lit(_HL_LANGS[j])
        return F.when(
            (own != j) & (_nib(h, 19 + j) % 8 != 0),
            F.concat(
                F.lit('<link rel="alternate" hreflang="'), lang,
                F.lit('" href="'), vurl(lang), F.lit('"/>'),
            ),
        ).otherwise(F.lit(""))

    own_lang = F.elt(own + 1, *[F.lit(x) for x in _HL_LANGS])
    xdef = F.when(
        own == 0,
        F.concat(
            F.lit('<link rel="alternate" hreflang="x-default" href="'),
            vurl(F.lit("en")), F.lit('"/>'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), decl(0), decl(1), decl(2), xdef,
        F.lit("</head><body><p>v</p></body></html>"),
    )
    return docs.select(
        "doc_id",
        vurl(own_lang).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )


def extract_hreflang(pages: DataFrame) -> DataFrame:
    """(src_url, hreflang, href) triples from the html column: ONE
    full-match ``regexp_extract_all`` pass over the page (single-scan
    discipline), per-match group extracts over tens-of-byte strings.
    Fused flat map — no Python, no shuffle."""
    html = F.decode(F.col("html"), "UTF-8")
    return (
        pages.select(
            F.col("url").alias("src_url"),
            F.explode(
                F.regexp_extract_all(html, F.lit(HREFLANG_RE), F.lit(0))
            ).alias("_m"),
        )
        .select(
            "src_url",
            F.regexp_extract("_m", HREFLANG_RE, 1).alias("hreflang"),
            F.regexp_extract("_m", HREFLANG_RE, 2).alias("href"),
        )
    )


def hreflang_symmetry(alts: DataFrame) -> DataFrame:
    """Validate hreflang clusters: an alternate is SYMMETRIC when the
    target page declares an alternate straight back (the Google-
    documented requirement — asymmetric pairs are ignored by search
    engines and indicate extraction/translation drift).  Per declaring
    page: alternate count (x-default excluded — it is a fallback
    pointer, not a language edge), how many are reciprocated, whether
    an x-default exists, and whether the page is fully consistent.

    Scale shape: the reciprocity check is a self equi-join of the
    (src_url, href) edge relation against its own swap — at most ONE
    match per edge (src and href determine the return edge), so it is
    a semi-join with no fan-out; then one src_url hash aggregate.
    Everything keys on urls; nothing broadcast.

    Output: (url, n_alts, n_symmetric, has_xdefault, consistent).
    """
    real = alts.filter(F.col("hreflang") != "x-default")
    edges = real.select("src_url", "href")
    back = edges.select(
        F.col("href").alias("src_url"), F.col("src_url").alias("href")
    )
    sym = (
        edges.join(back, ["src_url", "href"], "left_semi")
        .groupBy("src_url")
        .agg(F.count("*").alias("n_symmetric"))
    )
    agg = alts.groupBy(F.col("src_url").alias("url")).agg(
        F.sum(
            F.when(F.col("hreflang") != "x-default", 1).otherwise(0)
        ).alias("n_alts"),
        F.max(F.col("hreflang") == "x-default").alias("has_xdefault"),
    )
    return (
        agg.join(
            sym.select(F.col("src_url").alias("url"), "n_symmetric"),
            "url",
            "left",
        )
        .select(
            "url",
            "n_alts",
            F.coalesce("n_symmetric", F.lit(0)).alias("n_symmetric"),
            "has_xdefault",
        )
        .withColumn(
            "consistent", F.col("n_symmetric") == F.col("n_alts")
        )
    )


# ---------------------------------------------------------------------------
# Relative-href resolution (RFC 3986 §5 reference resolution — the step
# between raw href extraction and any link-graph / frontier work; the
# reference corpus-glob analogue is path handling in
# /root/reference/igtdetect/igtdetect.py:1600-1625, re-expressed for URLs)
# ---------------------------------------------------------------------------


def synthetic_relhref_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, url, html): pages whose base URL sits two directories
    deep (``/dir{k}/sub/{id}.html``, half with a ``?sess=`` query) and
    whose hrefs exercise EVERY RFC 3986 reference shape — absolute,
    protocol-relative, root-relative, plain/``./`` relative, one- two-
    and three-level ``..`` ascent (the last clamping at root, like the
    real web's broken footers), query-only and fragment-only.  Slots
    5-10 are nibble-gated so lists are ragged and every branch has a
    non-firing population at any corpus size."""
    docs = spread_small_scan(docs, "doc_id")
    d = F.col("doc_id")
    h = F.md5(d.cast("string"))

    def t(j: int) -> "F.Column":
        return ((d * 31 + j * 97) % 256).cast("string")

    url = F.concat(
        F.lit("https://site"), (_nib(h, 1) % 4).cast("string"),
        F.lit(".example.org/dir"), (d % 5).cast("string"),
        F.lit("/sub/"), d.cast("string"), F.lit(".html"),
        F.when(_nib(h, 10) % 2 == 0,
               F.concat(F.lit("?sess="), (d % 9).cast("string")))
        .otherwise(F.lit("")),
    )

    def a(href: "F.Column") -> "F.Column":
        return F.concat(F.lit('<a href="'), href, F.lit('">x</a>'))

    def gated(i: int, mod: int, href: "F.Column") -> "F.Column":
        return F.when(_nib(h, i) % mod == 0, a(href)).otherwise(F.lit(""))

    html = F.concat(
        F.lit("<html><body>"),
        a(F.concat(F.lit("https://ext"), t(1), F.lit(".example.net/x/"),
                   t(1))),
        a(F.concat(F.lit("//cdn"), ((d * 31 + 2 * 97) % 4).cast("string"),
                   F.lit(".example.net/lib/"), t(2), F.lit(".js"))),
        a(F.concat(F.lit("/p/"), t(3))),
        a(F.concat(F.lit("img/"), t(4), F.lit(".png"))),
        gated(11, 2, F.concat(F.lit("./same/"), t(5))),
        gated(12, 2, F.concat(F.lit("../up/"), t(6))),
        F.when(_nib(h, 13) % 4 != 0,
               a(F.concat(F.lit("../../"), t(7)))).otherwise(F.lit("")),
        gated(13, 4, F.concat(F.lit("../../../deep/"), t(8))),
        gated(14, 2, F.concat(F.lit("?page="),
                              ((d * 31 + 9 * 97) % 7).cast("string"))),
        gated(15, 2, F.concat(F.lit("#sec"), t(10))),
        F.lit("</body></html>"),
    )
    return docs.select(d.alias("doc_id"), url.alias("url"),
                       F.encode(html, "UTF-8").alias("html"))


def _remove_dot_segments(path: "F.Column") -> "F.Column":
    """RFC 3986 §5.2.4 dot-segment removal as a BOUNDED unrolled
    regexp chain (documented depth cap, like ``max_hops`` in
    :func:`resolve_redirects`): two ``/./`` passes, three
    ``seg/../`` collapse passes, one leading-``/../`` root clamp —
    exact for any path with ≤3 chained ``..`` segments (the synthetic
    corpus maxes at 3; deeper chains would need a wider unroll, still
    O(1) per row).  Replacement strings are literal so the DuckDB
    mirror is byte-identical under RE2's identical non-overlapping
    global-replace scan."""
    p = F.regexp_replace(path, r"/\./", "/")
    p = F.regexp_replace(p, r"/\./", "/")
    p = F.regexp_replace(p, r"^\./", "")
    for _ in range(3):
        p = F.regexp_replace(p, r"/[^/]+/\.\./", "/")
    return F.regexp_replace(p, r"^(/\.\.)+/", "/")


def resolve_links(pages: DataFrame) -> DataFrame:
    """Absolutize every extracted href against its page's base URL —
    RFC 3986 §5.2 reference resolution (minus the exotic ``scheme:``
    same-document forms) as ONE native expression chain over
    :func:`extract_links`: zero Python, zero shuffle, fuses into the
    page scan at 10¹² rows.  Dot-segment removal runs on the PATH
    component only (a ``?a=../x`` query survives untouched).

    Output: (src_url, href, kind, abs_url, is_external) where kind ∈
    {absolute, protocol_relative, root_relative, query, fragment,
    relative}."""
    e = extract_links(pages).select(
        F.col("src_url"), F.col("dst_url").alias("href")
    )
    src = F.col("src_url")
    href = F.col("href")
    scheme = F.regexp_extract(src, r"^([a-z][a-z0-9+.-]*):", 1)
    origin = F.regexp_extract(src, r"^([a-z][a-z0-9+.-]*://[^/?#]+)", 1)
    base_nq = F.regexp_replace(src, r"[?#].*$", "")
    base_dir = F.regexp_replace(base_nq, r"/[^/]*$", "/")
    kind = (
        F.when(href.rlike(r"^[a-z][a-z0-9+.-]*:"), F.lit("absolute"))
        .when(href.startswith("//"), F.lit("protocol_relative"))
        .when(href.startswith("/"), F.lit("root_relative"))
        .when(href.startswith("?"), F.lit("query"))
        .when(href.startswith("#"), F.lit("fragment"))
        .otherwise(F.lit("relative"))
    )
    raw = (
        F.when(kind == "absolute", href)
        .when(kind == "protocol_relative", F.concat(scheme, F.lit(":"), href))
        .when(kind == "root_relative", F.concat(origin, href))
        .when(kind == "query", F.concat(base_nq, href))
        .when(kind == "fragment",
              F.concat(F.regexp_replace(src, r"#.*$", ""), href))
        .otherwise(F.concat(base_dir, href))
    )
    rest = F.expr("substring(raw, length(origin0) + 1)")
    path = F.regexp_extract(rest, r"^([^?#]*)", 1)
    tail = F.expr("substring(rest0, length(path0) + 1)")
    abs_url = F.concat(F.col("origin0"), _remove_dot_segments(F.col("path0")),
                       tail)
    dst_origin = F.regexp_extract(raw, r"^([a-z][a-z0-9+.-]*://[^/?#]+)", 1)
    out = (
        e.withColumn("kind", kind)
        .withColumn("raw", raw)
        .withColumn("origin0", dst_origin)
        .withColumn("rest0", rest)
        .withColumn("path0", path)
    )
    return out.select(
        "src_url",
        "href",
        "kind",
        abs_url.alias("abs_url"),
        (F.regexp_extract(F.col("raw"), r"^[a-z]+://([^/?#]+)", 1)
         != F.regexp_extract(F.col("src_url"), r"^[a-z]+://([^/?#]+)", 1))
        .alias("is_external"),
    )


# ---------------------------------------------------------------------------
# Registered-domain extraction (public-suffix list) + per-domain rollup —
# the grain every per-site crawl policy actually wants (host_graph /
# host_quality_gate group by HOSTNAME; crawl budgets, ownership and spam
# screens group by REGISTERED DOMAIN: blog.foo.co.uk and www.foo.co.uk
# are one site, foo.co.uk and bar.co.uk are not)
# ---------------------------------------------------------------------------

#: Embedded public-suffix subset (exact-match semantics; the real
#: Mozilla PSL adds ``*``/``!`` rules — out of scope, documented).
#: Longest listed suffix wins; an unlisted TLD falls back to its last
#: label (the PSL's implicit ``*`` default rule).  The full PSL is
#: ~10k rows — bounded by construction, the canonical broadcast dim.
PUBLIC_SUFFIXES = (
    "com", "org", "net", "io", "jp", "uk", "au",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "co.jp", "ne.jp",
    "github.io",
)


def public_suffix_df(spark) -> DataFrame:
    """One-column (suffix) relation built via ``VALUES`` SQL so Catalyst
    sees a LocalRelation with REAL size stats (a ``createDataFrame``
    RDD scan reports the conservative max and defeats size-aware
    broadcast planning — see BENCH/PLANS.md)."""
    vals = ", ".join(f"('{s}')" for s in PUBLIC_SUFFIXES)
    return spark.sql(f"SELECT col1 AS suffix FROM (VALUES {vals})")


def synthetic_domain_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, url, host): six host shapes cycling on ``doc_id mod
    6`` so every PSL branch populates — 2-level suffix under a www
    subdomain, host == registered domain, a PRIVATE-registry suffix
    (github.io, occasionally the bare suffix itself → NULL registered
    domain), many hosts sharing one registered ``.com`` domain, a
    3-label academic suffix, and an UNLISTED TLD exercising the
    implicit last-label fallback."""
    d = F.col("doc_id")
    h = F.md5(d.cast("string"))
    g = (d % 37).cast("string")
    host = (
        F.when(d % 6 == 0, F.concat(F.lit("www.shop"), g, F.lit(".co.uk")))
        .when(d % 6 == 1, F.concat(F.lit("news"), g, F.lit(".org.uk")))
        .when(d % 6 == 2,
              F.when(_nib(h, 6) % 8 == 0, F.lit("github.io"))
              .otherwise(F.concat(F.lit("blog"), g, F.lit(".github.io"))))
        .when(d % 6 == 3,
              F.concat(F.lit("m"), (d % 7).cast("string"), F.lit(".corp"),
                       (d % 11).cast("string"), F.lit(".com")))
        .when(d % 6 == 4,
              F.concat(F.lit("dept"), (d % 5).cast("string"), F.lit(".uni"),
                       (d % 13).cast("string"), F.lit(".ac.uk")))
        .otherwise(F.concat(F.lit("cdn"), g, F.lit(".unknown"),
                            (d % 3).cast("string"), F.lit(".zz")))
    )
    return docs.select(
        d.alias("doc_id"),
        F.concat(F.lit("https://"), host, F.lit("/p/"), d.cast("string"))
        .alias("url"),
        host.alias("host"),
    )


def registered_domain(pages: DataFrame, psl: DataFrame) -> DataFrame:
    """Attach (public_suffix, registered_domain) to every row's
    ``host`` — PSL longest-suffix match WITHOUT row fan-out: the
    1/2/3-label suffix candidates become three columns, each LEFT
    broadcast-joined against the (bounded, ~10k-row) suffix relation,
    and the longest hit wins; no listed hit falls back to the last
    label (implicit ``*`` rule).  A host that IS its public suffix has
    no registrable part → registered_domain NULL.  Three broadcast
    hash joins, ZERO exchanges — fuses into the page scan at 10¹²
    rows (candidate explode + re-group would cost two shuffles)."""
    labels = F.split(F.col("host"), r"\.")
    n = F.size(labels)
    s1 = F.element_at(labels, -1)
    s2 = F.when(n >= 2, F.concat_ws(".", F.slice(labels, n - 1, 2)))
    s3 = F.when(n >= 3, F.concat_ws(".", F.slice(labels, n - 2, 3)))
    base = pages.withColumn("_s1", s1).withColumn("_s2", s2).withColumn(
        "_s3", s3)
    for i in (1, 2, 3):
        m = psl.select(F.col("suffix").alias(f"_m{i}"))
        base = base.join(
            F.broadcast(m), base[f"_s{i}"] == m[f"_m{i}"], "left"
        )
    ps = F.coalesce(F.col("_m3"), F.col("_m2"), F.col("_m1"), F.col("_s1"))
    labels2 = F.split(F.col("host"), r"\.")
    reg = F.when(
        F.col("host") != ps,
        F.concat(
            F.element_at(
                labels2, F.size(labels2) - F.size(F.split(ps, r"\."))
            ),
            F.lit("."),
            ps,
        ),
    )
    return base.withColumn("public_suffix", ps).withColumn(
        "registered_domain", reg
    ).drop("_s1", "_s2", "_s3", "_m1", "_m2", "_m3")


def domain_rollup(pages: DataFrame, psl: DataFrame) -> DataFrame:
    """Per registered domain: distinct hosts, page count, and the
    lexicographically first host (a stable exemplar).  ONE hash
    aggregate (map-side combinable) after the zero-exchange PSL
    attach; suffix-only hosts roll up under registered_domain NULL —
    kept, not dropped, so the screen's blind spot is visible.

    Output: (registered_domain, public_suffix, n_hosts, n_pages,
    first_host)."""
    rd = registered_domain(pages, psl)
    return rd.groupBy("registered_domain", "public_suffix").agg(
        F.count_distinct(F.col("host")).cast("long").alias("n_hosts"),
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.min("host").alias("first_host"),
    )


# ---------------------------------------------------------------------------
# on-page SEO spam: keyword stuffing
# ---------------------------------------------------------------------------

#: topic vocabulary for the SEO fixture — ``kw{n}`` keywords so the
#: hand model and both engines re-derive them from doc_id alone.
SEO_KEYWORD_MOD = 17


def synthetic_seo_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, url, html): pages with a title keyword, a meta-keywords
    declaration (3 terms — the title term plus two rotated others, so
    declared-but-absent terms exist on every page), and a body that is
    normal prose on 3/4 of pages but STUFFED on 1/4 (md5 nibble 3):
    the title keyword appended ``8 + nibble₄ %% 8`` times — the classic
    on-page SEO spam shape.  Non-stuffed pages mention their keyword
    once (nibble₃ ≡ 1 mod 4) or never (otherwise), so the density
    screen has firing and non-firing population at every corpus size.
    """
    docs = spread_small_scan(docs, "doc_id")
    h = F.md5(F.col("doc_id").cast("string"))
    kw = F.concat(F.lit("kw"), (F.col("doc_id") % SEO_KEYWORD_MOD)
                  .cast("string"))
    kw2 = F.concat(F.lit("kw"), ((F.col("doc_id") * 3 + 1)
                                 % SEO_KEYWORD_MOD).cast("string"))
    kw3 = F.concat(F.lit("kw"), ((F.col("doc_id") * 5 + 2)
                                 % SEO_KEYWORD_MOD).cast("string"))
    reps = F.when(_nib(h, 3) % 4 == 0, 8 + _nib(h, 4) % 8).otherwise(
        F.when(_nib(h, 3) % 4 == 1, F.lit(1)).otherwise(F.lit(0))
    )
    body = F.concat(
        F.lit("plain prose about topic "),
        (F.col("doc_id") % 7).cast("string"),
        F.repeat(F.concat(F.lit(" "), kw), reps),
    )
    html = F.concat(
        F.lit("<html><head><title>guide to "), kw,
        F.lit('</title><meta name="keywords" content="'),
        kw, F.lit(", "), kw2, F.lit(", "), kw3,
        F.lit('"></head><body><p>'), body,
        F.lit("</p></body></html>"),
    )
    return docs.select(
        "doc_id",
        _page_url(F.col("doc_id")).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )


def keyword_stuffing(pages: DataFrame) -> DataFrame:
    """On-page keyword-stuffing screen — the SEO-spam complement of the
    link-graph (:func:`link_spam`) and soft-404 screens: parse the
    declared meta keywords, tokenize the visible body, and measure how
    much of the body is keyword mass.

    Per page: body token count, total hits of ANY declared keyword,
    the integer-ppm keyword density ``hits·10⁶ div n_tokens``, the
    fraction of declared keywords that actually appear
    (declared-but-absent terms are the inverse spam signal — keyword
    dumping), and the verdict at 300,000 ppm (≥30%% of body tokens
    being declared keywords marks the page).

    Pure native projection — decode + regexp extracts + higher-order
    array functions (``filter``/``array_contains``), whole-stage
    codegen, ZERO shuffles; fuses into the scan at 10¹² pages.  The
    DuckDB oracle mirrors with ``list_filter``/``list_contains``.

    Output: (url, n_tokens, kw_hits, kw_density_ppm, n_meta_kw,
    meta_present_frac_e6, stuffed).
    """
    html = F.decode(F.col("html"), "UTF-8")
    kws = F.split(
        F.regexp_extract(
            html, r'<meta name="keywords" content="([^"]*)">', 1
        ),
        r",\s*",
    )
    body = F.regexp_extract(html, r"<p>(.*?)</p>", 1)
    toks = F.split(F.trim(F.lower(body)), r"\s+")
    base = pages.select(
        "url",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(kws, t)))
        .cast("long").alias("kw_hits"),
        F.size(kws).cast("long").alias("n_meta_kw"),
        F.size(F.filter(kws, lambda k: F.array_contains(toks, k)))
        .cast("long").alias("_n_present"),
    )
    # the divisions are guarded inside CASE branches (ANSI div-by-zero
    # safety on empty bodies / absent meta), and ``stuffed`` derives
    # from the guarded density so it never re-divides
    scored = base.select(
        "url", "n_tokens", "kw_hits",
        F.when(F.col("n_tokens") > 0,
               F.expr("(kw_hits * 1000000L) div n_tokens"))
        .cast("long").alias("kw_density_ppm"),
        "n_meta_kw",
        F.when(F.col("n_meta_kw") > 0,
               F.expr("(_n_present * 1000000L) div n_meta_kw"))
        .cast("long").alias("meta_present_frac_e6"),
    )
    return scored.withColumn(
        "stuffed",
        F.coalesce(
            F.col("kw_density_ppm") >= 300_000,
            F.lit(False),
        ),
    )


# ---------------------------------------------------------------------------
# pagination chains (rel=next/prev article assembly)
# ---------------------------------------------------------------------------


def synthetic_paginated_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, url, html): multi-part articles. Consecutive doc_ids
    group into articles of up to 4 parts — article ``a = id div 4``
    has true length ``L(a) = 1 + nib₅(md5(a)) % 4``; the member with
    part ``k = id % 4 < L`` carries ``rel=next`` to part k+1 (except
    the last) and ``rel=prev`` to part k-1 (except the first).
    Members with ``k ≥ L`` are standalone single-page articles (no
    pagination links at all) — the majority case on the real web, so
    the assembler must not fabricate chains for them."""
    docs = spread_small_scan(docs, "doc_id")
    a = F.floor(F.col("doc_id") / 4).cast("long")
    k = (F.col("doc_id") % 4).cast("long")
    ha = F.md5(a.cast("string"))
    L = (1 + _nib(ha, 5) % 4).cast("long")
    in_chain = k < L
    nxt = F.when(
        in_chain & (k < L - 1),
        F.concat(F.lit('<link rel="next" href="'),
                 _page_url(F.col("doc_id") + 1), F.lit('">')),
    ).otherwise(F.lit(""))
    prv = F.when(
        in_chain & (k > 0),
        F.concat(F.lit('<link rel="prev" href="'),
                 _page_url(F.col("doc_id") - 1), F.lit('">')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Part "), (k + 1).cast("string"),
        F.lit("</title>"), nxt, prv,
        F.lit("</head><body><p>Article "), a.cast("string"),
        F.lit(" part "), (k + 1).cast("string"),
        F.lit(".</p></body></html>"),
    )
    return docs.select(
        "doc_id",
        _page_url(F.col("doc_id")).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )


def paginate_chains(pages: DataFrame, max_parts: int = 4) -> DataFrame:
    """Assemble ``rel=next`` pagination chains into whole articles —
    the multi-page-article stitch a text-extraction pipeline runs so
    a 4-part article becomes ONE training document instead of four
    fragments (every production extractor — news, docs, forums — has
    this step; the reference's per-document model assumes it already
    happened).

    Heads are pages with a ``rel=next`` but no ``rel=prev`` (chain
    starts) plus pages with neither (single-page articles).  From each
    head the chain is walked by ``max_parts − 1`` UNROLLED left
    equi-joins against the (url → next_url) map — the same
    plan-construction loop as :func:`resolve_redirects`: no driver
    iteration, walk state is one array column, finished walks carry
    NULL keys through the remaining hops.  Tail pages (mid-chain or
    chain-end) are NOT heads and emit no row, so output grain is the
    ARTICLE.

    Scale shape: the next-map is pagination-fraction-sized (a few % of
    pages) and hash-joins on url each hop; per-hop state is O(heads).
    Truncation at ``max_parts`` is disclosed via ``complete = false``
    rather than silently dropped.

    Output: (root_url, n_parts, part_urls, complete).
    """
    html = F.decode(F.col("html"), "UTF-8")
    nxt = F.nullif(
        F.regexp_extract(html, r'<link rel="next" href="([^"]+)">', 1),
        F.lit(""),
    )
    prv = F.nullif(
        F.regexp_extract(html, r'<link rel="prev" href="([^"]+)">', 1),
        F.lit(""),
    )
    rel = pages.select(
        "url", nxt.alias("_next"), prv.alias("_prev")
    )
    emap = rel.filter(F.col("_next").isNotNull()).select(
        F.col("url").alias("_k"), F.col("_next").alias("_v")
    )
    heads = rel.filter(F.col("_prev").isNull()).select(
        F.col("url").alias("root_url"),
        F.array("url").alias("part_urls"),
        F.col("_next").alias("_cur"),
    )
    state = heads
    for _ in range(max_parts - 1):
        s = state.join(emap, state["_cur"] == emap["_k"], "left")
        state = s.select(
            "root_url",
            F.when(
                F.col("_cur").isNotNull(),
                F.array_append(F.col("part_urls"), F.col("_cur")),
            ).otherwise(F.col("part_urls")).alias("part_urls"),
            F.when(F.col("_cur").isNotNull(), F.col("_v"))
            .otherwise(F.lit(None).cast("string")).alias("_cur"),
        )
    return state.select(
        "root_url",
        F.size("part_urls").cast("long").alias("n_parts"),
        "part_urls",
        F.col("_cur").isNull().alias("complete"),
    )


# ---------------------------------------------------------------------------
# crawl-budget apportionment (hierarchical largest-remainder)
# ---------------------------------------------------------------------------


def crawl_budget(
    domains: DataFrame, total_budget: int = 100_000
) -> DataFrame:
    """Apportion a global per-cycle page budget across registered
    domains — the planning step between :func:`domain_rollup` and
    :func:`fetch_schedule`: every crawl cycle fetches a fixed number
    of pages, and each registrable unit gets a share proportional to
    its weight (here ``n_pages``, standing in for demand × quality).

    Integer-exact largest-remainder (Hamilton) apportionment, run
    HIERARCHICALLY so it scales: level 1 splits the global budget
    across PUBLIC SUFFIXES (cardinality bounded by the PSL, ~10⁴ —
    the single unpartitioned ranking window is bounded by
    construction, documented, and the only global ordering anywhere);
    level 2 splits each suffix's budget across its domains with the
    ranking window PARTITIONED BY SUFFIX — no global sort over the
    10⁸-domain relation ever happens.  Each level: ``base =
    (budget·w) div W``, then the ``budget − Σbase`` leftover units go
    +1 each to the largest ``(budget·w) mod W`` remainders (ties to
    the lexicographically smaller name, so both engines agree).
    Invariant (tested): ``Σ alloc == total_budget`` EXACTLY — floors
    plus largest remainders is what makes that identity hold, and it
    is why crawl planners use Hamilton and not naive rounding.

    Magnitude bound: products are ``budget × W``; with BIGINT that
    caps ``budget ≤ 9·10¹⁸ / Σpages`` (at 10¹² pages: budget ≤ 9·10⁶
    per apportionment pass — pre-scale weights to ppm, or lift to
    decimal(38,0), for bigger cycles; one constant, documented not
    hidden).

    Suffix-only hosts (NULL registered_domain) are excluded — a bare
    public suffix is not a crawlable registrable unit.

    Output: (registered_domain, public_suffix, weight, alloc).
    """
    from pyspark.sql.window import Window

    d = domains.filter(F.col("registered_domain").isNotNull()).select(
        "registered_domain", "public_suffix",
        F.col("n_pages").cast("long").alias("weight"),
    )
    sfx = d.groupBy("public_suffix").agg(
        F.sum("weight").alias("s_w")
    )
    tot = sfx.agg(F.sum("s_w").alias("_tot"))
    lvl1 = sfx.crossJoin(F.broadcast(tot)).select(
        "public_suffix", "s_w",
        F.expr(f"({total_budget}L * s_w) div _tot").alias("_base"),
        F.expr(f"({total_budget}L * s_w) % _tot").alias("_rem"),
    )
    lvl1 = lvl1.select(
        "public_suffix", "s_w", "_base", "_rem",
        (F.lit(total_budget).cast("long")
         - F.sum("_base").over(
             Window.partitionBy())).alias("_left"),
        F.row_number().over(
            Window.orderBy(F.desc("_rem"), F.asc("public_suffix"))
        ).alias("_rk"),
    )
    lvl1 = lvl1.select(
        "public_suffix", "s_w",
        (F.col("_base")
         + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0))
        .cast("long").alias("s_budget"),
    )
    w2 = Window.partitionBy("public_suffix")
    joined = d.join(F.broadcast(lvl1), "public_suffix")
    lvl2 = joined.select(
        "registered_domain", "public_suffix", "weight", "s_budget",
        F.expr("(s_budget * weight) div s_w").alias("_base"),
        F.expr("(s_budget * weight) % s_w").alias("_rem"),
    )
    lvl2 = lvl2.select(
        "registered_domain", "public_suffix", "weight", "_base",
        (F.col("s_budget") - F.sum("_base").over(w2)).alias("_left"),
        F.row_number().over(
            w2.orderBy(F.desc("_rem"), F.asc("registered_domain"))
        ).alias("_rk"),
    )
    return lvl2.select(
        "registered_domain", "public_suffix", "weight",
        (F.col("_base")
         + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0))
        .cast("long").alias("alloc"),
    )


# ---------------------------------------------------------------------------
# mirror-host detection (Bharat & Broder '99)
# ---------------------------------------------------------------------------


def synthetic_mirror_pages(docs: DataFrame) -> DataFrame:
    """(host, url, text): pages over 64 base hosts (``host =
    doc_id % 64``) with deterministic 3-line bodies, PLUS mirror
    copies: every host ``h`` with ``h % 8 == 0`` is re-served as
    ``m{h}`` — an EXACT mirror when ``h % 16 == 0`` (every line
    identical) and a NEAR mirror otherwise (each mirrored page gains
    one extra footer line, so Jaccard < 1 but high) — the www2/CDN
    alias shape Bharat & Broder's mirror detection targets.  Base
    hosts that are not mirrored give the screen its non-firing
    population."""
    hid = (F.col("doc_id") % 64).cast("long")
    base_text = F.concat(
        F.lit("alpha line "), F.col("doc_id").cast("string"),
        F.lit("\nbeta line "), ((F.col("doc_id") * 7) % 1000)
        .cast("string"),
        F.lit("\ngamma line "), ((F.col("doc_id") * 13) % 1000)
        .cast("string"),
    )
    base = docs.select(
        F.concat(F.lit("h"), hid.cast("string"),
                 F.lit(".example.org")).alias("host"),
        F.concat(F.lit("https://h"), hid.cast("string"),
                 F.lit(".example.org/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        base_text.alias("text"),
        hid.alias("_hid"),
        F.col("doc_id").alias("_id"),
    )
    mirrored = base.filter((F.col("_hid") % 8) == 0).select(
        F.concat(F.lit("m"), F.col("_hid").cast("string"),
                 F.lit(".example.org")).alias("host"),
        F.concat(F.lit("https://m"), F.col("_hid").cast("string"),
                 F.lit(".example.org/p/"),
                 F.col("_id").cast("string")).alias("url"),
        F.when(
            (F.col("_hid") % 16) == 0, F.col("text")
        ).otherwise(
            F.concat(F.col("text"), F.lit("\nmirror footer "),
                     F.col("_id").cast("string"))
        ).alias("text"),
        F.col("_hid"), F.col("_id"),
    )
    return base.unionByName(mirrored).drop("_hid", "_id")


@scoped
def mirror_hosts(
    pages: DataFrame,
    sketch_k: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Mirror-host detection (Bharat & Broder, WWW '99): find host
    pairs serving (nearly) the same content — www2/CDN/alias mirrors
    that every crawl budget and link-graph statistic double-counts
    until they are folded.

    Pipeline: (1) distinct (host, line-md5) relation — content
    identity at the LINE grain, order- and URL-independent, so a
    mirror with different paths still matches; (2) per-host k-min
    sketch: the ``sketch_k`` smallest line hashes
    (``slice(array_sort(collect_set(..)))`` — set semantics make it
    deterministic on both engines); (3) banded candidate join: the
    sketch splits into ``k/band_size`` bands, hosts sharing any
    complete band pair up (incomplete trailing bands of small hosts
    are NOT emitted — an empty-band join would pair every small host
    with every other); (4) EXACT Jaccard verification of candidates
    over the full line relation, threshold in integer e6.

    Scale shape: the line relation is one distinct (hash exchange on
    (host, line)); the sketch one hash aggregate; the band join is
    sketch-grain (tiny); verification joins the line relation only
    for candidate hosts (semi-join pushdown through the candidate
    list), never all-pairs.  The final Jaccard arithmetic is integer
    (``common·10⁶ div (n_a + n_b − common)``).

    Output: (host_a, host_b, n_common, n_a, n_b, jaccard_e6), pairs
    with ``jaccard_e6 ≥ 500,000`` only, host_a < host_b.
    """
    lines = (
        pages.select(
            "host",
            F.explode(F.split(F.col("text"), "\n")).alias("_line"),
        )
        .filter(F.length(F.trim(F.col("_line"))) > 0)
        .select("host", F.md5(F.col("_line")).alias("line_h"))
        .distinct()
    )
    lines = materialize(lines, "persist")
    sizes = lines.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    sk = lines.groupBy("host").agg(
        F.slice(F.array_sort(F.collect_set("line_h")), 1, sketch_k)
        .alias("_sig")
    )
    n_bands = sketch_k // band_size
    bands = sk.select(
        "host",
        F.explode(
            F.filter(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice(F.col("_sig"), b * band_size + 1,
                                band_size).alias("vals"),
                    )
                    for b in range(n_bands)
                ]),
                lambda s: F.size(s["vals"]) == band_size,
            )
        ).alias("_b"),
    ).select(
        "host",
        F.col("_b.band").alias("band"),
        F.md5(F.concat_ws("|", F.col("_b.vals"))).alias("band_h"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_h") == F.col("b.band_h"))
               & (F.col("a.host") < F.col("b.host")))
        .select(F.col("a.host").alias("host_a"),
                F.col("b.host").alias("host_b"))
        .distinct()
    )
    la = lines.select(F.col("host").alias("host_a"),
                      F.col("line_h"))
    lb = lines.select(F.col("host").alias("host_b"),
                      F.col("line_h"))
    common = (
        cand.join(la, "host_a")
        .join(lb, ["host_b", "line_h"])
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        common
        .join(sizes.select(F.col("host").alias("host_a"),
                           F.col("n_lines").alias("n_a")), "host_a")
        .join(sizes.select(F.col("host").alias("host_b"),
                           F.col("n_lines").alias("n_b")), "host_b")
        .select(
            "host_a", "host_b", "n_common", "n_a", "n_b",
            F.expr("(n_common * 1000000L) div (n_a + n_b - n_common)")
            .cast("long").alias("jaccard_e6"),
        )
        .filter(F.col("jaccard_e6") >= 500_000)
    )
