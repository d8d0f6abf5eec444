"""WARC response-record synthesis + native parsing for Common-Crawl
style corpora.

Common Crawl ships pages as WARC/1.0 records (ISO 28500): a header
block of ``Name: value`` lines terminated by a blank line, then exactly
``Content-Length`` octets of payload. The first real step of every CC
pipeline is splitting that container back into (url, fetch time,
payload) — this module grades that step end-to-end:

* :func:`synthetic_warc_records` renders one deterministic response
  record per driver document (headers + the document text as payload),
  entirely with native column expressions, and stores it as the
  ``binary`` record column the input_hint prescribes for raw page
  bytes;
* :func:`parse_warc` recovers every header and the exact payload with
  native ``instr``/``substr``/``regexp_extract`` — ZERO shuffles, no
  Python, whole-stage codegen — and proves payload integrity two ways:
  ``octet_length(payload) == Content-Length`` and the payload md5.

The DuckDB oracle rebuilds the record string independently and
re-parses it with the same string functions, so the graded comparison
is a genuine double-parse, not a shared code path.

Scale shape: both directions are per-row maps that fuse into the scan;
at 10¹² records the only cost is the regex/byte arithmetic itself.
Real WARC files concatenate gzip members per record — that outer
framing is an IO concern for a custom DataSource; the record-splitting
semantics graded here are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import materialize, scoped
from ..operators.scale import spread_small_scan

#: Header terminator and block terminator, per ISO 28500.
CRLF = "\r\n"


def _warc_date(ts_sec) -> "F.Column":
    """ISO-8601 Zulu render of an epoch-seconds column (the session is
    pinned to UTC, so ``date_format`` is timezone-stable)."""
    return F.date_format(
        F.timestamp_seconds(ts_sec), "yyyy-MM-dd'T'HH:mm:ss'Z'"
    )


@scoped
def synthetic_warc_records(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, record): one WARC/1.0 response record per document —
    Target-URI from the shared synthetic url scheme, Date from the
    deterministic fetch clock, Record-ID from md5(doc_id), and the
    document's text as the payload with a correct octet
    Content-Length. NULL text renders as an empty payload (length 0),
    so the parser's integrity check still holds.

    Round 6: the built records are MATERIALIZED (eager local
    checkpoint) before being handed to a parser.  Fusing the builder's
    concat chain with the parse-side expressions into one stage
    overflows the JVM's 64 KB codegen method limit, and Spark falls
    back to INTERPRETED evaluation for the whole fused stage — the
    extraction funnel measured 2.7 s interpreted vs 0.5 s with the
    boundary cut (§1.4 A/B; the parse side alone compiles, pinned by
    TestHttpStage).  Materializing is also the honest harness shape:
    in production the records come off disk, so the parser never sees
    the builder's expressions in its stage."""
    from ..operators.webpages import _page_url

    payload = F.coalesce(F.col(text_col), F.lit(""))
    header = F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: response" + CRLF),
        F.lit("WARC-Target-URI: "), _page_url(F.col("doc_id")), F.lit(CRLF),
        F.lit("WARC-Date: "),
        _warc_date(F.lit(1735689600) + (F.col("doc_id") * 7919) % 8640000),
        F.lit(CRLF),
        F.lit("WARC-Record-ID: <urn:md5:"),
        F.md5(F.col("doc_id").cast("string")), F.lit(">" + CRLF),
        F.lit("Content-Type: application/http; msgtype=response" + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(payload).cast("string"), F.lit(CRLF),
    )
    out = docs.select(
        "doc_id",
        F.encode(F.concat(header, F.lit(CRLF), payload), "utf-8")
        .alias("record"),
    )
    return materialize(out, "local")


def parse_warc(
    records: DataFrame,
    with_payload: bool = False,
    extra_headers: tuple = (),
) -> DataFrame:
    """Split WARC records back into typed columns + payload integrity
    evidence.

    The header/payload boundary is the FIRST blank line (``instr`` +
    ``substr`` — a payload may legally contain blank lines itself, so
    no split-from-the-right); headers are pulled from the header block
    only. Output:

    (url, warc_type, warc_date_ts, content_length, payload_octets,
    length_ok, payload_md5)

    ``warc_date_ts`` is the parsed epoch (BIGINT, engine-exact);
    ``length_ok`` proves the declared Content-Length matches the
    recovered payload byte-for-byte, and ``payload_md5`` pins the
    payload bytes themselves. ``with_payload=True`` additionally keeps
    the recovered ``payload`` string so downstream stages (HTTP split,
    content extraction) can chain without re-cutting the record.
    ``extra_headers`` recovers additional named headers (snake_cased
    column names) in the same single pass — e.g. the revisit chain's
    ``WARC-Refers-To`` — empty string when absent, like every header
    here.
    """
    s = F.decode(F.col("record"), "UTF-8")
    cut = F.instr(s, CRLF + CRLF)
    head = F.substring(s, F.lit(1), cut - 1)
    payload = F.substr(s, cut + 4)

    def hdr(name: str) -> "F.Column":
        return F.regexp_extract(head, rf"{name}: ([^\r]+)", 1)

    out = records.select(
        hdr("WARC-Target-URI").alias("url"),
        hdr("WARC-Type").alias("warc_type"),
        F.unix_timestamp(
            hdr("WARC-Date"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        ).cast("long").alias("warc_date_ts"),
        hdr("Content-Length").cast("long").alias("content_length"),
        F.octet_length(payload).cast("long").alias("payload_octets"),
        F.md5(F.encode(payload, "utf-8")).alias("payload_md5"),
        *([payload.alias("payload")] if with_payload else []),
        *[
            hdr(name).alias(name.lower().replace("-", "_"))
            for name in extra_headers
        ],
    )
    return out.withColumn(
        "length_ok", F.col("payload_octets") == F.col("content_length")
    )


# ---------------------------------------------------------------------------
# Stage 2: the HTTP response message inside the WARC payload
# ---------------------------------------------------------------------------

#: Deterministic 404 body: a real (tiny) html page so the funnel's
#: content gate sees an actual document, not an empty string.
HTTP_ERROR_PAGE = "<html><body><p>Not Found</p></body></html>"


def synthetic_http_responses(docs: DataFrame) -> DataFrame:
    """(doc_id, http): one full HTTP/1.1 response message STRING per
    document — what a real WARC response record's payload is.

    Status by md5 nibble 7 (%8): 0-5 → 200 with the boilerplate-wrapped
    page html as body, 6 → 404 with :data:`HTTP_ERROR_PAGE`, 7 → 301
    with an empty body and a ``Location`` header. The Content-Type
    charset parameter is present/absent by nibble 8 (%2), so the
    charset extractor's NULL branch fires at every corpus size.
    Content-Length is the body's octet length (multi-byte text keeps
    the integrity check honest). Zero shuffles — one projection."""
    from ..operators.webpages import _nib, synthetic_html_pages

    pages = synthetic_html_pages(docs)
    h = F.md5(F.col("doc_id").cast("string"))
    m = _nib(h, 7) % 8
    status = (
        F.when(m <= 5, F.lit("200 OK"))
        .when(m == 6, F.lit("404 Not Found"))
        .otherwise(F.lit("301 Moved Permanently"))
    )
    body = (
        F.when(m <= 5, F.decode(F.col("html"), "UTF-8"))
        .when(m == 6, F.lit(HTTP_ERROR_PAGE))
        .otherwise(F.lit(""))
    )
    charset = F.when(
        _nib(h, 8) % 2 == 0, F.lit("; charset=utf-8")
    ).otherwise(F.lit(""))
    location = F.when(
        m == 7,
        F.concat(
            F.lit("Location: https://www.example.org/moved/"),
            F.col("doc_id").cast("string"), F.lit(CRLF),
        ),
    ).otherwise(F.lit(""))
    msg = F.concat(
        F.lit("HTTP/1.1 "), status, F.lit(CRLF),
        F.lit("Content-Type: text/html"), charset, F.lit(CRLF),
        location,
        F.lit("Content-Length: "),
        F.octet_length(F.encode(body, "utf-8")).cast("string"),
        F.lit(CRLF), F.lit(CRLF), body,
    )
    return pages.select(F.col("doc_id"), msg.alias("http"))


def synthetic_warc_http_records(docs: DataFrame) -> DataFrame:
    """(doc_id, record): WARC response records whose payload is a full
    HTTP response message — the real CC layering (WARC ⊃ HTTP ⊃ HTML).
    Composes :func:`synthetic_http_responses` through
    :func:`synthetic_warc_records`, which already takes any payload
    column."""
    return synthetic_warc_records(
        synthetic_http_responses(docs), text_col="http"
    )


def parse_http(responses: DataFrame) -> DataFrame:
    """Split HTTP/1.1 response messages into typed columns + body
    integrity evidence, preserving every other input column.

    Same byte arithmetic as :func:`parse_warc`: the header/body
    boundary is the FIRST blank line (a body may contain blank lines —
    or an entire embedded ``HTTP/1.1 …`` message — and must come back
    byte-identical); headers are matched in the header block only, so
    a header-shaped body line can never shadow a real header. Output
    adds (status, reason, content_type, charset, location,
    content_length, body_octets, length_ok, body_md5, body).

    ``charset``/``location`` are NULL when absent (the protocol's
    optional fields). ZERO shuffles, whole-stage codegen except the
    md5."""
    s = F.col("http")
    cut = F.instr(s, CRLF + CRLF)
    head = F.substring(s, F.lit(1), cut - 1)
    body = F.substr(s, cut + 4)

    def hdr(name: str) -> "F.Column":
        return F.regexp_extract(head, rf"{name}: ([^\r]+)", 1)

    keep = [c for c in responses.columns if c != "http"]
    out = responses.select(
        *keep,
        F.regexp_extract(head, r"^HTTP/1\.[01] (\d{3})", 1)
        .cast("int").alias("status"),
        F.regexp_extract(head, r"^HTTP/1\.[01] \d{3} ([^\r]+)", 1)
        .alias("reason"),
        F.nullif(
            F.regexp_extract(head, r"Content-Type: ([^;\r]+)", 1),
            F.lit(""),
        ).alias("content_type"),
        F.nullif(
            F.regexp_extract(head, r"charset=([^\r;]+)", 1), F.lit("")
        ).alias("charset"),
        F.nullif(hdr("Location"), F.lit("")).alias("location"),
        F.regexp_extract(head, r"Content-Length: (\d+)", 1)
        .cast("long").alias("content_length"),
        F.octet_length(F.encode(body, "utf-8")).cast("long")
        .alias("body_octets"),
        F.md5(F.encode(body, "utf-8")).alias("body_md5"),
        body.alias("body"),
    )
    return out.withColumn(
        "length_ok", F.col("body_octets") == F.col("content_length")
    )


def extract_main_from_warc(records: DataFrame) -> DataFrame:
    """The north-rule funnel over raw archive bytes, as ONE reusable
    composition: WARC record split → HTTP response split → status-200
    text/html gate → density main-content extraction.

    Every stage is a stateless per-row map (the two container cuts and
    the gate are whole-stage codegen; only (doc_id, url, html) cross
    the Arrow boundary), so the SAME function runs unmodified on a
    ``readStream`` of records — stream and backfill outputs are
    bit-identical by construction (pinned in tests/test_streaming).

    Output: (doc_id, url, main_text, kept_blocks).
    """
    from ..operators.webpages import main_content_pages

    w = parse_warc(records, with_payload=True)
    h = parse_http(w.select("url", F.col("payload").alias("http")))
    ok = h.filter(
        (F.col("status") == 200) & (F.col("content_type") == "text/html")
    )
    pages = ok.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "url",
        F.encode("body", "utf-8").alias("html"),
    )
    return main_content_pages(pages)


def wet_records(extracted: DataFrame) -> DataFrame:
    """(doc_id, record): WET-style ``WARC-Type: conversion`` records —
    the derived text format Common Crawl publishes next to its WARCs —
    rendered from extracted main content: Target-URI, the deterministic
    fetch-clock Date, a Refers-To id naming the source response record,
    ``Content-Type: text/plain`` and an octet-correct Content-Length
    over the extracted text payload.

    Pure native string render (zero shuffles, codegen); feeding the
    result back through :func:`parse_warc` proves the roundtrip
    (length_ok, payload_md5) — the graded ``wet_export`` query does
    exactly that, making the sink format verifiable, not just emitted.
    """
    payload = F.coalesce(F.col("main_text"), F.lit(""))
    header = F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: conversion" + CRLF),
        F.lit("WARC-Target-URI: "), F.col("url"), F.lit(CRLF),
        F.lit("WARC-Date: "),
        _warc_date(F.lit(1735689600) + (F.col("doc_id") * 7919) % 8640000),
        F.lit(CRLF),
        F.lit("WARC-Refers-To: <urn:md5:"),
        F.md5(F.col("doc_id").cast("string")), F.lit(">" + CRLF),
        F.lit("Content-Type: text/plain" + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(payload).cast("string"), F.lit(CRLF),
    )
    return extracted.select(
        "doc_id",
        F.encode(F.concat(header, F.lit(CRLF), payload), "utf-8")
        .alias("record"),
    )


def wat_records(pages: DataFrame) -> DataFrame:
    """(doc_id, record): WAT-style ``WARC-Type: metadata`` records —
    the link/metadata sidecar format Common Crawl publishes next to
    WARC and WET — rendered per page: a JSON payload
    ``{"envelope": {"uri", "record_id", "links", "links_count"}}``
    over the page's extracted outlinks (sorted, JSON-escaped by
    literal replace of ``\\`` and ``"`` — byte-congruent on both
    engines), wrapped with ``Content-Type: application/json`` and an
    octet-correct Content-Length.

    The JSON is built by CONCATENATION, not ``to_json``: serializer
    whitespace/key-order differences across engines would break byte
    parity, and the payload must be provably identical because the
    graded query re-parses it with real JSON-path functions on both
    sides.

    Scale shape: one (src_url) hash aggregate over the fused link
    flat-map, one url-keyed left join back to pages, then a pure
    native render — the join is page-vs-page-cardinality (never
    broadcast); everything else pipelines.
    """
    from ..operators.webpages import extract_links

    def esc(c) -> "F.Column":
        bs = "\\"
        return F.replace(
            F.replace(c, F.lit(bs), F.lit(bs + bs)),
            F.lit('"'), F.lit(bs + '"'),
        )

    links = (
        extract_links(pages)
        .groupBy(F.col("src_url").alias("url"))
        .agg(F.sort_array(F.collect_list("dst_url")).alias("_links"))
    )
    p = (
        pages.select("doc_id", "url")
        .join(links, "url", "left")
        .withColumn(
            "_arr",
            F.coalesce(F.col("_links"), F.array().cast("array<string>")),
        )
    )
    links_json = F.when(F.size("_arr") == 0, F.lit("[]")).otherwise(
        F.concat(
            F.lit('["'),
            F.array_join(F.transform(F.col("_arr"), esc), '","'),
            F.lit('"]'),
        )
    )
    payload = F.concat(
        F.lit('{"envelope":{"uri":"'), esc(F.col("url")),
        F.lit('","record_id":"urn:md5:'),
        F.md5(F.col("doc_id").cast("string")),
        F.lit('","links":'), links_json,
        F.lit(',"links_count":'), F.size("_arr").cast("string"),
        F.lit("}}"),
    )
    p = p.withColumn("_payload", payload)
    header = F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: metadata" + CRLF),
        F.lit("WARC-Target-URI: "), F.col("url"), F.lit(CRLF),
        F.lit("WARC-Date: "),
        _warc_date(F.lit(1735689600) + (F.col("doc_id") * 7919) % 8640000),
        F.lit(CRLF),
        F.lit("WARC-Refers-To: <urn:md5:"),
        F.md5(F.col("doc_id").cast("string")), F.lit(">" + CRLF),
        F.lit("Content-Type: application/json" + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(F.col("_payload")).cast("string"), F.lit(CRLF),
    )
    return p.select(
        "doc_id",
        F.encode(
            F.concat(header, F.lit(CRLF), F.col("_payload")), "utf-8"
        ).alias("record"),
    )


def synthetic_digest_store(docs: DataFrame) -> DataFrame:
    """(url, seen_md5, orig_id, orig_ts): the previous crawl's payload
    digests — the store CC-style dedup consults before writing a new
    response record.  Coverage and staleness are md5-nibble planted:
    the prior crawl saw docs with nibble-5 even; of those, content is
    UNCHANGED (digest equals the current payload's) when nibble-6 is
    even, else the stored digest is of the old payload (current fetch
    must re-emit a full response)."""
    from ..operators.webpages import _nib, _page_url

    docs = spread_small_scan(docs, "doc_id")
    h = F.md5(F.col("doc_id").cast("string"))
    cur = F.coalesce(F.col("text"), F.lit(""))
    old = F.concat(cur, F.lit(" [stale revision]"))
    return (
        docs.filter(_nib(h, 5) % 2 == 0)
        .select(
            _page_url(F.col("doc_id")).alias("url"),
            F.when(_nib(h, 6) % 2 == 0, F.md5(F.encode(cur, "utf-8")))
            .otherwise(F.md5(F.encode(old, "utf-8")))
            .alias("seen_md5"),
            F.concat(
                F.lit("<urn:md5:"),
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit(":prev"))),
                F.lit(">"),
            ).alias("orig_id"),
            (F.lit(1735603200) + (F.col("doc_id") * 7919) % 8640000)
            .alias("orig_ts"),
        )
    )


def revisit_records(
    fetches: DataFrame, store: DataFrame
) -> DataFrame:
    """Archive-side deduplication at the WARC layer (the
    ``WARC-Type: revisit`` / ``identical-payload-digest`` mechanism
    Common Crawl itself uses): a fetch whose payload digest matches
    the digest store emits a REVISIT record — empty payload,
    ``WARC-Profile``, ``WARC-Refers-To`` + ``WARC-Refers-To-Date``
    naming the original capture — while new urls and changed content
    emit full response records.  The storage saving IS the empty
    payload; the provenance chain IS the Refers-To pair.

    Scale shape: ONE left equi-join of the fetch table against the
    digest store on url (both sides hash-partition on the same key —
    the store is crawl-scale, never broadcast), then a pure native
    record render; zero additional shuffles.

    Input: fetches (doc_id, url, text); store (url, seen_md5,
    orig_id, orig_ts).  Output: (doc_id, record BINARY).
    """
    from ..operators.webpages import _page_url  # noqa: F401 (doc xref)

    cur = F.coalesce(F.col("text"), F.lit(""))
    j = fetches.join(store, "url", "left")
    is_revisit = F.col("seen_md5").isNotNull() & (
        F.col("seen_md5") == F.md5(F.encode(cur, "utf-8"))
    )
    payload = F.when(is_revisit, F.lit("")).otherwise(cur)
    header = F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: "),
        F.when(is_revisit, F.lit("revisit")).otherwise(
            F.lit("response")
        ),
        F.lit(CRLF),
        F.lit("WARC-Target-URI: "), F.col("url"), F.lit(CRLF),
        F.lit("WARC-Date: "),
        _warc_date(F.lit(1735689600) + (F.col("doc_id") * 7919)
                   % 8640000),
        F.lit(CRLF),
        F.lit("WARC-Record-ID: <urn:md5:"),
        F.md5(F.col("doc_id").cast("string")), F.lit(">" + CRLF),
        F.when(
            is_revisit,
            F.concat(
                F.lit("WARC-Profile: http://netpreserve.org/warc/1.0/"
                      "revisit/identical-payload-digest" + CRLF),
                F.lit("WARC-Refers-To: "), F.col("orig_id"),
                F.lit(CRLF),
                F.lit("WARC-Refers-To-Date: "),
                _warc_date(F.col("orig_ts")), F.lit(CRLF),
                F.lit("WARC-Payload-Digest: md5:"),
                F.col("seen_md5"), F.lit(CRLF),
            ),
        ).otherwise(F.lit("")),
        F.lit("Content-Type: application/http; msgtype=response"
              + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(payload).cast("string"), F.lit(CRLF),
    )
    return j.select(
        F.col("doc_id"),
        F.encode(F.concat(header, F.lit(CRLF), payload), "utf-8")
        .alias("record"),
    )
