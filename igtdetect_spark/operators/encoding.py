"""Charset sniffing + decoding for raw page bytes (``html: binary``).

Common Crawl is NOT all UTF-8: a long tail of pages arrives as
ISO-8859-1 / windows-1252 (and server headers routinely lie), so a
pipeline that blindly ``decode(html, 'utf-8')``-s corrupts or drops
that tail. This module implements the standard sniffing cascade —

1. **UTF-8 BOM** (``EF BB BF``) wins outright;
2. else a ``charset=`` declaration in the first KB of bytes (the HTML5
   prescan: the ``<meta>`` region is ASCII, so a byte-preserving
   ISO-8859-1 view is safe to regex regardless of the page's real
   encoding);
3. else a configurable default (``utf-8`` — the modern-web prior).

— and decodes through the matching charset, entirely with native
column expressions: NO Python in the path, whole-stage codegen, zero
shuffles. Spark 4's ``decode(…, 'UTF-8')`` is STRICT (raises
``MALFORMED_CHARACTER_CODING`` on a single bad byte — at 10¹² pages a
poison byte must never cost a task retry loop), so the utf-8 path
never calls it: bytes are validated with ``try_validate_utf8`` (NULL
on invalid) and invalid pages fall back to the ISO-8859-1 decode —
the web's classic "not valid UTF-8 ⇒ treat as latin-1" repair
heuristic (what ftfy/UnicodeDammit do), flagged in the output as
``utf8_fallback``. The latin-1 decode is total (every byte maps to a
code point), so the whole operator is exception-free by construction
(pinned on hostile bytes in ``tests/test_encoding.py``).

Alias normalization covers the declarations that actually occur at
crawl scale (``latin1``/``iso8859-1`` → iso-8859-1, ``cp1252``/
``win-1252`` → windows-1252, ``us-ascii`` → utf-8 superset, unknown →
default), mirroring what ftfy/BeautifulSoup's UnicodeDammit do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import spread_small_scan

#: UTF-8 byte-order mark.
UTF8_BOM = bytes([0xEF, 0xBB, 0xBF])

#: Declared-label → canonical charset. Unknown labels fall back to the
#: default: a crawl pipeline must never fail on a bogus declaration.
CHARSET_ALIASES = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "ascii": "utf-8",       # ASCII is a UTF-8 subset
    "us-ascii": "utf-8",
    "iso-8859-1": "iso-8859-1",
    "iso8859-1": "iso-8859-1",
    "latin1": "iso-8859-1",
    "latin-1": "iso-8859-1",
    "l1": "iso-8859-1",
    "windows-1252": "windows-1252",
    "win-1252": "windows-1252",
    "cp1252": "windows-1252",
}

#: windows-1252 differs from ISO-8859-1 ONLY in bytes 0x80-0x9F (the
#: C1 control range), and Spark 4 whitelists its codecs to a small set
#: that has ISO-8859-1 but not cp1252 — so cp1252 is implemented as the
#: latin-1 decode plus one native ``translate`` of those 32 characters.
#: The mapping is the WHATWG encoding-standard table: the five bytes
#: cp1252 leaves undefined (0x81 8D 8F 90 9D) pass through as C1
#: controls, exactly what browsers do (Python's strict cp1252 codec
#: would raise; parity vs WHATWG is pinned in tests).
CP1252_FROM = "".join(chr(b) for b in range(0x80, 0xA0))


def _whatwg_cp1252() -> str:
    out = []
    for b in range(0x80, 0xA0):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


CP1252_TO = _whatwg_cp1252()


def declared_charset(html, probe_bytes: int = 1024) -> "F.Column":
    """The raw ``charset=`` label declared in the first ``probe_bytes``
    of a binary html column (lowercased), or NULL when absent.

    The probe decodes the prefix as ISO-8859-1 — a byte-PRESERVING
    view (every byte maps to exactly one code point), so the ASCII
    ``<meta charset=…>`` region is found intact no matter what the
    page's true encoding is. Matches both the HTML5 form
    (``charset="x"``) and the legacy http-equiv form
    (``content="text/html; charset=x"``)."""
    probe = F.decode(F.substring(html, 1, probe_bytes), "ISO-8859-1")
    raw = F.regexp_extract(
        probe, r"""charset=["']?([A-Za-z0-9_\-]+)""", 1
    )
    return F.nullif(F.lower(raw), F.lit(""))


def sniff_charset(html, default: str = "utf-8") -> "F.Column":
    """Canonical charset for a binary html column via the sniffing
    cascade (BOM → declaration → ``default``), as one native CASE
    expression. Unknown declared labels normalize to ``default``."""
    declared = declared_charset(html)
    mapped = None
    for label, canon in CHARSET_ALIASES.items():
        cond = declared == F.lit(label)
        mapped = (
            F.when(cond, F.lit(canon))
            if mapped is None
            else mapped.when(cond, F.lit(canon))
        )
    mapped = mapped.otherwise(F.lit(default))
    return F.when(
        F.substring(html, 1, 3) == F.lit(UTF8_BOM), F.lit("utf-8")
    ).otherwise(mapped)


def decode_html(
    pages: DataFrame,
    html_col: str = "html",
    default: str = "utf-8",
) -> DataFrame:
    """Add ``(declared, charset, bom, utf8_fallback, text_decoded)`` to
    a page table: sniff each page's charset from its raw bytes and
    decode through the matching charset, stripping a leading U+FEFF
    left by a BOM.

    Pure projection — zero shuffles, no Python, and exception-free by
    construction: the utf-8 branch is ``try_validate_utf8`` (NULL on
    malformed bytes, never a raise) with an ISO-8859-1 fallback
    (``utf8_fallback = true`` on those rows); windows-1252 is the
    latin-1 decode + the :data:`CP1252_TO` translate; the latin-1
    decode itself is total."""
    html = F.col(html_col)
    cs = sniff_charset(html, default=default)
    latin1 = F.decode(html, "ISO-8859-1")
    utf8_ok = F.try_validate_utf8(html.cast("string"))
    branches = {
        "utf-8": F.coalesce(utf8_ok, latin1),
        "iso-8859-1": latin1,
        "windows-1252": F.translate(latin1, CP1252_FROM, CP1252_TO),
    }
    decoded = None
    for canon, branch in branches.items():
        cond = cs == F.lit(canon)
        decoded = (
            F.when(cond, branch)
            if decoded is None
            else decoded.when(cond, branch)
        )
    decoded = decoded.otherwise(branches[default])
    bom = F.substring(html, 1, 3) == F.lit(UTF8_BOM)
    text = F.when(
        bom,
        # strip the BOM: 1 char off a validated utf-8 string, else 3
        # latin-1 chars (= 3 bytes) off the fallback view
        F.coalesce(
            F.substr(utf8_ok, F.lit(2)), F.substr(latin1, F.lit(4))
        ),
    ).otherwise(decoded)
    return pages.select(
        "*",
        declared_charset(html).alias("declared"),
        cs.alias("charset"),
        bom.alias("bom"),
        ((cs == F.lit("utf-8")) & utf8_ok.isNull())
        .alias("utf8_fallback"),
        text.alias("text_decoded"),
    )


# ---------------------------------------------------------------------------
# Synthetic mixed-encoding corpus (graded on both engines)
# ---------------------------------------------------------------------------

#: Non-ASCII body templates, chosen to be fully encodable in their
#: charset and to contain bytes that are INVALID UTF-8 (0xE9, 0xBD …)
#: so a blind utf-8 decode provably corrupts them.
LATIN1_BODY = ("Café entrée nº ", " ½ öl")          # é ½ ö º ∈ latin-1
WIN1252_BODY = ("€ deal “", "” – now")              # € “ ” – ∈ cp1252 only


def synthetic_encoded_pages(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, html): a deterministic mixed-encoding page corpus over
    the driver documents — every sniffing branch populated at any
    corpus size by md5 nibble 11 (%8):

    * 0-2 — utf-8 with ``<meta charset="utf-8">``, body = document text
    * 3   — utf-8, NO declaration (default branch)
    * 4   — utf-8 BOM, no declaration (BOM branch)
    * 5   — ISO-8859-1 declared as the ``latin1`` alias
    * 6   — ISO-8859-1 declared canonically
    * 7   — windows-1252 (body includes € and curly quotes — bytes that
      exist in cp1252 only)

    The non-utf-8 bodies are fixed templates + the decimal doc id (the
    document text itself is arbitrary Unicode and may not be latin-1
    encodable). The corpus text contains no ``charset=`` substring
    (checked), so the no-declaration branches are sniff-deterministic.
    """
    from .webpages import _nib

    docs = spread_small_scan(docs, id_col)
    h = F.md5(F.col(id_col).cast("string"))
    m = _nib(h, 11) % 8
    ident = F.col(id_col).cast("string")

    def page(meta: str, body) -> "F.Column":
        return F.concat(
            F.lit("<html><head>" + meta + "</head><body><p>"),
            body,
            F.lit("</p></body></html>"),
        )

    doc_body = F.coalesce(F.col(text_col), F.lit(""))
    latin_body = F.concat(
        F.lit(LATIN1_BODY[0]), ident, F.lit(LATIN1_BODY[1])
    )
    win_body = F.concat(
        F.lit(WIN1252_BODY[0]), ident, F.lit(WIN1252_BODY[1])
    )
    html = (
        F.when(
            m <= 2,
            F.encode(page('<meta charset="utf-8">', doc_body), "utf-8"),
        )
        .when(m == 3, F.encode(page("", doc_body), "utf-8"))
        .when(
            m == 4,
            F.concat(
                F.lit(UTF8_BOM), F.encode(page("", doc_body), "utf-8")
            ),
        )
        .when(
            m == 5,
            F.encode(
                page('<meta charset="latin1">', latin_body), "ISO-8859-1"
            ),
        )
        .when(
            m == 6,
            F.encode(
                page('<meta charset="iso-8859-1">', latin_body),
                "ISO-8859-1",
            ),
        )
        .otherwise(
            # cp1252 ENCODE via the inverse translate + latin-1 encode
            # (Spark 4 whitelists codecs; see CP1252_FROM/TO)
            F.encode(
                F.translate(
                    page('<meta charset="windows-1252">', win_body),
                    CP1252_TO, CP1252_FROM,
                ),
                "ISO-8859-1",
            )
        )
    )
    return docs.select(F.col(id_col).alias("doc_id"), html.alias("html"))

# ---------------------------------------------------------------------------
# MIME sniffing by magic bytes (payload routing for mixed-media archives)
# ---------------------------------------------------------------------------

#: Magic-byte prefixes → MIME type, matched against the UPPERCASE hex
#: of the payload head (both engines' ``hex()`` is uppercase). Order
#: matters only for readability — the prefixes are mutually exclusive.
MAGIC_PREFIXES = (
    ("255044462D", "application/pdf"),          # %PDF-
    ("89504E470D0A1A0A", "image/png"),
    ("474946383761", "image/gif"),              # GIF87a
    ("474946383961", "image/gif"),              # GIF89a
    ("FFD8FF", "image/jpeg"),
    ("1F8B", "application/gzip"),
    ("504B0304", "application/zip"),
)

#: Payload-kind cycle for the synthetic builder (md5 nibbles 14-15 % 9).
#: "bin" is a magic-less NUL-bearing stream — the octet-stream branch.
_PAYLOAD_KINDS = (
    "html", "pdf", "png", "gif", "jpeg", "gzip", "zip", "bin", "text"
)
_KIND_MAGIC = {
    "pdf": "255044462D312E34",                   # %PDF-1.4
    "png": "89504E470D0A1A0A",
    "gif": "474946383961",
    "jpeg": "FFD8FFE0",
    "gzip": "1F8B0800",
    "zip": "504B030414",
}


def synthetic_payloads(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, payload): a deterministic mixed-media binary column over
    the driver documents — md5 nibbles 14-15 (%9) pick the payload kind
    (html / pdf / png / gif / jpeg / gzip / zip / magic-less binary /
    plain text), the body is the document text reduced to printable
    ASCII (identically regexable on both engines; binary kinds embed a
    NUL byte after the magic like real compressed/image streams do).
    Every sniffing branch — including octet-stream — is populated at
    any corpus size."""
    from .webpages import _nib

    h = F.md5(F.col(id_col).cast("string"))
    m = (_nib(h, 14) * 16 + _nib(h, 15)) % 9
    body = F.encode(
        F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")),
                         r"[^ -~]", ""),
        "utf-8",
    )
    payload = F.when(
        m == 0,
        F.concat(F.encode(F.lit("<!DOCTYPE html><html><body>"), "utf-8"),
                 body),
    )
    for i, kind in enumerate(_PAYLOAD_KINDS[1:7], start=1):
        payload = payload.when(
            m == i,
            F.concat(F.unhex(F.lit(_KIND_MAGIC[kind])),
                     F.unhex(F.lit("00")), body),
        )
    payload = payload.when(
        m == 7, F.concat(F.unhex(F.lit("0000")), body)  # kind 7: "bin"
    ).otherwise(body)  # kind 8: bare printable text
    return docs.select(
        F.col(id_col).alias("doc_id"), payload.alias("payload")
    )


def mime_sniff(
    df: DataFrame, payload_col: str = "payload", probe_bytes: int = 1024
) -> DataFrame:
    """Route raw archive payloads by content, not by the server's
    (routinely wrong) Content-Type header: magic-byte dispatch over the
    first bytes — PDF / PNG / GIF / JPEG / gzip / zip — then an HTML
    tag probe, then the text-vs-binary NUL heuristic (``file(1)`` /
    WHATWG mimesniff order).

    All decisions run on the UPPERCASE hex of a bounded payload head
    (cross-engine exact; the NUL scan anchors byte pairs with
    ``^([0-9A-F]{2})*?00`` so an ``F0 0F`` sequence can never
    false-positive across a byte boundary) plus a byte-preserving
    ISO-8859-1 view for the tag probe. Pure native expressions, ZERO
    shuffles — at 10¹² records this fuses into the archive scan.

    Output: (doc_id, mime, magic_hex, payload_len, is_binary).
    """
    payload = F.col(payload_col)
    head = F.hex(F.substring(payload, 1, probe_bytes))
    # WHATWG mimesniff skips leading 0x09/0A/0C/0D/20 — exactly RE2's
    # \s, which the DuckDB oracle spells; Java's \s ALSO matches \x0b
    # (off-spec and engine-divergent — the layout_columns lesson), so
    # the class is written out.  Unreachable on the graded builder
    # (non-printables stripped at page build), reachable on raw
    # payloads.
    tag_probe = F.regexp_replace(
        F.lower(F.decode(F.substring(payload, 1, 64), "ISO-8859-1")),
        "^[ \t\n\f\r]+", "",
    )
    has_nul = head.rlike(r"^([0-9A-F]{2})*?00")
    mime = None
    for prefix, mt in MAGIC_PREFIXES:
        cond = head.startswith(F.lit(prefix))
        mime = (
            F.when(cond, F.lit(mt))
            if mime is None
            else mime.when(cond, F.lit(mt))
        )
    mime = (
        mime.when(
            tag_probe.startswith(F.lit("<!doctype html"))
            | tag_probe.startswith(F.lit("<html")),
            F.lit("text/html"),
        )
        .when(has_nul, F.lit("application/octet-stream"))
        .otherwise(F.lit("text/plain"))
    )
    return df.select(
        "doc_id",
        mime.alias("mime"),
        F.hex(F.substring(payload, 1, 8)).alias("magic_hex"),
        F.octet_length(payload).cast("long").alias("payload_len"),
        has_nul.alias("is_binary"),
    )
