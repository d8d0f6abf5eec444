"""Charset sniff + decode (operators/encoding.py)."""

import hashlib

from pyspark.sql import functions as F

from igtdetect_spark.operators.encoding import (
    CP1252_FROM,
    CP1252_TO,
    UTF8_BOM,
    decode_html,
    synthetic_encoded_pages,
)


def _decode(spark, raw_pages):
    """Run decode_html over literal (id, bytes) rows."""
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in raw_pages],
        "doc_id long, html binary",
    )
    return {r["doc_id"]: r for r in decode_html(df).collect()}


class TestSniffDecode:
    def test_driver_corpus_byte_and_text_parity(self, spark):
        """The builder's bytes and the decoder's text both match an
        independent Python model on every branch."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        texts = {
            r["doc_id"]: r["text"] or ""
            for r in docs.select("doc_id", "text").collect()
        }
        pages = synthetic_encoded_pages(docs)
        raw = {r["doc_id"]: bytes(r["html"]) for r in pages.collect()}
        got = {r["doc_id"]: r for r in decode_html(pages).collect()}
        seen = set()
        for i, t in texts.items():
            m = int(hashlib.md5(str(i).encode()).hexdigest()[10], 16) % 8
            seen.add(m)

            def pg(meta, body):
                return (
                    f"<html><head>{meta}</head><body><p>{body}"
                    f"</p></body></html>"
                )

            if m <= 2:
                s = pg('<meta charset="utf-8">', t)
                exp_bytes, cs, dec = s.encode(), "utf-8", "utf-8"
            elif m == 3:
                s = pg("", t)
                exp_bytes, cs, dec = s.encode(), "utf-8", None
            elif m == 4:
                s = pg("", t)
                exp_bytes, cs, dec = UTF8_BOM + s.encode(), "utf-8", None
            elif m in (5, 6):
                lbl = "latin1" if m == 5 else "iso-8859-1"
                s = pg(f'<meta charset="{lbl}">', f"Café entrée nº {i} ½ öl")
                exp_bytes = s.encode("iso-8859-1")
                cs, dec = "iso-8859-1", lbl
            else:
                s = pg('<meta charset="windows-1252">',
                       f"€ deal “{i}” – now")
                exp_bytes, cs, dec = s.encode("cp1252"), "windows-1252", \
                    "windows-1252"
            assert raw[i] == exp_bytes, (i, m)
            r = got[i]
            assert r["charset"] == cs, (i, m)
            assert r["declared"] == dec, (i, m)
            assert r["bom"] == (m == 4)
            assert r["utf8_fallback"] is False
            assert r["text_decoded"] == s, (i, m)
        assert seen == set(range(8)), "every branch must fire"

    def test_poison_bytes_never_raise_fall_back_to_latin1(self, spark):
        """Invalid UTF-8 under a utf-8 verdict must not kill the task:
        it decodes via the latin-1 fallback with utf8_fallback=true."""
        bad = b"<p>caf\xe9 raw latin-1, undeclared</p>"
        got = _decode(spark, [(1, bad), (2, b"fine ascii")])
        r = got[1]
        assert r["charset"] == "utf-8"       # sniff verdict (no meta)
        assert r["utf8_fallback"] is True
        assert r["text_decoded"] == bad.decode("iso-8859-1")
        assert got[2]["utf8_fallback"] is False
        assert got[2]["text_decoded"] == "fine ascii"

    def test_cp1252_whatwg_table(self, spark):
        """All 32 high bytes 0x80-0x9F decode per the WHATWG table —
        including the five undefined bytes passing through as C1
        controls (browser behavior; Python's strict codec raises)."""
        assert len(CP1252_FROM) == len(CP1252_TO) == 32
        body = bytes(range(0x80, 0xA0))
        page = b'<meta charset="cp1252">' + body
        got = _decode(spark, [(1, page)])[1]
        assert got["charset"] == "windows-1252"
        assert got["text_decoded"].endswith(CP1252_TO)
        # spot-pin the famous ones
        assert "€" in got["text_decoded"]      # 0x80 €
        assert "“" in got["text_decoded"]      # 0x93 “
        assert "\x8d" in got["text_decoded"]        # undefined passthrough

    def test_alias_normalization_and_probe_window(self, spark):
        cases = [
            (1, b'<meta charset="LATIN1">x'),
            (2, b'<meta charset="us-ascii">x'),
            (3, b'<meta http-equiv="Content-Type" '
                b'content="text/html; charset=cp1252">x'),
            (4, b'<meta charset="klingon-8">x'),     # unknown -> default
            (5, b" " * 2000 + b'<meta charset="latin1">x'),  # past probe
        ]
        got = _decode(spark, cases)
        assert got[1]["charset"] == "iso-8859-1"
        assert got[1]["declared"] == "latin1"        # lowercased
        assert got[2]["charset"] == "utf-8"
        assert got[3]["charset"] == "windows-1252"
        assert got[4]["charset"] == "utf-8"
        assert got[4]["declared"] == "klingon-8"
        assert got[5]["charset"] == "utf-8"          # declaration unseen
        assert got[5]["declared"] is None

    def test_bom_wins_over_declaration_and_strips(self, spark):
        page = UTF8_BOM + b'<meta charset="latin1">caf\xc3\xa9'
        got = _decode(spark, [(1, page)])[1]
        assert got["charset"] == "utf-8"
        assert got["bom"] is True
        assert got["text_decoded"] == '<meta charset="latin1">café'
        assert not got["text_decoded"].startswith("﻿")

    def test_zero_shuffle_python_free_plan(self, spark, no_spread):
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            decode_html(synthetic_encoded_pages(docs))
            ._jdf.queryExecution().executedPlan()
        )
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "MapInPandas" not in plan, plan


# ---------------------------------------------------------------------------
# MIME magic-byte sniffing
# ---------------------------------------------------------------------------


class TestMimeSniff:
    def _sniff(self, spark, payloads):
        from igtdetect_spark.operators.encoding import mime_sniff

        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            "doc_id long, payload binary",
        )
        rows = mime_sniff(df).collect()
        return [r["mime"] for r in sorted(rows, key=lambda r: r["doc_id"])]

    def test_magic_dispatch(self, spark):
        cases = [
            (b"%PDF-1.7 rest", "application/pdf"),
            (b"\x89PNG\r\n\x1a\n....", "image/png"),
            (b"GIF87a..", "image/gif"),
            (b"GIF89a..", "image/gif"),
            (b"\xff\xd8\xff\xe1jfif", "image/jpeg"),
            (b"\x1f\x8b\x08\x00data", "application/gzip"),
            (b"PK\x03\x04zipdata", "application/zip"),
            (b"<!DOCTYPE html><html>", "text/html"),
            (b"  \t<HTML><body>", "text/html"),      # ltrim + case-fold
            (b"plain old text", "text/plain"),
            (b"text with \x00 nul", "application/octet-stream"),
        ]
        assert self._sniff(spark, [p for p, _ in cases]) == [
            m for _, m in cases
        ]

    def test_nul_scan_is_byte_aligned(self, spark):
        # 0xF0 0x0F hexes to 'F00F' — the '00' substring straddles the
        # byte boundary and must NOT read as a NUL byte
        assert self._sniff(spark, [b"x\xf0\x0fy"]) == ["text/plain"]
        # a real NUL at an odd byte offset still fires
        assert self._sniff(spark, [b"xyz\x00"]) == [
            "application/octet-stream"
        ]

    def test_probe_window_bounds_the_nul_scan(self, spark):
        # NUL beyond the 1 KiB probe is invisible (documented bound)
        assert self._sniff(spark, [b"a" * 1024 + b"\x00"]) == ["text/plain"]
        assert self._sniff(spark, [b"a" * 1023 + b"\x00"]) == [
            "application/octet-stream"
        ]

    def test_builder_populates_every_branch(self, spark):
        from pyspark.sql import functions as F

        from igtdetect_spark.operators.encoding import (
            mime_sniff,
            synthetic_payloads,
        )

        docs = spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            F.lit("some printable text").alias("text"),
        )
        got = {
            r["mime"]
            for r in mime_sniff(synthetic_payloads(docs))
            .select("mime").distinct().collect()
        }
        assert got == {
            "text/html", "application/pdf", "image/png", "image/gif",
            "image/jpeg", "application/gzip", "application/zip",
            "application/octet-stream", "text/plain",
        }

    def test_plan_zero_exchange_no_python(self, spark):
        from pyspark.sql import functions as F

        from igtdetect_spark.operators.encoding import (
            mime_sniff,
            synthetic_payloads,
        )

        docs = spark.range(0, 10).select(
            F.col("id").alias("doc_id"), F.lit("t").alias("text")
        )
        plan = str(
            mime_sniff(synthetic_payloads(docs))
            ._jdf.queryExecution().executedPlan()
        )
        assert "Exchange" not in plan
        for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert py not in plan
