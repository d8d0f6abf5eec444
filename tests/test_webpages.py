"""URL canonicalization + freshest-crawl dedup (operators/webpages)."""

import pytest
from pyspark.sql import functions as F

from igtdetect_spark.operators.webpages import (
    canonical_url,
    synthetic_page_urls,
    url_dedup,
)


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [
        r["c"] for r in df.select(canonical_url(F.col("url")).alias("c"))
        .collect()
    ]


class TestCanonicalUrl:
    def test_each_rule(self, spark):
        cases = {
            # fragment stripped
            "https://a.org/x#sec": "https://a.org/x",
            # scheme folded
            "http://a.org/x": "https://a.org/x",
            # www stripped
            "https://www.a.org/x": "https://a.org/x",
            # default ports stripped (80 folds via the scheme rewrite)
            "https://a.org:443/x": "https://a.org/x",
            "http://a.org:80/x": "https://a.org/x",
            # NON-default port survives
            "https://a.org:8443/x": "https://a.org:8443/x",
            # tracking params dropped, survivors sorted
            "https://a.org/x?utm_source=rss&b=2&a=1":
                "https://a.org/x?a=1&b=2",
            "https://a.org/x?fbclid=22&gclid=1": "https://a.org/x",
            # param ORDER is not identity
            "https://a.org/x?b=2&a=1": "https://a.org/x?a=1&b=2",
            # trailing slash stripped
            "https://a.org/x/": "https://a.org/x",
            "https://a.org/": "https://a.org",
            # everything at once
            "http://www.a.org:80/x/?utm_campaign=z&id=3#f":
                "https://a.org/x?id=3",
        }
        got = _canon(spark, list(cases))
        assert got == list(cases.values())

    def test_distinct_resources_stay_distinct(self, spark):
        urls = [
            "https://a.org/x?id=1",
            "https://a.org/x?id=2",
            "https://a.org/x",
            "https://b.org/x",
            "https://a.org/y",
        ]
        assert len(set(_canon(spark, urls))) == 5


class TestUrlDedup:
    def test_latest_fetch_wins_ties_on_smallest_id(self, spark):
        pages = spark.createDataFrame(
            [
                (1, "http://www.a.org/p?utm_source=x", 100),
                (2, "https://a.org/p/", 300),          # latest → kept
                (3, "https://a.org/p#frag", 200),
                (7, "https://b.org/q", 50),            # ts tie group:
                (5, "http://b.org/q", 50),             #   id 5 kept
                (9, "https://c.org/solo", 10),
            ],
            "doc_id long, url string, fetch_ts_sec long",
        )
        got = {
            r["canonical_url"]: (
                r["n_variants"], r["kept_doc_id"], r["latest_ts_sec"]
            )
            for r in url_dedup(pages).collect()
        }
        assert got == {
            "https://a.org/p": (3, 2, 300),
            "https://b.org/q": (2, 5, 50),
            "https://c.org/solo": (1, 9, 10),
        }

    def test_synthetic_urls_exercise_every_rule(self, spark):
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        pages = synthetic_page_urls(docs)
        urls = [r["url"] for r in pages.collect()]
        assert any("#frag" in u for u in urls)
        assert any("www." in u for u in urls)
        assert any("utm_" in u for u in urls)
        assert any(":443" in u or ":80" in u for u in urls)
        assert any(u.startswith("http://") for u in urls)
        # distinct fetch timestamps → "latest" is well-defined
        ts = [r["fetch_ts_sec"] for r in pages.collect()]
        assert len(set(ts)) == len(ts)
        # raw URLs genuinely collapse
        out = url_dedup(pages)
        assert out.filter("n_variants > 1").count() > 0

    def test_plan_single_exchange_no_python(self, spark, no_spread):
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            url_dedup(synthetic_page_urls(docs))
            ._jdf.queryExecution().executedPlan()
        )
        # canonicalization fuses into the scan; the dedup is ONE hash
        # aggregate exchange — no window sort, no join, no Python.
        assert plan.count("Exchange") == 1, plan
        assert "Window" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "BatchEvalPython" not in plan, plan


class TestHtmlExtract:
    """Main-content extraction over boilerplate-wrapped synthetic pages
    (the north-rule HTML-strip stage: byte-identical text per url)."""

    def _pages(self, spark):
        from igtdetect_spark.operators.webpages import synthetic_html_pages

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        return docs, synthetic_html_pages(docs)

    def test_extract_matches_python_model_byte_identical(self, spark):
        """Every page's extracted text equals the provable expected
        value: kept document block (rstrip, density-gated) + constant
        trailer — and both keep/drop branches fire on the corpus."""
        import re

        from igtdetect_spark.operators.webpages import (
            ARTICLE_TRAILER,
            main_content_pages,
        )
        from igtdetect_spark.segmentation import _EN_STOP_SMALL

        docs, pages = self._pages(spark)
        out = {r["doc_id"]: r for r in main_content_pages(pages).collect()}
        src = {
            r["doc_id"]: r["text"]
            for r in docs.select("doc_id", "text").collect()
        }
        ws = " \t\n\r\x0b\x0c"
        n_keep = 0
        for doc_id, text in src.items():
            t = (
                (text or "")
                .replace("\n", " ")
                .replace("\x02", " ")
                .replace("\x03", " ")
            )
            vis = t.rstrip(ws)
            toks = [x.lower() for x in re.findall(r"[A-Za-z']+", vis)]
            keep = (
                len(vis.strip(ws)) >= 25
                and any(x in _EN_STOP_SMALL for x in toks)
            )
            exp = (
                vis + "\n\n" + ARTICLE_TRAILER if keep else ARTICLE_TRAILER
            )
            r = out[doc_id]
            assert r["main_text"] == exp, doc_id
            assert r["kept_blocks"] == (2 if keep else 1), doc_id
            n_keep += keep
        assert 0 < n_keep < len(src)  # both branches exercised

    def test_page_table_matches_input_hint_shape(self, spark):
        """(url, warc_ts, html, text, lang) — the BASELINE input_hint
        page-table schema, with html as a real binary column."""
        _, pages = self._pages(spark)
        schema = dict(
            (f.name, f.dataType.simpleString()) for f in pages.schema
        )
        assert schema["url"] == "string"
        assert schema["warc_ts"] == "timestamp"
        assert schema["html"] == "binary"
        assert schema["text"] == "string"
        assert schema["lang"] == "string"
        row = pages.limit(1).collect()[0]
        assert isinstance(row["html"], (bytes, bytearray))

    def test_boilerplate_never_survives(self, spark):
        from igtdetect_spark.operators.webpages import (
            ARTICLE_TRAILER,
            main_content_pages,
        )

        _, pages = self._pages(spark)
        for r in main_content_pages(pages).collect():
            assert "Home" not in r["main_text"]
            assert "Buy now" not in r["main_text"]
            assert "SiteCorp" not in r["main_text"]
            assert r["main_text"].endswith(ARTICLE_TRAILER)

    def test_kernel_hostile_inputs(self):
        """The production kernel (not the builder) on adversarial HTML:
        unclosed/nested anchors, raw sentinel bytes, entity bombs,
        whitespace-only blocks — no crash, boilerplate invariants hold."""
        from igtdetect_spark.segmentation import main_content_text

        long_kept = (
            "<p>This is a long enough paragraph with the usual words "
            "in it for the filter.</p>"
        )
        # unclosed anchor: anchor regex needs </a>, so the open tag is
        # simply stripped as a tag — text survives as non-link mass
        out = main_content_text(
            ("<div><a href='/x'>dangling " + long_kept).encode()
        )
        assert "usual words" in out
        # raw \x02/\x03 bytes in the wild page must not corrupt the
        # link-mass accounting into dropping real content
        out = main_content_text(
            ("<p>\x02\x03</p>" + long_kept).encode()
        )
        assert "usual words" in out
        # entity bomb + nested anchors in a link farm block
        out = main_content_text(
            (
                "<nav><a href='/a'><a href='/b'>x</a></a>&amp;&lt;</nav>"
                + long_kept
            ).encode()
        )
        assert "usual words" in out
        assert "x" not in out.split("usual")[0].split()  # farm dropped
        # whitespace-only and empty pages
        assert main_content_text(b"") == ""
        assert main_content_text(b"<p>   </p><div>\t</div>") == ""

    def test_plan_zero_exchange_arrow_batched_pruned(self, spark, no_spread):
        """ONE Arrow-batched map over the scan: no shuffle anywhere, and
        column pruning keeps lang/text companions out of the scan."""
        from igtdetect_spark.operators.webpages import (
            main_content_pages,
        )

        _, pages = self._pages(spark)
        plan = str(
            main_content_pages(pages)._jdf.queryExecution().executedPlan()
        )
        assert "Exchange" not in plan, plan
        assert "MapInPandas" in plan, plan
        read = plan.split("ReadSchema")[-1]
        assert "lang" not in read, read
        assert "n_chars" not in read, read


class TestHtmlStrip:
    """Plain boilerplate strip: ALL visible text, byte-identical."""

    def test_strip_matches_python_model_byte_identical(self, spark):
        import hashlib

        from igtdetect_spark.operators.webpages import (
            ARTICLE_TRAILER,
            strip_html_pages,
            synthetic_html_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        out = strip_html_pages(synthetic_html_pages(docs)).collect()
        src = {
            r["doc_id"]: r["text"]
            for r in docs.select("doc_id", "text").collect()
        }
        nav_variants = ("HomeNews", "HomeNewsTags", "HomeNewsTagsRSS")
        ws = " \t\n\r\x0b\x0c"
        for r in out:
            h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
            vis = (
                (src[r["doc_id"]] or "")
                .replace("\n", " ")
                .replace("\x02", " ")
                .replace("\x03", " ")
                .rstrip(ws)
            )
            blocks = [nav_variants[int(h[9], 16) % 3], "Buy nowWin big"]
            if vis:
                blocks.append(vis)
            blocks += [ARTICLE_TRAILER, "ContactLegalSiteCorp 2026"]
            exp = "\n\n".join(blocks)
            assert r["text_full"] == exp, r["doc_id"]
            assert r["n_chars"] == len(exp), r["doc_id"]

    def test_strip_supersets_extract(self, spark):
        """Density extraction is a block-subsequence of the plain strip:
        every extracted block appears verbatim in the stripped text, and
        the boilerplate distinguishes the two modes."""
        from igtdetect_spark.operators.webpages import (
            main_content_pages,
            strip_html_pages,
            synthetic_html_pages,
        )

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(50)
        )
        pages = synthetic_html_pages(docs)
        stripped = {
            r["doc_id"]: r["text_full"]
            for r in strip_html_pages(pages).collect()
        }
        for r in main_content_pages(pages).collect():
            full = stripped[r["doc_id"]]
            for block in r["main_text"].split("\n\n"):
                assert block in full.split("\n\n"), r["doc_id"]
            assert "HomeNews" in full
            assert "HomeNews" not in r["main_text"]
            assert len(full) > len(r["main_text"])


class TestLinkGraph:
    """Native href extraction + in-degree over synthetic linked pages."""

    def _graph(self, spark):
        from igtdetect_spark.operators.webpages import (
            link_graph,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        return docs, synthetic_linked_pages(docs), link_graph

    def test_edges_match_hand_model_and_conserve(self, spark):
        import hashlib

        from igtdetect_spark.operators.webpages import extract_links

        docs, pages, link_graph = self._graph(spark)
        def page_url(i):
            site = int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) % 4
            return f"https://site{site}.example.org/p/{i}"

        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        exp_edges = set()
        for i in ids:
            h = hashlib.md5(str(i).encode()).hexdigest()
            k = 1 + int(h[1], 16) % 3
            for j in range(1, k + 1):
                t = (i * 31 + j * 97) % 256
                dst = (
                    f"https://ext{t}.example.net/" if j == 3
                    else page_url(t)
                )
                exp_edges.add((page_url(i), dst))
        got = extract_links(pages).collect()
        assert len(got) == len(exp_edges)
        assert {
            (r["src_url"], r["dst_url"]) for r in got
        } == exp_edges
        out = link_graph(pages).collect()
        assert sum(r["in_degree"] for r in out) == len(exp_edges)
        # the synthetic web has both internal pages and dangling targets
        assert any(r["is_internal"] for r in out)
        assert any(not r["is_internal"] for r in out)
        # n_src <= in_degree (multi-edges from one page collapse)
        assert all(r["n_src"] <= r["in_degree"] for r in out)

    def test_url_shard_matches_page_builder(self, spark):
        """Internal dst urls are EXACTLY the urls the page table itself
        carries — the md5 site-shard expression agrees everywhere."""
        docs, pages, link_graph = self._graph(spark)
        page_urls = {r["url"] for r in pages.select("url").collect()}
        for r in link_graph(pages).collect():
            assert (r["dst_url"] in page_urls) == r["is_internal"]

    def test_plan_is_native_no_python_no_cartesian(self, spark):
        docs, pages, link_graph = self._graph(spark)
        plan = str(
            link_graph(pages)._jdf.queryExecution().executedPlan()
        )
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "MapInPandas" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestAnchorText:
    """Anchor-text extraction + per-target profile."""

    def _hand_model(self, ids):
        import hashlib

        from igtdetect_spark.operators.webpages import ANCHOR_WORDS

        def page_url(i):
            s = int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) % 4
            return f"https://site{s}.example.org/p/{i}"

        anchors, edges = {}, []
        idset = set(ids)
        for i in ids:
            h = hashlib.md5(str(i).encode()).hexdigest()
            k = 1 + int(h[1], 16) % 3
            for j in range(1, k + 1):
                t = (i * 31 + j * 97) % 256
                dst = (f"https://ext{t}.example.net/" if j == 3
                       else page_url(t))
                anchors.setdefault(dst, []).append(
                    f"{ANCHOR_WORDS[(i + j) % 5]} {t}")
                if j < 3 and t in idset:
                    edges.append((i, t))
        return anchors, edges

    def test_profile_matches_hand_model(self, spark):
        from igtdetect_spark.operators.webpages import (
            anchor_text_profile,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        exp, _ = self._hand_model(ids)
        got = {
            r["dst_url"]: r
            for r in anchor_text_profile(
                synthetic_linked_pages(docs)
            ).collect()
        }
        assert set(got) == set(exp)
        for d, v in exp.items():
            assert got[d]["n_anchors"] == len(v)
            assert got[d]["anchors"] == sorted(set(v))
            assert got[d]["max_anchor_len"] == max(len(a) for a in v)

    def test_plan_native_single_exchange(self, spark):
        from igtdetect_spark.operators.webpages import (
            anchor_text_profile,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            anchor_text_profile(synthetic_linked_pages(docs))
            ._jdf.queryExecution().executedPlan()
        )
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "MapInPandas" not in plan, plan
        # the per-target aggregate is the only shuffle
        assert plan.count("Exchange") <= 2, plan  # incl. AQE read


class TestPagerank:
    """Integer-exact PageRank over the internal link graph."""

    def test_matches_integer_hand_model(self, spark):
        from collections import defaultdict

        from igtdetect_spark.operators.webpages import (
            pagerank,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        _, edges = TestAnchorText()._hand_model(ids)
        outdeg = defaultdict(int)
        for s, _d in edges:
            outdeg[s] += 1
        rank = {i: 1_000_000 for i in ids}
        for _ in range(3):
            new = {i: 150_000 for i in ids}
            for s, d in edges:
                new[d] += (rank[s] * 850_000) // (1_000_000 * outdeg[s])
            rank = new
        out = pagerank(synthetic_linked_pages(docs))
        got = {r["url"]: r for r in out.collect()}
        assert len(got) == len(ids)
        for u, r in got.items():
            i = int(u.rsplit("/", 1)[1])
            assert r["rank_e6"] == rank[i], u
            assert r["out_deg"] == outdeg.get(i, 0), u
        # rank mass: every node ≥ teleport; somebody accumulated more
        assert min(r["rank_e6"] for r in got.values()) >= 150_000
        assert max(r["rank_e6"] for r in got.values()) > 1_000_000
        from igtdetect_spark.operators.dedup import release_plan_caches

        # persisted edge relation plus one eager localCheckpoint per round
        assert release_plan_caches(out) == 1 + 3

    def test_plan_no_python_no_cartesian(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import (
            pagerank,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        out = pagerank(synthetic_linked_pages(docs))
        plan = str(out._jdf.queryExecution().executedPlan())
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        release_plan_caches(out)


class TestCrawlCadence:
    """Recrawl-gap profile per canonical URL."""

    def test_matches_url_dedup_grouping_and_gaps(self, spark):
        from igtdetect_spark.operators.webpages import (
            crawl_cadence,
            synthetic_page_urls,
            url_dedup,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        pages = synthetic_page_urls(docs)
        got = {r["canonical_url"]: r for r in crawl_cadence(pages).collect()}
        dd = {r["canonical_url"]: r for r in url_dedup(pages).collect()}
        assert set(got) == set(dd)
        for u, r in got.items():
            assert r["n_fetches"] == dd[u]["n_variants"]
            assert r["last_ts_sec"] == dd[u]["latest_ts_sec"]
            if r["n_fetches"] == 1:
                assert r["mean_gap_sec"] is None
                assert r["first_ts_sec"] == r["last_ts_sec"]
            else:
                span = r["last_ts_sec"] - r["first_ts_sec"]
                assert r["mean_gap_sec"] == span // (r["n_fetches"] - 1)

    def test_single_exchange_plan(self, spark):
        from igtdetect_spark.operators.webpages import (
            crawl_cadence,
            synthetic_page_urls,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            crawl_cadence(synthetic_page_urls(docs))
            ._jdf.queryExecution().executedPlan()
        )
        assert plan.count("Exchange") <= 2, plan  # agg (+ AQE read)
        assert "Window" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


class TestPageMetadata:
    """Title / robots-meta / rel=canonical extraction."""

    def test_hand_model(self, spark):
        import hashlib

        from igtdetect_spark.operators.webpages import (
            page_metadata,
            synthetic_meta_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]

        def page_url(i):
            s = int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) % 4
            return f"https://site{s}.example.org/p/{i}"

        got = {
            r["url"]: r
            for r in page_metadata(synthetic_meta_pages(docs)).collect()
        }
        assert len(got) == len(ids)
        seen = {"dir": set(), "canon": set()}
        for i in ids:
            h = hashlib.md5(str(i).encode()).hexdigest()
            r = got[page_url(i)]
            assert r["title"] == f"Doc {i}"
            m = int(h[3], 16) % 4
            exp_dir = [
                "index,follow", "noindex,follow", "noindex,nofollow",
                None,
            ][m]
            assert r["directive"] == exp_dir, (i, m)
            assert r["noindex"] == (m in (1, 2))
            assert r["nofollow"] == (m == 2)
            assert r["kept"] == (m not in (1, 2))
            c = int(h[4], 16) % 3
            if c == 0:
                assert r["canonical_href"] == page_url(i)
                assert r["self_canonical"] is True
            elif c == 1:
                assert r["canonical_href"] == page_url((i * 7 + 13) % 256)
                # cross-canonical unless the formula maps i to itself
                assert r["self_canonical"] == (
                    (i * 7 + 13) % 256 == i
                )
            else:
                assert r["canonical_href"] is None
                assert r["self_canonical"] is None
            seen["dir"].add(m)
            seen["canon"].add(c)
        # every branch fired at this corpus size
        assert seen["dir"] == {0, 1, 2, 3}
        assert seen["canon"] == {0, 1, 2}

    def test_zero_shuffle_native_plan(self, spark):
        from igtdetect_spark.operators.webpages import (
            page_metadata,
            synthetic_meta_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            page_metadata(synthetic_meta_pages(docs))
            ._jdf.queryExecution().executedPlan()
        )
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "MapInPandas" not in plan, plan


class TestRobotsFilter:
    """robots.txt disallow application (prefix semantics)."""

    def _result(self, spark):
        from igtdetect_spark.operators.webpages import (
            robots_filter,
            robots_rules_df,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        return robots_filter(
            synthetic_linked_pages(docs), robots_rules_df(spark)
        )

    def test_hand_model(self, spark):
        import hashlib

        from igtdetect_spark.operators.webpages import ROBOTS_RULES

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        got = {r["url"]: r for r in self._result(spark).collect()}
        assert len(got) == len(ids)
        branches = set()
        for i in ids:
            s = int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) % 4
            host = f"site{s}.example.org"
            path = f"/p/{i}"
            hits = sorted(
                d for h, d in ROBOTS_RULES
                if h == host and path.startswith(d)
            )
            r = got[f"https://{host}{path}"]
            assert r["host"] == host
            assert r["n_rules_matched"] == len(hits), (i, hits)
            assert r["matched_rule"] == (hits[-1] if hits else None)
            assert r["allowed"] == (not hits)
            branches.add((s, bool(hits)))
        # every host shard appears, and both allow/block outcomes fire
        # on the rule-bearing shards (site3 is block-all; site2 ruleless)
        assert {s for s, _ in branches} == {0, 1, 2, 3}
        assert (3, True) in branches and (2, False) in branches
        assert (0, True) in branches and (0, False) in branches

    def test_prefix_not_exact_match(self, spark):
        """'/p/1' must block /p/1, /p/10, /p/199 — protocol prefix
        semantics, not path equality."""
        from igtdetect_spark.operators.webpages import robots_filter

        pages = spark.createDataFrame(
            [("https://h.example/p/1",), ("https://h.example/p/10",),
             ("https://h.example/p/2",), ("https://h.example/q",)],
            "url string",
        )
        rules = spark.createDataFrame(
            [("h.example", "/p/1")], "host string, disallow string"
        )
        got = {
            r["url"]: r["allowed"]
            for r in robots_filter(pages, rules).collect()
        }
        assert got == {
            "https://h.example/p/1": False,
            "https://h.example/p/10": False,
            "https://h.example/p/2": True,
            "https://h.example/q": True,
        }

    def test_plan_broadcast_xor_shuffle(self, spark):
        plan = str(
            self._result(spark)._jdf.queryExecution().executedPlan()
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        # shuffle branch: force the bound to 0 — must drop the
        # broadcast entirely, never cartesian
        spark.conf.set("igtdetect.broadcastBoundBytes", "0")
        try:
            plan0 = str(
                self._result(spark)._jdf.queryExecution().executedPlan()
            )
        finally:
            spark.conf.unset("igtdetect.broadcastBoundBytes")
        assert "BroadcastHashJoin" not in plan0, plan0
        assert "ShuffledHashJoin" in plan0, plan0
        assert "CartesianProduct" not in plan0, plan0


class TestHostGraph:
    """Host-level rollup of the link graph."""

    def test_hand_model(self, spark):
        import hashlib
        from collections import defaultdict

        from igtdetect_spark.operators.webpages import (
            host_graph,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]

        def site(i):
            return (
                "site"
                + str(int(hashlib.md5(str(i).encode()).hexdigest()[0],
                          16) % 4)
                + ".example.org"
            )

        links, pages = defaultdict(int), defaultdict(set)
        for i in ids:
            k = 1 + int(hashlib.md5(str(i).encode()).hexdigest()[1],
                        16) % 3
            # NB: link count uses nibble 2 (index 1 of the hexdigest)
            for j in (1, 2, 3):
                if j > k:
                    continue
                tgt = (i * 31 + j * 97) % 256
                dst = (f"ext{tgt}.example.net" if j == 3 else site(tgt))
                links[(site(i), dst)] += 1
                pages[(site(i), dst)].add(i)
        got = {
            (r["src_host"], r["dst_host"]): r
            for r in host_graph(synthetic_linked_pages(docs)).collect()
        }
        assert set(got) == set(links)
        for key, n in links.items():
            assert got[key]["n_links"] == n, key
            assert got[key]["n_src_pages"] == len(pages[key]), key
            assert got[key]["internal"] == (key[0] == key[1])
        # both internal and external host pairs exist
        vals = {r["internal"] for r in got.values()}
        assert vals == {True, False}

    def test_plan_shape(self, spark):
        from igtdetect_spark.operators.webpages import (
            host_graph,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            host_graph(synthetic_linked_pages(docs))
            ._jdf.queryExecution().executedPlan()
        )
        # distinct-count rollup: at most the two aggregate exchanges,
        # never a join or Python
        assert plan.count("Exchange") <= 2, plan
        assert "Join" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


class TestRecrawlDelta:
    """Lag-based content-change detection per canonical URL."""

    def test_hand_model(self, spark):
        from collections import defaultdict

        from igtdetect_spark.entry_queries import q_recrawl_delta
        from igtdetect_spark.operators.webpages import (
            canonical_url,
            synthetic_page_urls,
        )
        from pyspark.sql import functions as F

        sf = "/root/testdata/sf0.001"
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        raw = synthetic_page_urls(docs).select(
            "doc_id", "fetch_ts_sec",
            canonical_url(F.col("url")).alias("canon"),
        ).collect()
        hist = defaultdict(list)
        for r in raw:
            v = (r["doc_id"] * 7919) % 3
            hist[r["canon"]].append((r["fetch_ts_sec"], v))
        exp = {}
        for canon, fetches in hist.items():
            fetches.sort()
            prev = None
            for seq, (ts, v) in enumerate(fetches, 1):
                exp[(canon, ts)] = (
                    prev is not None and v != prev, seq
                )
                prev = v
        got = q_recrawl_delta(spark, sf).collect()
        assert len(got) == len(raw)
        for r in got:
            changed, seq = exp[(r["canonical_url"], r["fetch_ts_sec"])]
            assert r["changed"] == changed, r
            assert r["fetch_seq"] == seq, r
        # multi-fetch histories with BOTH outcomes exist at this size
        assert any(c for c, _ in exp.values())
        assert any(s > 1 and not c for c, s in exp.values())

    def test_single_exchange_plan(self, spark):
        from igtdetect_spark.entry_queries import q_recrawl_delta

        # cluster-scale contract: pin the shape with the bench-only
        # small-scan spread disabled (no-op past 64 MB)
        spark.conf.set("igtdetect.spreadSmallScanBytes", "0")
        try:
            plan = str(
                q_recrawl_delta(spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan()
            )
        finally:
            spark.conf.unset("igtdetect.spreadSmallScanBytes")
        assert plan.count("Exchange") == 1, plan
        assert "Window" in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


class TestHostQualityGate:
    """Domain-level quality gating over 256 synthetic hosts."""

    def test_hand_model(self, spark):
        import hashlib
        from collections import defaultdict

        from igtdetect_spark.operators.webpages import (
            host_quality_gate,
            synthetic_host_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        rows = {
            r["doc_id"]: r["text"] or ""
            for r in docs.select("doc_id", "text").collect()
        }

        def score(t):
            if not t:
                return 0
            aln = sum(ch.isascii() and ch.isalnum() for ch in t)
            import math
            return math.floor(1_000_000 * aln / len(t))

        hosts = defaultdict(list)
        for i, t in rows.items():
            hx = hashlib.md5(str(i).encode()).hexdigest()
            hid = int(hx[11], 16) * 16 + int(hx[12], 16)
            hosts[f"h{hid}.example.org"].append((i, score(t)))
        got = {
            r["url"]: r
            for r in host_quality_gate(
                synthetic_host_pages(docs)
            ).collect()
        }
        assert len(got) == len(rows)
        outcomes = set()
        for host, members in hosts.items():
            n = len(members)
            avg = sum(s for _, s in members) // n
            kept = n >= 2 and avg >= 500_000
            for i, s in members:
                r = got[f"https://{host}/p/{i}"]
                assert r["host"] == host
                assert r["score_ppm"] == s, (i, host)
                assert r["host_pages"] == n
                assert r["host_avg_ppm"] == avg
                assert r["kept"] == kept
            outcomes.add(kept)
        # singleton hosts exist at sf0.001 → both verdicts fire
        assert outcomes == {True, False}

    def test_two_exchange_size_aware_plan(self, spark):
        from igtdetect_spark.operators.webpages import (
            host_quality_gate,
            synthetic_host_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            host_quality_gate(synthetic_host_pages(docs))
            ._jdf.queryExecution().executedPlan()
        )
        assert "BroadcastHashJoin" in plan, plan
        assert plan.count("Exchange") <= 2, plan
        assert "BatchEvalPython" not in plan, plan
        # forced over-bound: must degrade to a shuffle join, no
        # broadcast, no cartesian
        spark.conf.set("igtdetect.broadcastBoundBytes", "0")
        try:
            plan0 = str(
                host_quality_gate(synthetic_host_pages(docs))
                ._jdf.queryExecution().executedPlan()
            )
        finally:
            spark.conf.unset("igtdetect.broadcastBoundBytes")
        assert "BroadcastHashJoin" not in plan0, plan0
        assert "ShuffledHashJoin" in plan0, plan0
        assert "CartesianProduct" not in plan0, plan0


# ---------------------------------------------------------------------------
# SURT keys + CDX index
# ---------------------------------------------------------------------------


class TestSurtCdx:
    def _surt(self, spark, urls):
        from igtdetect_spark.operators.webpages import surt_key

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [
            r["k"]
            for r in df.select(surt_key(F.col("url")).alias("k")).collect()
        ]

    def test_surt_each_rule(self, spark):
        cases = {
            # host reversed, scheme dropped, closing paren
            "https://a.example.org/x": "org,example,a)/x",
            # lowercase + www + default port + fragment
            "HTTP://WWW.Example.ORG:80/A/b#Frag": "org,example)/a/b",
            "https://example.org:443/x": "org,example)/x",
            # non-default port survives (inside the host token)
            "https://example.org:8443/x": "org,example:8443)/x",
            # params sorted, empties dropped; trailing slash stripped
            "https://example.org/x/?z=1&a=2": "org,example)/x?a=2&z=1",
            "https://example.org/": "org,example)",
            # bare host, no path
            "https://example.org": "org,example)",
        }
        assert self._surt(spark, list(cases)) == list(cases.values())

    def test_cdx_index_content_and_plan(self, spark):
        from igtdetect_spark.operators.webpages import cdx_index

        pages = spark.createDataFrame(
            [
                (1, "https://www.a.org/p?b=2&a=1", 100, "hello"),
                (2, "https://a.org/p?a=1&b=2", 200, "hello"),
                (3, "https://b.org/q", 150, None),
            ],
            "doc_id long, url string, fetch_ts_sec long, text string",
        )
        rows = {
            (r["urlkey"], r["fetch_ts_sec"]): r
            for r in cdx_index(pages).collect()
        }
        # the two variant fetches share one urlkey, distinct captures
        assert ("org,a)/p?a=1&b=2", 100) in rows
        assert ("org,a)/p?a=1&b=2", 200) in rows
        import hashlib

        r = rows[("org,a)/p?a=1&b=2", 100)]
        assert r["digest"] == hashlib.md5(b"hello").hexdigest()
        assert r["length"] == 5
        # NULL text hashes the empty string (never a NULL digest)
        rn = rows[("org,b)/q", 150)]
        assert rn["digest"] == hashlib.md5(b"").hexdigest()
        assert rn["length"] == 0
        plan = str(cdx_index(pages)._jdf.queryExecution().executedPlan())
        assert "rangepartitioning" in plan.lower()  # the CDX sort layout
        for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert py not in plan

    def test_index_sorted_within_partitions(self, spark):
        from igtdetect_spark.operators.webpages import (
            cdx_index,
            synthetic_page_urls,
        )

        docs = spark.range(0, 300).select(
            F.col("id").alias("doc_id"),
            F.lit("t").alias("text"),
        )
        idx = cdx_index(synthetic_page_urls(docs, carry=("text",)))
        ok = idx.select(
            F.spark_partition_id().alias("p"), "urlkey", "fetch_ts_sec"
        ).toPandas()
        for _, g in ok.groupby("p"):
            keys = list(zip(g["urlkey"], g["fetch_ts_sec"]))
            assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# sitemap parsing
# ---------------------------------------------------------------------------


class TestSitemapEntries:
    def _parse(self, spark, xml):
        from igtdetect_spark.operators.webpages import sitemap_entries

        df = spark.createDataFrame(
            [("https://s/sitemap.xml", xml)], "sitemap_url string, xml string"
        )
        return sitemap_entries(df).collect()

    def test_full_and_bare_entries(self, spark):
        xml = (
            '<?xml version="1.0"?><urlset>'
            "<url><loc>https://a/x</loc><lastmod>2026-01-05</lastmod>"
            "<changefreq>weekly</changefreq><priority>0.8</priority></url>"
            "<url><loc>https://a/y</loc></url>"
            "</urlset>"
        )
        rows = {r["loc"]: r for r in self._parse(spark, xml)}
        full = rows["https://a/x"]
        assert full["lastmod"] == "2026-01-05"
        assert full["changefreq"] == "weekly"
        assert full["priority_ppm"] == 800_000
        bare = rows["https://a/y"]
        assert bare["lastmod"] is None
        assert bare["changefreq"] is None
        assert bare["priority_ppm"] is None

    def test_empty_urlset_yields_no_rows(self, spark):
        assert self._parse(spark, "<urlset></urlset>") == []

    def test_synthetic_plan_zero_exchange_no_python(self, spark, no_spread):
        from igtdetect_spark.operators.webpages import (
            sitemap_entries,
            synthetic_sitemaps,
        )

        docs = spark.range(0, 50).select(F.col("id").alias("doc_id"))
        df = sitemap_entries(synthetic_sitemaps(docs))
        plan = str(df._jdf.queryExecution().executedPlan())
        assert "Exchange" not in plan
        for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert py not in plan
        # ragged 1-3 entries per sitemap
        n_docs, n_entries = 50, df.count()
        assert n_docs <= n_entries <= 3 * n_docs


# ---------------------------------------------------------------------------
# politeness fetch scheduling
# ---------------------------------------------------------------------------


class TestFetchSchedule:
    def test_slots_and_offsets(self, spark):
        from igtdetect_spark.operators.webpages import fetch_schedule

        pages = spark.createDataFrame(
            [
                (1, "https://a.org/2"),
                (2, "https://a.org/1"),
                (3, "https://a.org/1"),  # same url: doc_id breaks the tie
                (4, "https://b.org/x"),
            ],
            "doc_id long, url string",
        )
        rows = {r["doc_id"]: r for r in fetch_schedule(pages).collect()}
        # host a.org ordered by (url, doc_id): 2, 3, 1
        assert [rows[i]["slot"] for i in (2, 3, 1)] == [0, 1, 2]
        assert rows[4]["slot"] == 0  # other host starts its own wave
        for r in rows.values():
            assert 1 <= r["delay_sec"] <= 4
            assert r["scheduled_offset_sec"] == r["slot"] * r["delay_sec"]
        # per-host delay is a function of the host alone
        assert len({rows[i]["delay_sec"] for i in (1, 2, 3)}) == 1

    def test_single_window_exchange(self, spark, no_spread):
        from igtdetect_spark.operators.webpages import (
            fetch_schedule,
            synthetic_page_urls,
        )

        docs = spark.range(0, 100).select(F.col("id").alias("doc_id"))
        df = fetch_schedule(synthetic_page_urls(docs))
        plan = str(df._jdf.queryExecution().executedPlan())
        assert plan.count("Exchange") == 1
        for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert py not in plan


class TestFrontierGap:
    def test_gap_semantics(self, spark):
        from igtdetect_spark.operators.webpages import frontier_gap

        discovered = spark.createDataFrame(
            [
                ("s1", "https://a/x", "2026-01-05", None, 800_000),
                ("s2", "https://a/x", None, "daily", None),
                ("s1", "https://a/y", "2026-01-02", None, None),
                ("s2", "https://a/z", None, None, 300_000),
            ],
            "sitemap_url string, loc string, lastmod string, "
            "changefreq string, priority_ppm long",
        )
        crawled = spark.createDataFrame(
            [("https://a/y",), ("https://a/other",)], "url string"
        )
        rows = {r["loc"]: r for r in
                frontier_gap(discovered, crawled).collect()}
        # crawled loc y is excluded; x aggregates across sitemaps
        assert set(rows) == {"https://a/x", "https://a/z"}
        x = rows["https://a/x"]
        assert x["n_refs"] == 2
        assert x["max_priority_ppm"] == 800_000
        assert x["latest_lastmod"] == "2026-01-05"
        z = rows["https://a/z"]
        assert z["n_refs"] == 1
        assert z["latest_lastmod"] is None  # all-NULL group stays NULL


class TestResolveRedirects:
    def _resolve(self, spark, edges, max_hops=4):
        from igtdetect_spark.operators.webpages import resolve_redirects

        df = spark.createDataFrame(edges, "src_url string, location string")
        return {r["src_url"]: r for r in
                resolve_redirects(df, max_hops=max_hops).collect()}

    def test_chain_shapes(self, spark):
        rows = self._resolve(
            spark,
            [
                # straight 3-hop chain a->b->c->d (d has no edge)
                ("a", "b"), ("b", "c"), ("c", "d"),
                # direct self-loop
                ("s", "s"),
                # 2-cycle p<->q
                ("p", "q"), ("q", "p"),
                # single hop to a terminus
                ("x", "y"),
            ],
        )
        a = rows["a"]
        assert (a["final_url"], a["n_hops"], a["status"]) == ("d", 3, "resolved")
        # every suffix of the chain resolves too, with shrinking hop counts
        assert rows["b"]["n_hops"] == 2 and rows["c"]["n_hops"] == 1
        s = rows["s"]
        assert s["status"] == "loop" and s["final_url"] == "s"
        p = rows["p"]
        # p -> q -> p: second hop lands on an already-seen url
        assert p["status"] == "loop" and p["final_url"] == "p" and p["n_hops"] == 2
        assert rows["x"]["status"] == "resolved"

    def test_truncation_at_max_hops(self, spark):
        # 6-long chain under max_hops=4 gives up mid-walk
        edges = [(str(i), str(i + 1)) for i in range(6)]
        rows = self._resolve(spark, edges, max_hops=4)
        r0 = rows["0"]
        assert r0["status"] == "truncated" and r0["n_hops"] == 4
        assert r0["final_url"] == "4"
        # tail of the same chain still resolves within budget
        assert rows["3"]["status"] == "resolved"
        assert rows["3"]["final_url"] == "6"

    def test_synthetic_covers_all_statuses(self, spark):
        from igtdetect_spark.operators.webpages import (
            resolve_redirects,
            synthetic_redirects,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        out = resolve_redirects(synthetic_redirects(docs), max_hops=4)
        statuses = {r["status"] for r in out.select("status").distinct().collect()}
        assert statuses == {"resolved", "loop", "truncated"}


class TestHostTemplateStrip:
    def _pages(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, host string, url string, text string"
        )

    def test_template_detection_and_strip(self, spark):
        from igtdetect_spark.operators.webpages import (
            host_template_lines,
            strip_host_template,
        )

        # host A: 4 pages, NAV on all 4, PROMO on 2 of 4, unique bodies
        rows = [
            (i, "a.org", f"https://a.org/{i}",
             "NAV a.org\n" + ("PROMO\n" if i % 2 == 0 else "")
             + f"body {i}\nfooter a.org")
            for i in range(4)
        ]
        # host B: only 2 pages — below min_host_pages, nothing is template
        rows += [
            (10 + i, "b.org", f"https://b.org/{i}",
             f"NAV b.org\nbody b{i}")
            for i in range(2)
        ]
        pages = self._pages(spark, rows)
        tmpl = host_template_lines(
            pages, min_host_pages=4, template_frac_ppm=600_000
        )
        got = {(r["host"], r["line"]) for r in tmpl.collect()}
        # NAV + footer on 100% of a.org pages; PROMO at 50% < 60%;
        # b.org too small
        assert got == {("a.org", "NAV a.org"), ("a.org", "footer a.org")}

        clean = {r["url"]: r for r in
                 strip_host_template(pages, tmpl).collect()}
        c0 = clean["https://a.org/0"]
        assert c0["clean_text"] == "PROMO\nbody 0"
        assert (c0["n_lines"], c0["n_stripped"]) == (4, 2)
        c1 = clean["https://a.org/1"]
        assert c1["clean_text"] == "body 1"
        # small host passes through byte-identical
        assert clean["https://b.org/0"]["clean_text"] == "NAV b.org\nbody b0"
        assert clean["https://b.org/0"]["n_stripped"] == 0

    def test_all_template_page_collapses_to_empty(self, spark):
        from igtdetect_spark.operators.webpages import (
            host_template_lines,
            strip_host_template,
        )

        rows = [
            (i, "c.org", f"https://c.org/{i}", "same\nchrome")
            for i in range(5)
        ]
        pages = self._pages(spark, rows)
        tmpl = host_template_lines(pages)
        out = strip_host_template(pages, tmpl).collect()
        assert all(
            r["clean_text"] == "" and r["n_stripped"] == 2 for r in out
        )

    def test_duplicate_line_within_one_page_counts_once(self, spark):
        from igtdetect_spark.operators.webpages import host_template_lines

        # "x" appears TWICE on one page of 4 — page-frequency is 1/4,
        # not 2/4, so it must not become template
        rows = [(0, "d.org", "https://d.org/0", "x\nx\nu0")] + [
            (i, "d.org", f"https://d.org/{i}", f"u{i}\nv{i}")
            for i in range(1, 4)
        ]
        tmpl = host_template_lines(
            self._pages(spark, rows),
            min_host_pages=4,
            template_frac_ppm=500_000,
        )
        assert tmpl.count() == 0


class TestAttributeAliases:
    def test_attribution_semantics(self, spark):
        from igtdetect_spark.operators.webpages import attribute_aliases

        pages = spark.createDataFrame(
            [("c", 1), ("d", 2), ("z", 3)], "url string, doc_id long"
        )
        # a->b->c (resolved at content page c), d is plain content,
        # p<->q loop (attributes nowhere), x->y resolves at y which is
        # NOT a known content page (dropped on the left join)
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("p", "q"), ("q", "p"), ("x", "y")],
            "src_url string, location string",
        )
        got = {r["url"]: r for r in
               attribute_aliases(pages, edges).collect()}
        assert set(got) == {"c", "d", "z"}
        # both a (2 hops) and b (1 hop) credit c
        assert got["c"]["n_aliases"] == 2
        assert got["c"]["max_alias_hops"] == 2
        assert got["d"]["n_aliases"] == 0
        assert got["d"]["max_alias_hops"] == 0

    def test_redirect_source_is_not_a_content_page(self, spark):
        from igtdetect_spark.operators.webpages import attribute_aliases

        pages = spark.createDataFrame(
            [("a", 1), ("b", 2)], "url string, doc_id long"
        )
        edges = spark.createDataFrame(
            [("a", "b")], "src_url string, location string"
        )
        got = {r["url"]: r for r in
               attribute_aliases(pages, edges).collect()}
        # a 3xxes away → excluded even though it is in the page table
        assert set(got) == {"b"}
        assert got["b"]["n_aliases"] == 1


class TestLinkSpam:
    def _edges(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "src_host string, dst_host string, n_links long, "
            "n_src_pages long, internal boolean",
        )

    def test_farm_vs_organic(self, spark):
        from igtdetect_spark.operators.webpages import link_spam_scores

        rows = [
            # farm triangle f1/f2/f3: full reciprocity
            ("f1", "f2", 5, 1, False), ("f2", "f1", 5, 1, False),
            ("f1", "f3", 5, 1, False), ("f3", "f1", 5, 1, False),
            ("f2", "f3", 5, 1, False), ("f3", "f2", 5, 1, False),
            # organic o links OUT to two hosts, nobody links back
            ("o", "n1", 2, 1, False), ("o", "n2", 1, 1, False),
            # one mutual pair — reciprocity 100% but only 1 out-host
            ("m1", "m2", 1, 1, False), ("m2", "m1", 1, 1, False),
            # self links
            ("f1", "f1", 7, 2, True),
        ]
        got = {r["host"]: r for r in
               link_spam_scores(self._edges(spark, rows)).collect()}
        f1 = got["f1"]
        assert f1["is_farm"] and f1["recip_ppm"] == 1_000_000
        assert f1["out_hosts"] == 2 and f1["self_links"] == 7
        assert f1["out_links"] == 10 and f1["in_links"] == 10
        o = got["o"]
        assert not o["is_farm"] and o["recip_ppm"] == 0
        assert o["out_links"] == 3
        # mutual pair below min_out_hosts → not a farm
        assert not got["m1"]["is_farm"]
        assert got["m1"]["recip_ppm"] == 1_000_000
        # sink-only hosts appear with zero masses
        assert got["n1"]["out_links"] == 0 and not got["n1"]["is_farm"]

    def test_partial_reciprocity_threshold(self, spark):
        from igtdetect_spark.operators.webpages import link_spam_scores

        # p links to 4 hosts, exactly 1 links back → 25% < 50%
        rows = [("p", f"q{i}", 1, 1, False) for i in range(4)]
        rows.append(("q0", "p", 1, 1, False))
        got = {r["host"]: r for r in
               link_spam_scores(self._edges(spark, rows)).collect()}
        assert got["p"]["recip_ppm"] == 250_000
        assert not got["p"]["is_farm"]


class TestFrontierPriority:
    def test_scoring_and_per_host_cap(self, spark):
        from igtdetect_spark.operators.webpages import frontier_priority

        gap = spark.createDataFrame(
            [
                # host a: 4 candidates — cap must cut to 3
                ("https://a/1", 2, 800_000, None),
                ("https://a/2", 1, None, None),
                ("https://a/3", 1, 200_000, None),
                ("https://a/4", 1, 100_000, None),
                ("https://b/x", 1, None, None),
            ],
            "loc string, n_refs long, max_priority_ppm long, "
            "latest_lastmod string",
        )
        link_stats = spark.createDataFrame(
            [("https://a/2", 10, 5, True)],
            "dst_url string, in_degree long, n_src long, "
            "is_internal boolean",
        )
        rows = frontier_priority(gap, link_stats, per_host_cap=3).collect()
        by_loc = {r["loc"]: r for r in rows}
        # a/1: 2*1000 + 800 + 0 = 2800; a/2: 1000 + 0 + 5000 = 6000
        assert by_loc["https://a/2"]["score"] == 6000
        assert by_loc["https://a/2"]["host_rank"] == 1
        assert by_loc["https://a/1"]["score"] == 2800
        assert by_loc["https://a/1"]["host_rank"] == 2
        # host a capped at 3: the weakest (a/4, score 1100 < a/3 1200)
        # is dropped
        a_locs = {r["loc"] for r in rows if r["host"] == "a"}
        assert a_locs == {"https://a/1", "https://a/2", "https://a/3"}
        assert by_loc["https://b/x"]["host_rank"] == 1

    def test_tie_breaks_on_loc(self, spark):
        from igtdetect_spark.operators.webpages import frontier_priority

        gap = spark.createDataFrame(
            [("https://h/b", 1, None, None), ("https://h/a", 1, None, None)],
            "loc string, n_refs long, max_priority_ppm long, "
            "latest_lastmod string",
        )
        empty = spark.createDataFrame(
            [], "dst_url string, in_degree long, n_src long, "
                "is_internal boolean",
        )
        rows = {r["loc"]: r["host_rank"] for r in
                frontier_priority(gap, empty, per_host_cap=2).collect()}
        assert rows == {"https://h/a": 1, "https://h/b": 2}


class TestSoft404:
    def test_three_branches(self, spark):
        from igtdetect_spark.operators.webpages import (
            soft404_probes,
            soft404_screen,
            synthetic_soft404_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        pages = synthetic_soft404_pages(docs)
        out = soft404_screen(pages, soft404_probes(pages))
        rows = out.collect()
        tm = [r for r in rows if r["template_match"]]
        ph = [r for r in rows if r["is_soft404"] and not r["template_match"]]
        ok = [r for r in rows if not r["is_soft404"]]
        # all three populations exist
        assert tm and ph and ok
        # template clones are flagged regardless of token count
        assert all(r["is_soft404"] for r in tm)
        # phrase-only flags are thin
        assert all(r["n_toks"] < 12 for r in ph)

    def test_phrase_on_long_page_not_flagged(self, spark):
        from igtdetect_spark.operators.webpages import soft404_screen

        pages = spark.createDataFrame(
            [
                # an ARTICLE ABOUT 404s: phrase fires, but 14 tokens
                (1, "h.org", "https://h.org/a", "t",
                 "this essay about the error 404 - not found page "
                 "has plenty of words"),
                # thin error page
                (2, "h.org", "https://h.org/b", "t", "Error 404 not found"),
            ],
            "doc_id long, host string, url string, title string, "
            "text string",
        )
        probes = spark.createDataFrame(
            [("h.org", "0" * 32)], "host string, probe_md5 string"
        )
        got = {r["doc_id"]: r for r in
               soft404_screen(pages, probes).collect()}
        assert got[1]["has_phrase"] and not got[1]["is_soft404"]
        assert got[2]["is_soft404"] and not got[2]["template_match"]

    def test_unprobed_host_template_check_is_false(self, spark):
        from igtdetect_spark.operators.webpages import soft404_screen

        pages = spark.createDataFrame(
            [(1, "x.org", "https://x.org/a", "t", "normal words here")],
            "doc_id long, host string, url string, title string, "
            "text string",
        )
        probes = spark.createDataFrame(
            [], "host string, probe_md5 string"
        )
        r = soft404_screen(pages, probes).collect()[0]
        assert r["template_match"] is False and r["is_soft404"] is False


class TestSnapshotUpsert:
    def test_all_four_outcomes(self, spark):
        from igtdetect_spark.operators.webpages import snapshot_upsert

        base = spark.createDataFrame(
            [
                ("u1", 100, 100, 1, "fpA"),   # will be re-fetched, same fp
                ("u2", 100, 100, 2, "fpB"),   # re-fetched with NEW fp
                ("u3", 100, 100, 1, "fpC"),   # absent from delta
            ],
            "url string, first_seen_ts long, last_fetch_ts long, "
            "n_fetches long, fingerprint string",
        )
        delta = spark.createDataFrame(
            [
                ("u1", 200, "fpA"),
                ("u2", 200, "fpB"),
                ("u2", 300, "fpB2"),   # latest fetch wins
                ("u4", 250, "fpD"),    # brand new url
            ],
            "url string, fetch_ts_sec long, fingerprint string",
        )
        got = {r["url"]: r for r in snapshot_upsert(base, delta).collect()}
        assert got["u1"]["status"] == "unchanged"
        assert got["u1"]["n_fetches"] == 2
        assert got["u1"]["last_fetch_ts"] == 200
        assert got["u1"]["first_seen_ts"] == 100
        u2 = got["u2"]
        assert u2["status"] == "updated"
        assert u2["fingerprint"] == "fpB2"     # max_by fetch time
        assert u2["n_fetches"] == 4            # 2 base + 2 delta
        assert u2["last_fetch_ts"] == 300
        u3 = got["u3"]
        assert u3["status"] == "carried"
        assert (u3["fingerprint"], u3["n_fetches"]) == ("fpC", 1)
        u4 = got["u4"]
        assert u4["status"] == "new"
        assert u4["first_seen_ts"] == 250
        assert u4["fingerprint"] == "fpD"

    def test_merge_is_idempotent_for_empty_delta(self, spark):
        from igtdetect_spark.operators.webpages import snapshot_upsert

        base = spark.createDataFrame(
            [("u1", 100, 150, 3, "fp")],
            "url string, first_seen_ts long, last_fetch_ts long, "
            "n_fetches long, fingerprint string",
        )
        empty = spark.createDataFrame(
            [], "url string, fetch_ts_sec long, fingerprint string"
        )
        r = snapshot_upsert(base, empty).collect()[0]
        assert r["status"] == "carried"
        assert (r["first_seen_ts"], r["last_fetch_ts"],
                r["n_fetches"], r["fingerprint"]) == (100, 150, 3, "fp")


class TestHreflangSymmetry:
    def _alts(self, spark, rows):
        return spark.createDataFrame(
            rows, "src_url string, hreflang string, href string"
        )

    def test_symmetry_semantics(self, spark):
        from igtdetect_spark.operators.webpages import hreflang_symmetry

        alts = self._alts(spark, [
            # en <-> de reciprocated both ways
            ("en/1", "de", "de/1"), ("de/1", "en", "en/1"),
            # en -> fr declared, fr NEVER answers → asymmetric
            ("en/1", "fr", "fr/1"),
            # x-default must not count as a language edge
            ("en/1", "x-default", "en/1"),
            # fr/2 declares into the void
            ("fr/2", "en", "en/2"),
        ])
        got = {r["url"]: r for r in hreflang_symmetry(alts).collect()}
        en = got["en/1"]
        assert (en["n_alts"], en["n_symmetric"]) == (2, 1)
        assert en["has_xdefault"] and not en["consistent"]
        de = got["de/1"]
        assert (de["n_alts"], de["n_symmetric"]) == (1, 1)
        assert de["consistent"] and not de["has_xdefault"]
        fr2 = got["fr/2"]
        assert (fr2["n_alts"], fr2["n_symmetric"]) == (1, 0)
        assert not fr2["consistent"]

    def test_extraction_single_pass(self, spark):
        from igtdetect_spark.operators.webpages import (
            extract_hreflang,
            synthetic_hreflang_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        pages = synthetic_hreflang_pages(docs)
        alts = extract_hreflang(pages)
        rows = alts.collect()
        langs = {r["hreflang"] for r in rows}
        assert langs == {"en", "de", "fr", "x-default"}
        # x-default only from en pages, pointing at themselves
        for r in rows:
            if r["hreflang"] == "x-default":
                assert "/en/" in r["src_url"] and r["href"] == r["src_url"]
        # plan: no Python, no shuffle in the extraction
        plan = str(alts._jdf.queryExecution().executedPlan())
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


class TestNewKernelRobustness:
    def test_template_strip_handles_crlf_and_empty_lines(self, spark):
        from igtdetect_spark.operators.webpages import (
            host_template_lines,
            strip_host_template,
        )

        # \r survives inside lines (split is on \n only — CRLF pages
        # keep their \r, and the (host, line) join must still match
        # byte-identically); repeated empty lines are ordinary lines
        rows = [
            (i, "h.org", f"https://h.org/{i}", "nav\r\n\nbody %d\r" % i)
            for i in range(4)
        ]
        pages = spark.createDataFrame(
            rows, "doc_id long, host string, url string, text string"
        )
        tmpl = host_template_lines(pages)
        got = {r["line"] for r in tmpl.collect()}
        assert got == {"nav\r", ""}  # the CR line and the blank line
        clean = strip_host_template(pages, tmpl).collect()
        assert all(r["clean_text"] == "body %d\r" % r["doc_id"]
                   for r in clean)

    def test_hreflang_ignores_malformed_declarations(self, spark):
        from igtdetect_spark.operators.webpages import extract_hreflang
        from pyspark.sql import functions as F

        bad = (
            '<link rel="alternate" hreflang="EN" href="x"/>'   # uppercase
            '<link rel="alternate" hreflang="de" href="">'      # empty+no />
            '<link rel="alternate" href="y" hreflang="fr"/>'    # reordered
            '<link rel="alternate" hreflang="pt-br" href="ok"/>'
        )
        pages = spark.createDataFrame(
            [(1, "u", bad)], "doc_id long, url string, h string"
        ).select("doc_id", "url", F.encode("h", "utf-8").alias("html"))
        rows = extract_hreflang(pages).collect()
        # only the strictly well-formed lowercase declaration matches
        assert [(r["hreflang"], r["href"]) for r in rows] == [
            ("pt-br", "ok")
        ]

    def test_soft404_null_text_is_not_flagged(self, spark):
        from igtdetect_spark.operators.webpages import soft404_screen

        pages = spark.createDataFrame(
            [(1, "h.org", "u", "t", None)],
            "doc_id long, host string, url string, title string, "
            "text string",
        )
        probes = spark.createDataFrame(
            [("h.org", "x")], "host string, probe_md5 string"
        )
        r = soft404_screen(pages, probes).collect()[0]
        assert r["is_soft404"] is False and r["n_toks"] == 0


class TestResolveLinks:
    """RFC 3986 §5 resolution: every reference shape on a hand fixture."""

    BASE = "https://h.example.org/a/b/c.html?sess=7"

    def _resolve(self, spark, hrefs):
        from pyspark.sql import functions as F

        from igtdetect_spark.operators.webpages import resolve_links

        html = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        pages = spark.createDataFrame(
            [(self.BASE, html)], "url string, h string"
        ).select("url", F.encode("h", "utf-8").alias("html"))
        return {
            r["href"]: (r["kind"], r["abs_url"], r["is_external"])
            for r in resolve_links(pages).collect()
        }

    def test_every_reference_shape(self, spark):
        got = self._resolve(spark, [
            "https://x.net/p",        # absolute
            "//cdn.x.net/l.js",       # protocol-relative
            "/root/q",                # root-relative
            "img.png",                # plain relative
            "./same/1",               # dot relative
            "../up/2",                # one ascent
            "../../3",                # to root
            "../../../clamp/4",       # past root — clamps
            "?page=2",                # query-only
            "#frag",                  # fragment-only
        ])
        o = "https://h.example.org"
        assert got["https://x.net/p"] == (
            "absolute", "https://x.net/p", True)
        assert got["//cdn.x.net/l.js"] == (
            "protocol_relative", "https://cdn.x.net/l.js", True)
        assert got["/root/q"] == ("root_relative", f"{o}/root/q", False)
        assert got["img.png"] == ("relative", f"{o}/a/b/img.png", False)
        assert got["./same/1"] == ("relative", f"{o}/a/b/same/1", False)
        assert got["../up/2"] == ("relative", f"{o}/a/up/2", False)
        assert got["../../3"] == ("relative", f"{o}/3", False)
        assert got["../../../clamp/4"] == (
            "relative", f"{o}/clamp/4", False)
        # query-only: base path kept, base query REPLACED
        assert got["?page=2"] == ("query", f"{o}/a/b/c.html?page=2", False)
        # fragment-only: base query kept
        assert got["#frag"] == (
            "fragment", f"{o}/a/b/c.html?sess=7#frag", False)

    def test_dot_segments_in_query_survive(self, spark):
        # normalization runs on the PATH component only
        got = self._resolve(spark, ["/p?next=../x"])
        assert got["/p?next=../x"][1] == (
            "https://h.example.org/p?next=../x")

    def test_interleaved_ascent(self, spark):
        got = self._resolve(spark, ["../x/../y"])
        assert got["../x/../y"][1] == "https://h.example.org/a/y"


class TestRegisteredDomain:
    def _rd(self, spark, hosts):
        from igtdetect_spark.operators.webpages import (
            public_suffix_df,
            registered_domain,
        )

        pages = spark.createDataFrame(
            [(h,) for h in hosts], "host string"
        )
        return {
            r["host"]: (r["public_suffix"], r["registered_domain"])
            for r in registered_domain(
                pages, public_suffix_df(spark)
            ).collect()
        }

    def test_longest_suffix_wins(self, spark):
        got = self._rd(spark, [
            "www.shop.co.uk",      # co.uk beats uk
            "a.b.example.com",     # plain TLD
            "blog.github.io",      # private registry beats io
            "deep.dept.uni.ac.uk",
        ])
        assert got["www.shop.co.uk"] == ("co.uk", "shop.co.uk")
        assert got["a.b.example.com"] == ("com", "example.com")
        assert got["blog.github.io"] == ("github.io", "blog.github.io")
        assert got["deep.dept.uni.ac.uk"] == ("ac.uk", "uni.ac.uk")

    def test_unlisted_tld_falls_back_to_last_label(self, spark):
        got = self._rd(spark, ["cdn.foo.zz"])
        assert got["cdn.foo.zz"] == ("zz", "foo.zz")

    def test_bare_suffix_host_has_null_registrable(self, spark):
        got = self._rd(spark, ["github.io", "co.uk"])
        assert got["github.io"] == ("github.io", None)
        assert got["co.uk"] == ("co.uk", None)

    def test_rollup_counts_hosts_and_pages(self, spark):
        from igtdetect_spark.operators.webpages import (
            domain_rollup,
            public_suffix_df,
        )

        pages = spark.createDataFrame(
            [("a.x.com",), ("a.x.com",), ("b.x.com",), ("y.zz",)],
            "host string",
        )
        got = {
            r["registered_domain"]: r
            for r in domain_rollup(
                pages, public_suffix_df(spark)
            ).collect()
        }
        assert got["x.com"]["n_hosts"] == 2
        assert got["x.com"]["n_pages"] == 3
        assert got["x.com"]["first_host"] == "a.x.com"
        # unlisted TLD: zz itself is the fallback suffix
        assert got["y.zz"]["public_suffix"] == "zz"


class TestCrawlDepth:
    """BFS hop distance from the deterministic seed set."""

    def _bfs(self, ids, seeds_mod=64, max_hops=4):
        edges = TestAnchorText()._hand_model(ids)[1]
        adj = {}
        for s, d in set(edges):
            adj.setdefault(s, set()).add(d)
        dist = {i: 0 for i in ids if i % seeds_mod == 0}
        frontier = set(dist)
        for hop in range(1, max_hops + 1):
            nxt = set()
            for s in frontier:
                nxt |= adj.get(s, set())
            nxt -= set(dist)
            for n in nxt:
                dist[n] = hop
            frontier = nxt
        return dist

    def test_matches_hand_bfs(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import (
            crawl_depth,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        exp = self._bfs(ids)
        out = crawl_depth(synthetic_linked_pages(docs))
        got = {
            int(r["url"].rsplit("/", 1)[1]): r["depth"]
            for r in out.collect()
        }
        assert got == exp
        # seeds sit at depth 0; depth-1 ring is non-empty; nothing
        # beyond max_hops leaks out
        assert all(got[i] == 0 for i in ids if i % 64 == 0)
        assert 1 in set(got.values())
        assert max(got.values()) <= 4
        # handles: the resolved edge relation only — the frontier and
        # visited set live on the driver, no hop is checkpointed
        assert release_plan_caches(out) == 1

    def test_min_depth_not_last_write(self, spark):
        # a page reachable at hops 2 AND 3 must report 2 — the
        # anti-join against visited is what pins min distance
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import crawl_depth

        rows = [
            # seed 0 → 1 → 2 → 3, plus a long way round 0 → 4 → 5 → 2
            (0, "https://h/0", '<a href="https://h/1"><a href="https://h/4">'),
            (1, "https://h/1", '<a href="https://h/2">'),
            (2, "https://h/2", '<a href="https://h/3">'),
            (3, "https://h/3", ""),
            (4, "https://h/4", '<a href="https://h/5">'),
            (5, "https://h/5", '<a href="https://h/2">'),
        ]
        pages = spark.createDataFrame(
            [(i, u, h.encode()) for i, u, h in rows],
            "doc_id long, url string, html binary",
        )
        out = crawl_depth(pages, seeds_mod=64, max_hops=4)
        got = {r["url"]: r["depth"] for r in out.collect()}
        release_plan_caches(out)
        assert got == {
            "https://h/0": 0, "https://h/1": 1, "https://h/4": 1,
            "https://h/2": 2, "https://h/5": 2, "https://h/3": 3,
        }

    def test_plan_no_python_no_cartesian(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import (
            crawl_depth,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        out = crawl_depth(synthetic_linked_pages(docs))
        plan = str(out._jdf.queryExecution().executedPlan())
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        release_plan_caches(out)


class TestHitsScores:
    """Integer-exact HITS hubs/authorities."""

    def _hits(self, ids, edges, iterations=2):
        E = sorted(set(edges))
        hub = {i: 1_000_000 for i in ids}
        auth = None
        for _ in range(iterations):
            raw = {i: 0 for i in ids}
            for s, d in E:
                raw[d] += hub[s]
            tot = sum(raw.values())
            auth = {
                i: (v * 1_000_000) // tot if tot > 0 else 0
                for i, v in raw.items()
            }
            raw = {i: 0 for i in ids}
            for s, d in E:
                raw[s] += auth[d]
            tot = sum(raw.values())
            hub = {
                i: (v * 1_000_000) // tot if tot > 0 else 0
                for i, v in raw.items()
            }
        return hub, auth

    def test_matches_integer_hand_model(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import (
            hits_scores,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        edges = TestAnchorText()._hand_model(ids)[1]
        ehub, eauth = self._hits(ids, edges)
        out = hits_scores(synthetic_linked_pages(docs))
        got = {
            int(r["url"].rsplit("/", 1)[1]): r for r in out.collect()
        }
        assert set(got) == set(ids)
        for i in ids:
            assert got[i]["hub_e6"] == ehub[i], i
            assert got[i]["auth_e6"] == eauth[i], i
        # L1 normalization: each family's mass is ≤ 1e6 (floor division
        # only sheds remainder mass) and somebody holds positive score
        assert 0 < sum(r["auth_e6"] for r in got.values()) <= 1_000_000
        assert 0 < sum(r["hub_e6"] for r in got.values()) <= 1_000_000
        # every target id < 256: pages ≥ 256 are pure hubs
        assert all(
            got[i]["auth_e6"] == 0 for i in ids if i >= 256
        )
        # edges + one persisted normalization relation per half-step
        assert release_plan_caches(out) == 5

    def test_plan_no_python_no_cartesian(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import (
            hits_scores,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        out = hits_scores(synthetic_linked_pages(docs))
        plan = str(out._jdf.queryExecution().executedPlan())
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        release_plan_caches(out)


class TestAdaptiveRevisit:
    """Change-ratio → revisit-bucket scheduling policy."""

    def _deltas(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "canonical_url string, fetch_ts_sec long, "
            "fingerprint string, changed boolean, fetch_seq long",
        )

    def test_policy_buckets_and_next_fetch(self, spark):
        from igtdetect_spark.operators.webpages import adaptive_revisit

        rows = [
            # hot: 2 changes in 2 recrawls → 1e6 ppm → hourly
            ("u/hot", 100, "a", False, 1),
            ("u/hot", 200, "b", True, 2),
            ("u/hot", 300, "c", True, 3),
            # lukewarm: 1 change in 4 recrawls → 250000 → daily
            ("u/warm", 10, "a", False, 1),
            ("u/warm", 20, "a", False, 2),
            ("u/warm", 30, "b", True, 3),
            ("u/warm", 40, "b", False, 4),
            ("u/warm", 50, "b", False, 5),
            # stale but once-changed: 1 in 9 → 111111 → weekly
            *[("u/slow", 10 * i, "a" if i < 9 else "b", i == 9, i)
              for i in range(1, 10 + 1)],
            # frozen: 0 changes → monthly
            ("u/cold", 5, "a", False, 1),
            ("u/cold", 6, "a", False, 2),
            # single fetch: no baseline → NULL ratio → daily probe
            ("u/new", 7, "a", False, 1),
        ]
        got = {
            r["canonical_url"]: r
            for r in adaptive_revisit(self._deltas(spark, rows)).collect()
        }
        assert got["u/hot"]["change_ratio_ppm"] == 1_000_000
        assert got["u/hot"]["revisit_bucket"] == "hourly"
        assert got["u/hot"]["next_fetch_ts_sec"] == 300 + 3_600
        assert got["u/warm"]["change_ratio_ppm"] == 250_000
        assert got["u/warm"]["revisit_bucket"] == "daily"
        assert got["u/warm"]["next_fetch_ts_sec"] == 50 + 86_400
        assert got["u/slow"]["change_ratio_ppm"] == 111_111
        assert got["u/slow"]["revisit_bucket"] == "weekly"
        assert got["u/cold"]["change_ratio_ppm"] == 0
        assert got["u/cold"]["revisit_bucket"] == "monthly"
        assert got["u/cold"]["next_fetch_ts_sec"] == 6 + 2_592_000
        assert got["u/new"]["change_ratio_ppm"] is None
        assert got["u/new"]["revisit_bucket"] == "daily"
        assert got["u/new"]["next_fetch_ts_sec"] == 7 + 86_400

    def test_composed_single_shuffle(self, spark, no_spread):
        # recrawl_delta's window exchange on canonical_url is the ONE
        # exchange; the policy aggregate reuses that partitioning
        from igtdetect_spark.operators.webpages import (
            adaptive_revisit,
            canonical_url,
            recrawl_delta,
            synthetic_page_urls,
        )
        from pyspark.sql import functions as F

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        p = synthetic_page_urls(docs)
        f = p.select(
            canonical_url(F.col("url")).alias("canonical_url"),
            "fetch_ts_sec",
            F.md5(F.col("url")).alias("fingerprint"),
        )
        out = adaptive_revisit(recrawl_delta(f))
        plan = str(out._jdf.queryExecution().executedPlan())
        assert plan.count("Exchange hashpartitioning") <= 1, plan
        assert "BatchEvalPython" not in plan, plan


class TestKeywordStuffing:
    """On-page SEO keyword-density screen."""

    def _hand(self, ids):
        import hashlib

        out = {}
        for i in ids:
            h = hashlib.md5(str(i).encode()).hexdigest()
            kw = f"kw{i % 17}"
            kws = [kw, f"kw{(i * 3 + 1) % 17}", f"kw{(i * 5 + 2) % 17}"]
            n3, n4 = int(h[2], 16), int(h[3], 16)
            reps = (8 + n4 % 8 if n3 % 4 == 0
                    else (1 if n3 % 4 == 1 else 0))
            toks = ["plain", "prose", "about", "topic", str(i % 7)]
            toks += [kw] * reps
            hits = sum(1 for t in toks if t in kws)
            # per declared SLOT, not per distinct term — the rotations
            # may collide and the filter counts each slot
            present = sum(1 for k in kws if k in toks)
            dens = (hits * 1_000_000) // len(toks)
            out[i] = {
                "n_tokens": len(toks), "kw_hits": hits,
                "kw_density_ppm": dens, "n_meta_kw": len(kws),
                "meta_present_frac_e6":
                    (present * 1_000_000) // len(kws),
                "stuffed": dens >= 300_000,
            }
        return out

    def test_matches_hand_model(self, spark):
        from igtdetect_spark.operators.webpages import (
            keyword_stuffing,
            synthetic_seo_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        exp = self._hand(ids)
        got = {
            int(r["url"].rsplit("/", 1)[1]): r
            for r in keyword_stuffing(
                synthetic_seo_pages(docs)
            ).collect()
        }
        assert set(got) == set(exp)
        for i, e in exp.items():
            for k, v in e.items():
                assert got[i][k] == v, (i, k, got[i][k], v)
        # both verdicts are populated
        verdicts = {r["stuffed"] for r in got.values()}
        assert verdicts == {True, False}

    def test_zero_shuffle_native_plan(self, spark, no_spread):
        from igtdetect_spark.operators.webpages import (
            keyword_stuffing,
            synthetic_seo_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            keyword_stuffing(synthetic_seo_pages(docs))
            ._jdf.queryExecution().executedPlan()
        )
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


class TestTrustrank:
    """Seed-personalized PageRank (TrustRank) integer model."""

    def test_matches_integer_hand_model(self, spark):
        from collections import defaultdict

        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import (
            synthetic_linked_pages,
            trustrank,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        edges = sorted(set(TestAnchorText()._hand_model(ids)[1]))
        outdeg = defaultdict(int)
        for s, _d in edges:
            outdeg[s] += 1
        seed = {i: (150_000 if i % 64 == 0 else 0) for i in ids}
        trust = dict(seed)
        for _ in range(3):
            new = dict(seed)
            for s, d in edges:
                new[d] += (trust[s] * 850_000) // (1_000_000 * outdeg[s])
            trust = new
        out = trustrank(synthetic_linked_pages(docs))
        got = {
            int(r["url"].rsplit("/", 1)[1]): r for r in out.collect()
        }
        assert set(got) == set(ids)
        for i in ids:
            assert got[i]["trust_e6"] == trust[i], i
            assert got[i]["seed"] == (i % 64 == 0), i
        # trust decays from seeds: non-seeds unreachable from any seed
        # hold exactly 0; at least one reachable non-seed holds > 0
        nonseed = [got[i]["trust_e6"] for i in ids if i % 64]
        assert any(v > 0 for v in nonseed)
        assert any(v == 0 for v in nonseed)
        # persisted edge relation plus one eager localCheckpoint per round
        assert release_plan_caches(out) == 1 + 3

    def test_spam_cluster_starves(self, spark):
        # a reciprocal pair far from any seed gets trust 0 even
        # though pagerank would reward its mutual linkage
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import trustrank

        rows = [
            (0, "https://h/0", '<a href="https://h/1">'),
            (1, "https://h/1", ""),
            (7, "https://h/7", '<a href="https://h/8">'),
            (8, "https://h/8", '<a href="https://h/7">'),
        ]
        pages = spark.createDataFrame(
            [(i, u, h.encode()) for i, u, h in rows],
            "doc_id long, url string, html binary",
        )
        out = trustrank(pages, seeds_mod=64)
        got = {r["url"]: r["trust_e6"] for r in out.collect()}
        release_plan_caches(out)
        assert got["https://h/1"] > 0      # one hop from the seed
        assert got["https://h/7"] == 0     # spam island: no trust
        assert got["https://h/8"] == 0


class TestPaginationChains:
    """rel=next/prev chain assembly into article rows."""

    def _hand(self, ids):
        import hashlib

        def page_url(i):
            s = int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) % 4
            return f"https://site{s}.example.org/p/{i}"

        idset = set(ids)
        out = {}
        for i in ids:
            a, k = divmod(i, 4)
            L = 1 + int(hashlib.md5(str(a).encode()).hexdigest()[4],
                        16) % 4
            if k == 0:
                # walk real next-pointers: page j links j+1 while
                # j's part < L-1; a target outside the corpus is
                # appended as a dangler, then the walk stops
                parts = [page_url(i)]
                cur = i
                while cur % 4 < L - 1:
                    parts.append(page_url(cur + 1))
                    if cur + 1 not in idset:
                        break
                    cur += 1
                out[page_url(i)] = (len(parts), parts, True)
            elif k >= L:
                out[page_url(i)] = (1, [page_url(i)], True)
        return out

    def test_matches_hand_model(self, spark):
        from igtdetect_spark.operators.webpages import (
            paginate_chains,
            synthetic_paginated_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        exp = self._hand(ids)
        got = {
            r["root_url"]: (r["n_parts"], r["part_urls"], r["complete"])
            for r in paginate_chains(
                synthetic_paginated_pages(docs)
            ).collect()
        }
        assert got == exp
        # multi-part chains and singletons both occur
        assert {v[0] for v in got.values()} >= {1, 2}

    def test_dangler_and_truncation(self, spark):
        from igtdetect_spark.operators.webpages import paginate_chains

        def pg(i, nxt=None, prv=None):
            h = ""
            if nxt is not None:
                h += f'<link rel="next" href="https://h/{nxt}">'
            if prv is not None:
                h += f'<link rel="prev" href="https://h/{prv}">'
            return (i, f"https://h/{i}", h.encode())

        rows = [
            # 6-part chain: truncates at max_parts=4, complete=false
            pg(0, nxt=1), pg(1, nxt=2, prv=0), pg(2, nxt=3, prv=1),
            pg(3, nxt=4, prv=2), pg(4, nxt=5, prv=3), pg(5, prv=4),
            # dangling next: target 99 never crawled — appended as a
            # part, then the walk stops cleanly
            pg(10, nxt=99),
            # singleton
            pg(20),
        ]
        pages = spark.createDataFrame(
            rows, "doc_id long, url string, html binary"
        )
        got = {
            r["root_url"]: r
            for r in paginate_chains(pages, max_parts=4).collect()
        }
        assert set(got) == {"https://h/0", "https://h/10", "https://h/20"}
        r0 = got["https://h/0"]
        assert r0["n_parts"] == 4 and not r0["complete"]
        assert r0["part_urls"] == [f"https://h/{i}" for i in range(4)]
        r10 = got["https://h/10"]
        assert r10["part_urls"] == ["https://h/10", "https://h/99"]
        assert r10["complete"]
        assert got["https://h/20"]["part_urls"] == ["https://h/20"]


class TestCrawlBudget:
    """Hierarchical largest-remainder budget apportionment."""

    def _domains(self, spark, rows):
        return spark.createDataFrame(
            rows, "registered_domain string, public_suffix string, "
                  "n_pages long"
        )

    def test_hand_apportionment_and_exact_sum(self, spark):
        from igtdetect_spark.operators.webpages import crawl_budget

        rows = [
            ("a.com", "com", 3), ("b.com", "com", 3), ("c.com", "com", 1),
            ("d.org", "org", 2), ("e.org", "org", 1),
            (None, "zz", 5),  # suffix-only: excluded
        ]
        got = {
            r["registered_domain"]: r
            for r in crawl_budget(
                self._domains(spark, rows), total_budget=10
            ).collect()
        }
        # level 1: com w=7, org w=3, T=10 → com 7, org 3 (no leftover)
        # level 2 com: 7·3//7=3, 7·3//7=3, 7·1//7=1 → sum 7, rems 0
        # level 2 org: 3·2//3=2, 3·1//3=1 → sum 3
        assert got["a.com"]["alloc"] == 3
        assert got["b.com"]["alloc"] == 3
        assert got["c.com"]["alloc"] == 1
        assert got["d.org"]["alloc"] == 2
        assert got["e.org"]["alloc"] == 1
        assert None not in got
        assert sum(r["alloc"] for r in got.values()) == 10

    def test_largest_remainder_tiebreak(self, spark):
        from igtdetect_spark.operators.webpages import crawl_budget

        # 3 equal domains, budget 10 → base 3 each, 1 leftover unit
        # goes to the lexicographically SMALLEST name on the tie
        rows = [(n, "com", 1) for n in ("x.com", "m.com", "z.com")]
        got = {
            r["registered_domain"]: r["alloc"]
            for r in crawl_budget(
                self._domains(spark, rows), total_budget=10
            ).collect()
        }
        assert got == {"m.com": 4, "x.com": 3, "z.com": 3}

    def test_exact_sum_on_synthetic_rollup(self, spark):
        from igtdetect_spark.operators.webpages import (
            crawl_budget,
            domain_rollup,
            public_suffix_df,
            synthetic_domain_pages,
        )
        from pyspark.sql import functions as F

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        out = crawl_budget(
            domain_rollup(synthetic_domain_pages(docs),
                          public_suffix_df(spark)),
            total_budget=99_991,  # prime: forces remainders everywhere
        )
        row = out.agg(
            F.sum("alloc").alias("s"),
            F.min("alloc").alias("lo"),
        ).collect()[0]
        assert row["s"] == 99_991  # the Hamilton identity, exactly
        assert row["lo"] >= 0

    def test_plan_domain_windows_stay_partitioned(self, spark):
        # the ONLY single-partition exchanges belong to the level-1
        # suffix relation (bounded by the PSL by construction); every
        # domain-grain window hashes on public_suffix
        from igtdetect_spark.operators.webpages import (
            crawl_budget,
            domain_rollup,
            public_suffix_df,
            synthetic_domain_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        out = crawl_budget(
            domain_rollup(synthetic_domain_pages(docs),
                          public_suffix_df(spark))
        )
        plan = str(out._jdf.queryExecution().executedPlan())
        assert plan.count("Exchange SinglePartition") <= 2, plan
        assert "Exchange hashpartitioning(public_suffix" in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestMirrorHosts:
    """Bharat-Broder mirror detection: sketch, band, verify."""

    def test_exact_and_near_mirrors(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import (
            mirror_hosts,
            synthetic_mirror_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        out = mirror_hosts(synthetic_mirror_pages(docs))
        got = {(r["host_a"], r["host_b"]): r for r in out.collect()}
        assert release_plan_caches(out) == 1
        for (a, b), r in got.items():
            # only h<k> ↔ m<k> pairs can match — never two base hosts
            ka = a.lstrip("hm").split(".")[0]
            kb = b.lstrip("hm").split(".")[0]
            assert ka == kb, (a, b)
            assert {a[0], b[0]} == {"h", "m"}, (a, b)
        # exact mirrors (hid % 16 == 0) report jaccard exactly 1.0
        exact = [r for (a, b), r in got.items()
                 if int(a.lstrip("hm").split(".")[0]) % 16 == 0]
        assert exact and all(
            r["jaccard_e6"] == 1_000_000 and r["n_a"] == r["n_b"]
            == r["n_common"] for r in exact
        )
        # near mirrors that surface sit strictly below 1.0 and at or
        # above the 0.5 gate
        near = [r for (a, b), r in got.items()
                if int(a.lstrip("hm").split(".")[0]) % 16 != 0]
        assert all(
            500_000 <= r["jaccard_e6"] < 1_000_000 for r in near
        )

    def test_incomplete_bands_never_pair_small_hosts(self, spark):
        # two tiny hosts with DIFFERENT single-line content share the
        # "empty trailing band" — they must not become candidates
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import mirror_hosts

        pages = spark.createDataFrame(
            [("a.org", "u1", "only line a"),
             ("b.org", "u2", "only line b"),
             ("c.org", "u3", "same line\nsecond"),
             ("d.org", "u4", "same line\nsecond")],
            "host string, url string, text string",
        )
        out = mirror_hosts(pages, sketch_k=16, band_size=4)
        rows = out.collect()
        release_plan_caches(out)
        # a/b: 1 line each (< band_size): no complete band, no pair.
        # c/d: 2 lines, still < band_size — ALSO no pair: the screen
        # needs at least one complete band; tiny hosts are below the
        # sketch's resolution (documented behavior, not an accident)
        assert rows == []

    def test_band_size_floor_pairs_identical_small_hosts(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import mirror_hosts

        text = "l1\nl2\nl3\nl4"
        pages = spark.createDataFrame(
            [("a.org", "u1", text), ("b.org", "u2", text),
             ("x.org", "u3", "different\ncontent\nhere\nnow")],
            "host string, url string, text string",
        )
        out = mirror_hosts(pages, sketch_k=16, band_size=4)
        rows = out.collect()
        release_plan_caches(out)
        assert len(rows) == 1
        r = rows[0]
        assert (r["host_a"], r["host_b"]) == ("a.org", "b.org")
        assert r["jaccard_e6"] == 1_000_000


class TestBowtieClasses:
    """Seed-relative bow-tie decomposition (forward ∧ reverse BFS)."""

    def test_matches_hand_model(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import (
            bowtie_classes,
            synthetic_linked_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        edges = sorted(set(TestAnchorText()._hand_model(ids)[1]))
        fwd = TestCrawlDepth()._bfs(ids)

        radj = {}
        for s, d in edges:
            radj.setdefault(d, set()).add(s)
        bwd = {i: 0 for i in ids if i % 64 == 0}
        frontier = set(bwd)
        for hop in range(1, 5):
            nxt = set()
            for n in frontier:
                nxt |= radj.get(n, set())
            nxt -= set(bwd)
            for n in nxt:
                bwd[n] = hop
            frontier = nxt

        out = bowtie_classes(synthetic_linked_pages(docs))
        got = {
            int(r["url"].rsplit("/", 1)[1]): r for r in out.collect()
        }
        assert set(got) == set(ids)
        for i in ids:
            r = got[i]
            assert r["fwd_depth"] == fwd.get(i), i
            assert r["bwd_depth"] == bwd.get(i), i
            exp = ("core" if i in fwd and i in bwd
                   else "in" if i in bwd
                   else "out" if i in fwd
                   else "disconnected")
            assert r["cls"] == exp, i
        # the fixture populates every class: seeds are core by
        # definition (depth 0 both ways); the mod-256 target funnel
        # guarantees out-pages; high ids that link INTO the funnel
        # but are never targets give in/disconnected
        classes = {r["cls"] for r in got.values()}
        assert classes == {"core", "in", "out", "disconnected"}
        # handles: the shared edge relation only — both BFS runs keep
        # their frontier on the driver and checkpoint nothing
        assert release_plan_caches(out) == 1


def _planted_pages(spark, edges, n):
    """Tiny explicit page table: node i's html carries one href per
    out-edge (i, j) — the minimal input _internal_edges understands."""
    rows = []
    for i in range(n):
        links = "".join(
            f'<a href="https://t.example.org/{d}">x</a>'
            for s, d in edges
            if s == i
        )
        rows.append(
            (i, f"https://t.example.org/{i}",
             bytearray(f"<html>{links}</html>".encode()))
        )
    return spark.createDataFrame(
        rows, "doc_id long, url string, html binary"
    )


class TestTriangleCounts:
    """Degree-oriented triangle counting."""

    def test_clique_plus_pendant(self, spark):
        from igtdetect_spark.operators.webpages import triangle_counts

        # directed 4-clique (i→j for i<j) + pendant 4→0; undirected
        # view: K4 with a degree-1 tail hanging off node 0
        edges = [(i, j) for i in range(4) for j in range(4) if i < j]
        edges.append((4, 0))
        got = {
            int(r["url"].rsplit("/", 1)[1]): (r["degree"], r["triangles"])
            for r in triangle_counts(
                _planted_pages(spark, edges, 5)
            ).collect()
        }
        assert got == {
            0: (4, 3), 1: (3, 3), 2: (3, 3), 3: (3, 3), 4: (1, 0)
        }

    def test_reciprocal_and_self_edges_collapse(self, spark):
        from igtdetect_spark.operators.webpages import triangle_counts

        # both directions of each triangle edge + a self loop: the
        # undirected distinct view must count the triangle ONCE and
        # the self loop must not inflate any degree
        edges = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2), (0, 0)]
        got = {
            int(r["url"].rsplit("/", 1)[1]): (r["degree"], r["triangles"])
            for r in triangle_counts(
                _planted_pages(spark, edges, 3)
            ).collect()
        }
        assert got == {0: (2, 1), 1: (2, 1), 2: (2, 1)}


class TestBfsCheckpointRelease:
    """The BFS kernels' persisted edge relation is a release handle:
    after release_plan_caches the session holds no RDD it did not hold
    before the query.  (RDDs left by earlier tests may be cleaned up
    meanwhile, so the check is for new RDDs, not set equality.)"""

    @pytest.mark.parametrize(
        "kernel", ["crawl_depth", "bowtie_classes", "landmark_closeness"]
    )
    def test_no_rdd_outlives_release(self, spark, kernel):
        from igtdetect_spark.operators import webpages
        from igtdetect_spark.operators.dedup import release_plan_caches

        def persistent():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                       .toArray())

        pages = _planted_pages(spark, [(0, 1), (1, 2), (2, 0), (3, 0)], 4)
        kw = {"landmarks": (0,)} if kernel == "landmark_closeness" else {
            "seeds_mod": 2}
        before = persistent()
        out = getattr(webpages, kernel)(pages, max_hops=3, **kw)
        out.collect()
        assert persistent() - before, "the edge relation was not persisted"
        release_plan_caches(out)
        assert persistent() - before == set()


class TestBfsDepths:
    """Edge cases of the driver-held ``_bfs_depths`` kernel: an early
    stop, duplicate seed rows and null seed ids."""

    @staticmethod
    def _bfs(spark, edges, seeds, max_hops, keys=()):
        """(sorted output rows, Spark jobs run) of one ``_bfs_depths``."""
        from igtdetect_spark.operators import webpages
        from igtdetect_spark.operators.dedup import (
            release_plan_caches,
            scoped,
        )

        key_cols = "".join(f"{k} long, " for k in keys)
        e = spark.createDataFrame(edges, "src_id long, dst_id long")
        sd = spark.createDataFrame(seeds, f"{key_cols}id long")
        group = f"bfs-{id(seeds)}-{max_hops}"
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = scoped(webpages._bfs_depths)(e, sd, max_hops, keys)
            rows = out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        release_plan_caches(out)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return sorted(map(repr, map(tuple, rows))), jobs

    def test_empty_frontier_stops(self, spark):
        # 0 → 1 → 2: the frontier is empty before hop 3, so hops 3..10
        # run no Spark job at all
        edges = [(0, 1), (1, 2)]
        rows, jobs = self._bfs(spark, edges, [(0,)], 10)
        rows2, jobs2 = self._bfs(spark, edges, [(0,)], 3)
        assert rows == rows2 == ["(0, 0)", "(1, 1)", "(2, 2)"]
        assert jobs == jobs2

    def test_duplicate_seed_rows_kept(self, spark):
        rows, _ = self._bfs(spark, [(0, 1), (1, 0)], [(0,), (0,)], 3)
        assert rows == ["(0, 0)", "(0, 0)", "(1, 1)"]

    def test_null_seed_id_kept_not_expanded(self, spark):
        # a null id would fail the IN text (int(None)); it stays at
        # depth 0 and reaches nothing, keyed and unkeyed
        edges = [(0, 1), (1, 2)]
        rows, _ = self._bfs(spark, edges, [(None,), (1,)], 3)
        assert rows == ["(1, 0)", "(2, 1)", "(None, 0)"]
        rows, _ = self._bfs(
            spark, edges, [(7, None), (7, 0), (8, 1)], 3, keys=("lm",)
        )
        assert rows == [
            "(7, 0, 0)", "(7, 1, 1)", "(7, 2, 2)", "(7, None, 0)",
            "(8, 1, 0)", "(8, 2, 1)",
        ]


class TestLandmarkCloseness:
    """Multi-source reverse-BFS harmonic closeness."""

    def test_path_graph_two_landmarks(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import landmark_closeness

        # chain 3→2→1→0; landmarks {0, 2}; distances follow OUTLINKS
        edges = [(3, 2), (2, 1), (1, 0)]
        out = landmark_closeness(
            _planted_pages(spark, edges, 4), landmarks=(0, 2)
        )
        got = {
            int(r["url"].rsplit("/", 1)[1]):
                (r["n_landmarks"], r["closeness_e6"])
            for r in out.collect()
        }
        release_plan_caches(out)
        assert got == {
            3: (2, 1_000_000 // 3 + 1_000_000),  # 0 at d=3, 2 at d=1
            2: (1, 500_000),                     # 0 at d=2 (self d=0 skipped)
            1: (1, 1_000_000),                   # 0 at d=1; cannot reach 2
            # node 0 has no outlinks → reaches no landmark → absent
        }

    def test_horizon_bounds_distance(self, spark):
        from igtdetect_spark.operators.dedup import release_plan_caches
        from igtdetect_spark.operators.webpages import landmark_closeness

        edges = [(3, 2), (2, 1), (1, 0)]
        out = landmark_closeness(
            _planted_pages(spark, edges, 4), landmarks=(0,), max_hops=2
        )
        got = {
            int(r["url"].rsplit("/", 1)[1]): r["closeness_e6"]
            for r in out.collect()
        }
        release_plan_caches(out)
        assert got == {1: 1_000_000, 2: 500_000}  # node 3 beyond horizon


class TestBm25TopK:
    """BM25 scoring against a hand-computed planted corpus."""

    def test_matches_hand_model(self, spark):
        import math

        from igtdetect_spark.operators.indexing import bm25_topk

        docs = spark.createDataFrame(
            [
                (1, "apple apple banana"),
                (2, "apple banana banana cherry"),
                (3, "banana cherry"),
            ],
            "doc_id long, text string",
        )
        queries = spark.createDataFrame(
            [(1, "apple"), (1, "cherry"), (2, "banana")],
            "query_id int, term string",
        )
        rows = {
            (r["query_id"], r["doc_id"]): r
            for r in bm25_topk(docs, queries).collect()
        }

        def w(tf, df, dl, n=3, avgdl=3.0, k1=1.2, b=0.75):
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            return math.floor(
                1e6 * idf * (tf * (k1 + 1.0))
                / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
            )

        # q1 = {apple, cherry}: d2 matches both
        assert rows[(1, 2)]["matched_terms"] == 2
        exp_d2 = w(1, 2, 4) + w(1, 2, 4)  # apple tf=1 + cherry tf=1
        assert abs(rows[(1, 2)]["score_e6"] - exp_d2) <= 1
        exp_d1 = w(2, 2, 3)  # apple tf=2 only
        assert abs(rows[(1, 1)]["score_e6"] - exp_d1) <= 1
        assert rows[(1, 1)]["matched_terms"] == 1
        # q2 = {banana}: all three docs match; d3 (short doc) ranks
        # above d1 despite equal tf — the length normalization at work
        assert rows[(2, 3)]["rank"] < rows[(2, 1)]["rank"]
        ranks = [rows[(2, d)]["rank"] for d in (1, 2, 3)]
        assert sorted(ranks) == [1, 2, 3]


class TestPostingsGapStats:
    """d-gap statistics over a planted posting list."""

    def test_hand_gaps_and_bits(self, spark):
        from igtdetect_spark.operators.indexing import postings_gap_stats

        docs = spark.createDataFrame(
            [(0, "zz aa"), (1, "zz"), (5, "zz aa"), (12, "zz bb")],
            "doc_id long, text string",
        )
        got = {
            r["term"]: r
            for r in postings_gap_stats(docs, min_df=2).collect()
        }
        # zz postings [0,1,5,12] → gaps [1,1,4,7] (first = doc_id+1)
        z = got["zz"]
        assert (z["df"], z["max_gap"]) == (4, 7)
        assert z["avg_gap_e6"] == 13 * 1_000_000 // 4
        assert z["delta_bits"] == 1 + 1 + 3 + 3  # bin lengths 1,1,100,111
        # aa postings [0,5] → gaps [1,5] → bits 1+3
        a = got["aa"]
        assert (a["df"], a["max_gap"], a["delta_bits"]) == (2, 5, 4)
        assert "bb" not in got  # hapax dropped by min_df

    def test_top_terms_cut_is_deterministic(self, spark):
        from igtdetect_spark.operators.indexing import postings_gap_stats

        docs = spark.createDataFrame(
            [(i, "aa bb cc") for i in range(4)],
            "doc_id long, text string",
        )
        got = [r["term"] for r in
               postings_gap_stats(docs, top_terms=2).collect()]
        assert got == ["aa", "bb"]  # df ties break on the term string


class TestSearchRankFusion:
    """RRF re-ranking within the BM25 candidate set."""

    def test_rrf_tie_and_convexity(self, spark):
        from igtdetect_spark.operators.indexing import search_rank_fusion

        # two docs with swapped (text, prior) ranks: doc 1 text-first,
        # doc 2 prior-first (richer vocabulary → higher distinct_ratio)
        docs = spark.createDataFrame(
            [
                (1, "apple apple apple apple"),
                (2, "apple nice short clean"),
            ],
            "doc_id long, text string",
        )
        queries = spark.createDataFrame(
            [(1, "apple")], "query_id int, term string"
        )
        rows = {r["doc_id"]: r
                for r in search_rank_fusion(docs, queries).collect()}
        assert rows[1]["text_rank"] == 1 and rows[2]["text_rank"] == 2
        assert rows[2]["prior_rank"] == 1 and rows[1]["prior_rank"] == 2
        # a pure rank swap is RRF-SYMMETRIC: both fuse to the same
        # integer score and doc_id breaks the tie — pinned, because a
        # float RRF would make this tie engine-dependent
        tie = 1_000_000 // 61 + 1_000_000 // 62
        assert rows[1]["rrf_e6"] == tie and rows[2]["rrf_e6"] == tie
        assert rows[1]["final_rank"] == 1 and rows[2]["final_rank"] == 2

    def test_rrf_middle_doc_loses_to_extremes(self, spark):
        from igtdetect_spark.operators.indexing import search_rank_fusion

        # three docs: d1 text-best/prior-worst, d3 prior-best/text-
        # worst, d2 middle in BOTH — RRF's convexity ranks the
        # consistent middle LAST behind both extremes (a known RRF
        # property worth pinning: 1/(60+1)+1/(60+3) > 2/(60+2))
        docs = spark.createDataFrame(
            [
                (1, "apple apple apple apple apple apple"),
                (2, "apple apple nice pie"),
                (3, "apple nice short clean fresh joy"),
            ],
            "doc_id long, text string",
        )
        queries = spark.createDataFrame(
            [(1, "apple")], "query_id int, term string"
        )
        rows = {r["doc_id"]: r
                for r in search_rank_fusion(docs, queries).collect()}
        assert [rows[d]["text_rank"] for d in (1, 2, 3)] == [1, 2, 3]
        assert [rows[d]["prior_rank"] for d in (1, 2, 3)] == [3, 2, 1]
        assert rows[2]["final_rank"] == 3
        assert rows[1]["final_rank"] == 1  # extremes tie; doc_id breaks
        assert rows[3]["final_rank"] == 2


class TestDustRules:
    """Learned droppable-parameter rules from planted content."""

    def test_per_host_divergence_and_multiparam_scope(self, spark):
        from igtdetect_spark.operators.webpages import dust_rules

        rows = [
            # host a: sess preserves content (pure session marker)
            ("https://a.org/p/1", "body one"),
            ("https://a.org/p/1?sess=x", "body one"),
            ("https://a.org/p/2", "body two"),
            ("https://a.org/p/2?sess=y", "body two"),
            # host b: sess CHANGES content (content-bearing)
            ("https://b.org/p/1", "body"),
            ("https://b.org/p/1?sess=x", "body for session x"),
            # multi-param url: out of the single-param rule grain
            ("https://a.org/p/1?sess=x&page=2", "whatever"),
            # variant with no base page: no pair, must not crash/count
            ("https://c.org/p/9?sess=z", "orphan"),
        ]
        pages = spark.createDataFrame(rows, "url string, text string")
        got = {(r["host"], r["param"]): r
               for r in dust_rules(pages).collect()}
        a = got[("a.org", "sess")]
        assert (a["n_pairs"], a["preserved_ppm"], a["droppable"]) == (
            2, 1_000_000, True)
        b = got[("b.org", "sess")]
        assert (b["n_pairs"], b["preserved_ppm"], b["droppable"]) == (
            1, 0, False)
        assert ("a.org", "page") not in got  # multi-param filtered
        assert not any(h == "c.org" for h, _ in got)  # orphan variant

    def test_synthetic_planted_param_classes(self, spark):
        from igtdetect_spark.operators.webpages import (
            dust_rules,
            synthetic_param_pages,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        got = {(r["host"], r["param"]): r
               for r in dust_rules(synthetic_param_pages(docs)).collect()}
        hosts = {h for h, _ in got}
        assert len(hosts) == 4
        for h in hosts:
            assert got[(h, "utm_campaign")]["droppable"]
            assert got[(h, "sess")]["droppable"]
            assert got[(h, "sort")]["droppable"]
            assert got[(h, "page")]["preserved_ppm"] == 0
            ref = got[(h, "ref")]["preserved_ppm"]
            assert 0 < ref < 1_000_000  # the mixed param stays mixed


class TestCrawlTrapHosts:
    """URL-explosion trap screen thresholds."""

    def test_threshold_and_min_urls_gates(self, spark):
        from igtdetect_spark.operators.webpages import crawl_trap_hosts

        rows = []
        # host small.org: 100% dup ratio but only 4 urls — below
        # min_urls, must NOT flag
        for i in range(4):
            rows.append((f"https://small.org/p?x={i}", "same body"))
        # host big.org: 40 urls, 10 distinct contents → 75% dup → trap
        for i in range(40):
            rows.append((f"https://big.org/p?x={i}", f"body {i % 10}"))
        # host fine.org: 30 urls all distinct content → 0 → clean
        for i in range(30):
            rows.append((f"https://fine.org/p/{i}", f"unique {i}"))
        pages = spark.createDataFrame(rows, "url string, text string")
        got = {r["host"]: r
               for r in crawl_trap_hosts(pages, min_urls=20).collect()}
        assert not got["small.org"]["trap"]
        assert got["small.org"]["dup_ratio_ppm"] == 750_000
        assert got["big.org"]["trap"]
        assert got["big.org"]["dup_ratio_ppm"] == 750_000
        assert not got["fine.org"]["trap"]
        assert got["fine.org"]["dup_ratio_ppm"] == 0


class TestIndexShardBalance:
    """Rendezvous term→shard assignment."""

    def test_conservation_and_hand_assignment(self, spark):
        import hashlib

        from igtdetect_spark.operators.indexing import (
            index_shard_balance,
            term_frequencies,
        )

        docs = spark.createDataFrame(
            [(0, "aa bb cc aa"), (1, "aa dd"), (2, "bb aa aa")],
            "doc_id long, text string",
        )
        out = index_shard_balance(docs, n_shards=4).collect()
        # conservation: every term lands somewhere exactly once, and
        # posting mass is preserved (Σdf = 4 terms' doc counts)
        assert sum(r["n_terms"] for r in out) == 4
        dfr = (
            term_frequencies(docs)
            .groupBy("term").count().collect()
        )
        assert sum(r["n_postings"] for r in out) == sum(
            r["count"] for r in dfr
        )

        # hand rendezvous: argmax_s md5(term:s), first-max on ties
        def shard(term, k=4):
            ws = [hashlib.md5(f"{term}:{s}".encode()).hexdigest()
                  for s in range(k)]
            return ws.index(max(ws))

        from collections import Counter

        exp = Counter(shard(t) for t in ("aa", "bb", "cc", "dd"))
        got = {r["shard"]: r["n_terms"] for r in out}
        assert got == dict(exp)


class TestRobotsRfc9309:
    """Wildcard/anchor patterns + longest-match precedence."""

    def test_spec_features_on_planted_paths(self, spark):
        from igtdetect_spark.operators.webpages import (
            rfc9309_rules_df,
            robots_rfc9309,
        )

        urls = [
            "https://site0.example.org/p/7",    # *7 disallow
            "https://site0.example.org/p/77",   # *77 allow wins (longer)
            "https://site0.example.org/p/177",  # both match → allow
            "https://site1.example.org/p/12",   # /p/12$ allow beats /p/1*
            "https://site1.example.org/p/120",  # $ anchor misses → disallow
            "https://site2.example.org/p/5",    # Allow /p/ beats Disallow /
            "https://site2.example.org/p/91",   # /p/9* longest → disallow
            "https://site3.example.org/p/13",   # *3$ disallow
            "https://site3.example.org/p/130",  # anchor misses → no match
            "https://nowhere.example.net/p/1",  # unknown host → allowed
        ]
        pages = spark.createDataFrame(
            [(u, bytearray(b"<html></html>")) for u in urls],
            "url string, html binary",
        )
        got = {r["url"]: r for r in robots_rfc9309(
            pages, rfc9309_rules_df(spark)).collect()}

        def check(u, allowed, best=None, n=None):
            r = got[u]
            assert r["allowed"] == allowed, (u, dict(r.asDict()))
            if best is not None:
                assert r["best_pattern"] == best, (u, r["best_pattern"])
            if n is not None:
                assert r["n_match"] == n

        check("https://site0.example.org/p/7", False, "/p/*7", 1)
        check("https://site0.example.org/p/77", True, "/p/*77", 2)
        check("https://site0.example.org/p/177", True, "/p/*77", 2)
        check("https://site1.example.org/p/12", True, "/p/12$", 2)
        check("https://site1.example.org/p/120", False, "/p/1*", 1)
        check("https://site2.example.org/p/5", True, "/p/", 2)
        check("https://site2.example.org/p/91", False, "/p/9*", 3)
        check("https://site3.example.org/p/13", False, "/p/*3$", 1)
        check("https://site3.example.org/p/130", True, None, 0)
        check("https://nowhere.example.net/p/1", True, None, 0)


class TestClusteringCoeffs:
    """Integer clustering coefficient over the triangle kernel."""

    def test_clique_values(self, spark):
        from igtdetect_spark.operators.webpages import triangle_counts

        # K4 + pendant (see TestTriangleCounts): clique nodes of
        # degree 3 have cc = 2·3/(3·2) = 1; node 0 (degree 4, 3
        # triangles) has cc = 6/12 = 0.5; pendant (degree 1) excluded
        edges = [(i, j) for i in range(4) for j in range(4) if i < j]
        edges.append((4, 0))
        tri = triangle_counts(_planted_pages(spark, edges, 5))
        per = tri.filter("degree >= 2").selectExpr(
            "degree",
            "(2 * triangles * 1000000L) div (degree * (degree - 1))"
            " AS cc_e6",
        ).collect()
        got = {(r["degree"], r["cc_e6"]) for r in per}
        assert got == {(3, 1_000_000), (4, 500_000)}
