"""Coverage for the remaining SURVEY §2 operators: sqlite docs-db source
(testdb), nfold cross-validation, word-overlap features, freki rendering,
doc-stats distributed path, dedup/similarity sanity."""

import sqlite3

import numpy as np
import pytest

from pyspark.sql import functions as F

from igtdetect_spark.config import DEFAULT_CONFIG, REF_SAMPLE_TEST

from conftest import needs_reference


class TestDocsDb:
    def test_read_and_join(self, spark, tmp_path):
        from igtdetect_spark.sources.docsdb import (
            pages_matching_docs_db,
            read_docs_db,
        )

        db = str(tmp_path / "docs.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE docs (doc_id TEXT, posprob REAL)")
        con.executemany(
            "INSERT INTO docs VALUES (?, ?)",
            [("94", 0.9), ("2629", 0.4), ("555", 0.7)],
        )
        con.commit()
        con.close()

        docs = read_docs_db(spark, db)
        assert {r["doc_id"] for r in docs.collect()} == {"94", "555"}

        pages = spark.createDataFrame(
            [
                ("http://x/94.tetml.html", "a"),
                ("http://x/2629.tetml.html", "b"),
                ("http://x/777.tetml.html", "c"),
            ],
            "url string, text string",
        )
        matched = pages_matching_docs_db(pages, docs)
        assert {r["url"] for r in matched.collect()} == {"http://x/94.tetml.html"}


class TestWordOverlap:
    def test_fired_names_match_oracle(self, lexicons):
        from igtdetect_spark.operators.segment import _plain_frame, batch_to_columns
        from igtdetect_spark.operators.vectorized import fired_name_lists
        from igtdetect_spark.oracle.corpus import doc_from_text, make_doc
        from igtdetect_spark.oracle.pipeline import extract_doc_features

        cfg = DEFAULT_CONFIG.with_(word_overlap=True)
        lex = lexicons
        text = (
            "the quick brown fox\nthe quick brown fox\nentirely different words\n"
            "\nthe quick brown fox jumps again today"
        )
        d = doc_from_text("u", text)
        inst = extract_doc_features(d, lex, cfg)
        from igtdetect_spark.refmodel import split_prefix

        def is_base(k):
            ctx, base = split_prefix(k)
            return ctx == "cur" and not base.startswith("prev_tag_")

        want = [sorted(k for k, v in li.feats.items() if v and is_base(k))
                for li in inst]
        cols, _ = batch_to_columns(["u"], [None], [text])
        got = fired_name_lists(_plain_frame(cols), lex, cfg)
        assert got == want
        flat = [f for fs in got for f in fs]
        assert "high_overlap" in flat and "no_overlap" in flat

    def test_tokenize_matches_split_words_on_non_ascii(self):
        """Regression: lowercasing BEFORE tokenizing moves \\w boundaries
        for codepoints whose lowercase expands (U+0130 'İ' → 'i'+U+0307) —
        tokenize_series must match the reference split_words order
        (findall first, lowercase per token)."""
        import pandas as pd

        from igtdetect_spark.featurespec import split_words
        from igtdetect_spark.operators.vectorized import tokenize_series

        cases = [
            "İstanbul is big", "Hello World", "ẞß Straße",
            "ΣΙΓΜΑ τέλος", "mixed İİ ascii", "", "a:b#c",
            "ТЕКСТ Проверка", "İ", "i̇stanbul",
        ]
        got = tokenize_series(pd.Series(cases))
        for c, g in zip(cases, got):
            assert g == split_words(c), c
        # the buggy path would split 'İstanbul' at the combining dot
        assert got[0] == ["i̇stanbul", "is", "big"]

    def test_u0130_is_the_only_risky_lowercase_codepoint(self):
        """The tokenize_series fast path assumes U+0130 is the ONLY
        codepoint whose str.lower() changes \\w-token structure —
        exhaustively re-verify over all of Unicode (cheap: only ~1.4k
        codepoints have case mappings at all)."""
        import re as _re

        W = _re.compile(r"\w+", _re.UNICODE)
        risky = []
        for cp in range(0x110000):
            c = chr(cp)
            lc = c.lower()
            if lc == c:
                continue
            if bool(W.fullmatch(c)):
                if W.findall(lc) != [lc]:
                    risky.append(cp)
            elif W.findall(lc):
                risky.append(cp)
        assert risky == [0x130]

    def test_winnowing_guarantee(self, spark):
        """Winnowing's matching guarantee: two documents sharing a
        substring of ≥ k+window-1 chars share at least one selected
        fingerprint; disjoint-alphabet docs share none."""
        from igtdetect_spark.operators.dedup import normalized_text
        from igtdetect_spark.operators.text_analysis import (
            winnowing_fingerprints,
        )

        shared = "the quick brown fox jumps over the lazy dog"
        docs = spark.createDataFrame(
            [
                (1, f"alpha beta {shared} gamma"),
                (2, f"zzz qqq {shared} kkk www"),
                (3, "completely different words here entirely unrelated"),
            ],
            "doc_id long, text string",
        )
        # recompute the selected hash SETS via the kernel's own math by
        # running it per single-doc frame and comparing signatures is not
        # enough — instead check pairwise overlap via distinct signatures
        rows = {
            r["doc_id"]: (r["n_selected"], r["winnow_sig"])
            for r in winnowing_fingerprints(docs).collect()
        }
        assert rows[1][0] > 0 and rows[2][0] > 0
        # docs 1/2 share the long substring → their selected sets overlap,
        # so they cannot both equal doc 3's and must differ from each
        # other's only partially; assert via a direct set computation
        import hashlib

        import numpy as np

        from igtdetect_spark.operators.text_analysis import (
            WINNOW_BASE,
            WINNOW_MOD,
        )

        def select(t, k=5, window=4):
            powers = [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD)
                      for j in range(k)]
            cp = [ord(c) for c in t]
            n = len(cp) - k + 1
            h = [
                sum(cp[i + j] * powers[j] for j in range(k)) % WINNOW_MOD
                for i in range(n)
            ]
            if n >= window:
                mins = [
                    min(h[i:i + window]) for i in range(n - window + 1)
                ]
            else:
                mins = [min(h)]
            return set(mins)

        norm = {
            r["doc_id"]: r["t"]
            for r in docs.select(
                "doc_id",
                normalized_text(docs["text"]).alias("t"),
            ).collect()
        }
        s1, s2, s3 = (select(norm[i]) for i in (1, 2, 3))
        assert s1 & s2, "shared substring must yield shared fingerprints"
        assert not (s1 & s3) and not (s2 & s3)
        # and the Spark kernel agrees with this spec computation
        for i, s in ((1, s1), (2, s2), (3, s3)):
            sig = hashlib.md5(
                ",".join(str(x) for x in sorted(s)).encode()
            ).hexdigest()
            assert rows[i] == (len(s), sig)

    def test_winnow_frombuffer_matches_ord_loop(self, spark):
        """Pin the vectorized codepoint extraction (np.frombuffer over
        utf-32-le) + list-repr join against the round-2 per-char ord()
        kernel on unicode-heavy, astral-plane and edge-length inputs."""
        import hashlib

        import pandas as pd

        from igtdetect_spark.operators.text_analysis import (
            WINNOW_BASE,
            WINNOW_MOD,
            winnow_batch,
        )

        def ord_loop_batch(texts, k=5, window=4):
            """The round-2 kernel: identical except codepoints come from
            a per-char Python loop."""
            n_grams_out, n_sel_out, sig_out = [], [], []
            powers = np.array(
                [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)],
                dtype=np.int64,
            )
            for t in texts.fillna(""):
                if len(t) < k:
                    n_grams_out.append(0)
                    n_sel_out.append(0)
                    sig_out.append(hashlib.md5(b"").hexdigest())
                    continue
                cp = np.array([ord(c) for c in t], dtype=np.int64)
                n = len(cp) - k + 1
                h = np.zeros(n, dtype=np.int64)
                for j in range(k):
                    h = (h + cp[j:j + n] * powers[j]) % WINNOW_MOD
                if n >= window:
                    mins = h[:n - window + 1].copy()
                    for j in range(1, window):
                        np.minimum(mins, h[j:j + n - window + 1], out=mins)
                else:
                    mins = np.array([h.min()], dtype=np.int64)
                sel = np.unique(mins)
                n_grams_out.append(n)
                n_sel_out.append(len(sel))
                sig_out.append(
                    hashlib.md5(",".join(str(int(x)) for x in sel).encode())
                    .hexdigest()
                )
            return pd.DataFrame(
                {"n_grams": n_grams_out, "n_selected": n_sel_out,
                 "winnow_sig": sig_out}
            )

        texts = pd.Series([
            "the quick brown fox jumps over the lazy dog",
            "日本語テキストの文書 and mixed ascii",
            "астральный 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝒯𝑒𝓍𝓉 \U0001F600 emoji plane",
            "",
            None,
            "abcd",          # len < k: the empty-signature path
            "abcde",         # exactly k: single gram, n < window path
            "x" * 10_000,
        ])
        got = winnow_batch(texts)
        want = ord_loop_batch(texts)
        pd.testing.assert_frame_equal(got, want)

    def test_minhash_schemes_recover_same_pairs(self, spark):
        """The affine-rehash scheme (1 md5/shingle) and the md5-permutation
        scheme (16 md5/shingle) find the same near-duplicate candidate
        pairs on the duplicate-group corpus — the 16× cheaper signature
        loses no recall here."""
        from igtdetect_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        pairs = {
            scheme: {
                (r["doc_a"], r["doc_b"])
                for r in minhash_lsh_pairs(docs, scheme=scheme).collect()
            }
            for scheme in ("affine", "md5")
        }
        assert pairs["affine"] == pairs["md5"]
        assert pairs["affine"]  # non-trivial: the corpus plants near-dups

    def test_pretokenized_hook_is_equivalent(self, spark):
        """The ``tokens=`` hook (round 6: one persisted tokenize pass
        shared by several kernels in the curation funnel) must yield
        bit-identical rows to the self-tokenizing paths, including the
        NULL-text and short-doc branches."""
        from igtdetect_spark.operators.dedup import (
            doc_tokens,
            minhash_band_hashes,
            word_shingles,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(100).unionByName(spark.createDataFrame(
            [(90001, None), (90002, "one two"), (90003, "")],
            "doc_id long, text string",
        ).withColumn("lang", F.lit("en"))
         .withColumn("source", F.lit("t"))
         .withColumn("n_chars", F.lit(0).cast("long")))
        toks = doc_tokens(docs)
        for direct, hooked in (
            (word_shingles(docs, 3),
             word_shingles(None, 3, tokens=toks)),
            (minhash_band_hashes(docs),
             minhash_band_hashes(None, tokens=toks)),
        ):
            a = sorted(map(tuple, direct.collect()))
            b = sorted(map(tuple, hooked.collect()))
            assert a == b and a

    def test_curation_funnel_token_cache_is_releasable(self, spark):
        """The funnel's persisted tokenize pass must be attached to the
        returned frame and released by release_plan_caches — not left
        behind per invocation."""
        from igtdetect_spark.entry_queries import queries
        from igtdetect_spark.operators.dedup import release_plan_caches

        df = queries()["curation_funnel"](spark, "/root/testdata/sf0.001")
        df.count()
        assert release_plan_caches(df) >= 1

    def test_ngram_shingle_cache_is_releasable(self, spark):
        """The persisted shingle relation must be releasable after the
        consuming action: repeated invocations (bench best-of-2 loops,
        long-lived sessions) must not accumulate dead cache entries."""
        from igtdetect_spark.entry_queries import queries
        from igtdetect_spark.operators.dedup import release_plan_caches

        def cached_ids():
            return set(
                spark.sparkContext._jsc.getPersistentRDDs().keySet()
                .toArray()
            )

        before = cached_ids()
        for _ in range(2):
            df = queries()["ngram_jaccard"](spark, "/root/testdata/sf0.001")
            df.count()
            assert cached_ids() - before, "shingle relation not persisted"
            released = release_plan_caches(df)
            assert released == 1
        assert cached_ids() == before  # nothing leaked

    def test_minhash_partial_band_not_dropped(self, spark):
        """n_perms not divisible by band_size: the trailing partial band
        must still be emitted (ceil, not floor)."""
        from igtdetect_spark.operators.dedup import minhash_band_hashes

        docs = spark.createDataFrame(
            [(1, "some shingled text for banding checks")],
            "doc_id long, text string",
        )
        bands = minhash_band_hashes(
            docs, n_perms=10, band_size=4
        ).collect()
        assert sorted(r["band"] for r in bands) == [0, 1, 2]

    def test_simhash_bits_parameter(self, spark):
        """bits < 64 masks to the low bits (matches the definitional
        loop); out-of-range raises."""
        import pytest as _pytest

        from igtdetect_spark.operators.dedup import simhash_batch

        import pandas as pd

        full = int(simhash_batch(pd.Series(["hello world foo"]))[0])
        got32 = int(simhash_batch(pd.Series(["hello world foo"]), 32)[0])
        assert got32 == full & 0xFFFFFFFF
        with _pytest.raises(ValueError):
            simhash_batch(pd.Series(["x"]), 65)

    def test_simhash_kernel_matches_reference_loop(self, spark):
        """Pin the vectorized simhash kernel against the definitional
        per-token/per-bit loop (the pre-vectorization implementation)."""
        import hashlib

        import numpy as np

        from igtdetect_spark.operators.dedup import (
            normalized_text,
            simhash_docs,
        )
        from pyspark.sql import functions as F

        texts = [
            "the quick brown fox", "the quick brown fox", "lorem ipsum",
            "", "   ", None, "a a a b", "x" * 50, "unicode žluťoučký kůň",
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
        norm = {
            r["doc_id"]: r["t"]
            for r in docs.select(
                "doc_id", normalized_text(F.col("text")).alias("t")
            ).collect()
        }

        def ref(t):
            toks = (t or "").split()
            if not toks:
                return 0
            acc = np.zeros(64, dtype=np.int64)
            for tok in toks:
                h = int.from_bytes(
                    hashlib.md5(tok.encode()).digest()[:8], "big"
                )
                for b in range(64):
                    acc[b] += 1 if (h >> b) & 1 else -1
            v = 0
            for b in range(64):
                if acc[b] > 0:
                    v |= 1 << b
            return int(np.uint64(v).astype(np.int64))

        for i in range(len(texts)):
            assert got[i] == ref(norm[i]), i

    def test_subword_split_java_matches_python(self, spark):
        """BPE_SPLIT_RE under Spark's java.util.regex equals Python re on
        whitespace edge cases (\\x0b, NBSP, newlines) — the third engine
        of the cross-engine contract (RE2 covered in test_properties)."""
        import re as _re

        from igtdetect_spark.operators.text_analysis import (
            BPE_SPLIT_RE,
            subword_token_stats,
        )

        cases = [
            "it's a test, isn't it? we'll see 42 times!",
            "vertical\x0btab", "nbsp here", "line\nbreak\tand tab",
            "'''", "x'll y'd mixed İ UPPER", "digits 123 456",
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_subwords"], r["n_distinct_subwords"])
            for r in subword_token_stats(docs).collect()
        }
        for i, t in enumerate(cases):
            py = _re.findall(BPE_SPLIT_RE, t.lower())
            assert got[i] == (len(py), len(set(py))), repr(t)

    def test_overlap_resets_at_doc_boundary(self):
        import pandas as pd

        from igtdetect_spark.operators.vectorized import (
            overlap_feature_columns,
            tokenize_series,
        )

        cfg = DEFAULT_CONFIG.with_(word_overlap=True)
        pdf = pd.DataFrame(
            {"url": ["a", "a", "b"], "text": ["x y z", "x y z", "x y z"]}
        )
        toks = tokenize_series(pdf["text"])
        cols = overlap_feature_columns(pdf, toks, cfg)
        # line 2 of doc a overlaps fully; line 1 of doc b has no context
        assert list(cols["high_overlap"]) == [False, True, False]


class TestNfold:
    def test_nfold_runs_and_scores(self, spark, lexicons):
        from igtdetect_spark.functions.labels import normalize_label_col
        from igtdetect_spark.operators.features import (
            bi_rewrite_tags,
            widen_context_df,
            with_features,
        )
        from igtdetect_spark.operators.segment import segment_pages
        from igtdetect_spark.plans.nfold import run_nfold
        from igtdetect_spark.oracle.corpus import doc_from_text, make_corpus
        from igtdetect_spark.sources.pages import synthetic_pages
        from pyspark.sql import functions as F

        lex_bc = spark.sparkContext.broadcast(lexicons)
        pages = synthetic_pages(spark, 20, html_every=0)
        lines = segment_pages(pages)
        rows = []
        for d in make_corpus(20, html_every=0):
            doc = doc_from_text(d.url, d.text, d.gold_tags)
            for ln in doc.lines():
                rows.append((d.url, ln.lineno, ln.tag, ln.span_id))
        gold = spark.createDataFrame(
            rows, "url string, line_no int, tag string, span_id string"
        )
        lines = lines.drop("tag", "span_id").join(gold, ["url", "line_no"])
        widened = widen_context_df(
            bi_rewrite_tags(with_features(lines, lex_bc))
        ).withColumn("norm_label", normalize_label_col(F.col("bi_tag")))

        results, summary = run_nfold(
            widened, ratio=0.8, iters=3, seed=232, max_features=2000
        )
        assert len(results) == 3
        accs = [r.accuracy for r in results]
        # small 4-doc folds vary; the mean must be strong, every fold sane
        assert sum(accs) / len(accs) >= 0.85, accs
        assert all(a >= 0.7 for a in accs), accs
        assert 0 <= summary["accuracy"][1] < 0.2  # σ sane

    def test_seeded_order_deterministic(self):
        from igtdetect_spark.plans.nfold import seeded_doc_order

        urls = [f"u{i}" for i in range(50)]
        a = seeded_doc_order(urls, 232)
        b = seeded_doc_order(list(reversed(urls)), 232)
        assert a == b
        assert a != sorted(urls)


class TestDocStatsDistributed:
    @needs_reference(REF_SAMPLE_TEST)
    def test_matches_denormalized(self, spark):
        """attach_doc_stats on a stripped lines table reproduces the
        segmentation-denormalized stats + adjacency."""
        from igtdetect_spark.operators.doc_stats import attach_doc_stats
        from igtdetect_spark.operators.segment import segment_freki_files

        lines = segment_freki_files(spark, [REF_SAMPLE_TEST]).cache()
        redone = attach_doc_stats(lines)
        want = {
            r["line_no"]: (
                r["prev_block_id"], r["next_block_id"], r["doc_llx_mode"],
                r["def_font_id"], r["def_font_size"],
            )
            for r in lines.collect()
        }
        got = {
            r["line_no"]: (
                r["prev_block_id"], r["next_block_id"], r["doc_llx_mode"],
                r["def_font_id"], r["def_font_size"],
            )
            for r in redone.collect()
        }
        assert got == want


class TestFrekiRender:
    @needs_reference(REF_SAMPLE_TEST)
    def test_render_round_trip(self):
        """Oracle freki renderer round-trips through the parser (the
        classified-doc sink shape, reference str(fd) :1281)."""
        from igtdetect_spark.oracle.freki import parse_freki, read_freki

        doc = read_freki(REF_SAMPLE_TEST)
        doc2 = parse_freki(doc.render())
        assert len(doc2) == len(doc)
        for a, b in zip(doc.lines(), doc2.lines()):
            assert (a.lineno, a.text, a.tag, a.span_id, a.fonts) == (
                b.lineno, b.text, b.tag, b.span_id, b.fonts
            )


class TestNeardupClusters:
    def test_connected_components_chain_and_islands(self, spark):
        """Deep chain (worst case for propagation) + separate component +
        the pointer-jump must reach the global min in bounded rounds."""
        from igtdetect_spark.operators.dedup import connected_components

        chain = [(i, i + 1) for i in range(9)]          # 0-1-2-...-9
        island = [(100, 101), (101, 102), (100, 102)]   # clique
        edges = spark.createDataFrame(
            chain + island, "doc_a long, doc_b long"
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        assert got == {**{i: 0 for i in range(10)},
                       **{i: 100 for i in (100, 101, 102)}}

    def test_connected_components_nonconvergence_raises(self, spark):
        """Round-4 verdict item: hitting max_rounds without the label-sum
        fixpoint must raise, not silently return wrongly split labels.
        A 9-edge path at max_rounds=1 cannot converge."""
        import pytest as _pytest

        from igtdetect_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
        )
        with _pytest.raises(RuntimeError, match="fixpoint not reached"):
            connected_components(edges, max_rounds=1)

    def test_connected_components_reliable_checkpoint_dir(self, spark, tmp_path):
        """Cluster-mode path: a checkpoint_dir switches the per-round
        frames to reliable checkpoints; results are identical and the
        directory is actually written."""
        import os

        from igtdetect_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long"
        )
        ck = str(tmp_path / "cc_ckpt")
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges, checkpoint_dir=ck).collect()
        }
        assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10}
        assert any(os.scandir(ck))  # reliable checkpoints were written

    def test_connected_components_checkpoint_dir_conflict_warns(
        self, spark, tmp_path
    ):
        """setCheckpointDir is session-global (round-4 advice): when the
        context already has a DIFFERENT checkpoint dir, the call keeps
        the existing one and warns instead of silently redirecting other
        components' checkpoints; the same dir re-requested is silent."""
        import warnings

        from igtdetect_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(0, 1), (7, 8)], "doc_a long, doc_b long"
        )
        sc = spark.sparkContext
        pre = sc._jsc.sc().getCheckpointDir()
        pre = pre.get() if pre.isDefined() else None
        sc._jsc.sc().setCheckpointDir(None)  # isolate from earlier tests
        ck1 = str(tmp_path / "cc_ck_one")
        ck2 = str(tmp_path / "cc_ck_two")
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("error")  # same dir twice: no warn
                connected_components(edges, checkpoint_dir=ck1).collect()
                connected_components(edges, checkpoint_dir=ck1).collect()
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                got = {
                    r["node"]: r["component"]
                    for r in connected_components(
                        edges, checkpoint_dir=ck2
                    ).collect()
                }
            assert got == {0: 0, 1: 0, 7: 7, 8: 7}  # still correct
            assert any("session-global" in str(x.message) for x in w)
            # the conflicting dir was NOT applied
            cur = sc._jsc.sc().getCheckpointDir().get()
            assert "cc_ck_one" in cur and "cc_ck_two" not in cur
        finally:
            sc._jsc.sc().setCheckpointDir(pre)  # restore for the suite

    def test_neardup_clusters_groups_and_singletons(self, spark):
        """Exact-copy groups cluster together under min doc_id; unique
        docs are their own representatives."""
        from igtdetect_spark.operators.dedup import neardup_clusters

        dup_a = "the quick brown fox jumps over the lazy dog again today"
        dup_b = "completely different content about spark query planning"
        rows = [
            (0, dup_a), (1, dup_a), (5, dup_a),
            (2, dup_b), (4, dup_b),
            (3, "a unique little document that matches nothing else"),
        ]
        out = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"],
                          r["is_representative"])
            for r in neardup_clusters(
                spark.createDataFrame(rows, "doc_id long, text string")
            ).collect()
        }
        assert out[0] == (0, 3, True)
        assert out[1] == (0, 3, False)
        assert out[5] == (0, 3, False)
        assert out[2] == (2, 2, True)
        assert out[4] == (2, 2, False)
        assert out[3] == (3, 1, True)


class TestGopherFilters:
    def _run(self, spark, rows):
        from igtdetect_spark.operators.text_analysis import gopher_filters

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["doc_id"]: r.asDict() for r in gopher_filters(df).collect()}

    def test_repetition_and_ratios(self, spark):
        out = self._run(spark, [
            (0, "spam ham " * 30),        # one bigram dominates
            (1, None),                     # NULL text → NULL metrics
            (2, "x"),                      # single word → no bigrams
            (3, "### #### ..."),           # symbol-heavy
        ])
        # "spam ham spam ham ...": bigrams alternate "spam ham"/"ham spam",
        # 60 words → 59 bigrams, top one appears 30 times
        assert out[0]["n_words"] == 60
        assert out[0]["top_bigram_frac_e6"] == int(30 / 59 * 1e6)
        assert out[0]["gopher_pass"] is False  # repetition gate
        assert out[1]["mean_word_len_e6"] is None
        assert out[1]["gopher_pass"] is None
        assert out[2]["n_words"] == 1
        assert out[2]["top_bigram_frac_e6"] is None  # 0/0 → NULL
        assert out[3]["frac_alpha_e6"] == 0
        assert out[3]["gopher_pass"] is False

    def test_passing_document(self, spark):
        text = (
            "the quick brown fox jumps over one lazy dog while many other "
            "animals watch from their warm places near the quiet river bank "
            "and nobody hurries anywhere because the afternoon light lasts"
        )
        out = self._run(spark, [(0, text)])
        assert out[0]["n_words"] >= 20
        assert out[0]["gopher_pass"] is True


class TestSimhashNeardup:
    def test_pairs_match_brute_force(self, spark):
        """Pigeonhole completeness: every pair within hamming <= 3 of the
        brute-force all-pairs computation must be found by the banded
        join (and nothing else)."""
        from igtdetect_spark.operators.dedup import (
            simhash_docs, simhash_neardup_pairs,
        )

        base = "the quick brown fox jumps over the lazy dog near a river"
        rows = [
            (0, base),
            (1, base),                                   # hamming 0
            (2, base.replace("lazy", "sleepy")),         # small hamming
            (3, "completely different text about query planning engines"),
            (4, base.replace("quick", "rapid").replace("dog", "cat")),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = {r["doc_id"]: r["simhash"]
                for r in simhash_docs(df).collect()}
        want = {
            (a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for a in sigs for b in sigs if a < b
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3
        }
        got = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_neardup_pairs(df).collect()
        }
        assert got == want
        assert got[(0, 1)] == 0  # identical docs collide exactly

    def test_parameter_validation(self, spark):
        import pytest
        from igtdetect_spark.operators.dedup import simhash_neardup_pairs

        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="max_hamming < n_bands"):
            simhash_neardup_pairs(df, max_hamming=4, n_bands=4)
        with pytest.raises(ValueError, match="divide 64"):
            simhash_neardup_pairs(df, max_hamming=2, n_bands=3)


class TestStratifiedSample:
    def _docs(self, spark):
        rows = [(i, "en" if i % 3 else "de") for i in range(90)]
        return spark.createDataFrame(rows, "doc_id long, lang string")

    def test_caps_and_determinism(self, spark):
        from igtdetect_spark.operators.sampling import stratified_sample

        out = stratified_sample(self._docs(spark), n_per_group=10).collect()
        by = {}
        for r in out:
            by.setdefault(r["lang"], []).append((r["sample_rank"], r["doc_id"]))
        assert sorted(len(v) for v in by.values()) == [10, 10]
        assert all(sorted(r for r, _ in v) == list(range(1, 11))
                   for v in by.values())
        again = stratified_sample(self._docs(spark), n_per_group=10).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_salted_plan_identical_output(self, spark):
        """The two-phase salted top-N must produce exactly the plain
        window's rows (only the physical plan differs)."""
        from igtdetect_spark.operators.sampling import stratified_sample

        plain = stratified_sample(self._docs(spark), n_per_group=7).collect()
        salted = stratified_sample(
            self._docs(spark), n_per_group=7, salt_parts=8
        ).collect()
        assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))

    def test_small_stratum_kept_whole(self, spark):
        from igtdetect_spark.operators.sampling import stratified_sample

        df = spark.createDataFrame(
            [(1, "en"), (2, "en"), (3, "fr")], "doc_id long, lang string"
        )
        out = stratified_sample(df, n_per_group=10, salt_parts=4).collect()
        assert len(out) == 3


class TestAsofJoin:
    def test_semantics_inclusive_bound_ties_and_misses(self, spark):
        from datetime import datetime

        from igtdetect_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, datetime(2024, 1, 5)),
             (2, 10, datetime(2024, 1, 2)),   # equal to an event ts
             (3, 10, datetime(2024, 1, 1)),   # before every event
             (4, 99, datetime(2024, 1, 5))],  # key with no events
            "order_id long, k long, odate timestamp",
        )
        right = spark.createDataFrame(
            [(100, 10, datetime(2024, 1, 2), "a"),
             (101, 10, datetime(2024, 1, 2), "b"),   # tie on ts
             (102, 10, datetime(2024, 1, 4), "c")],
            "event_id long, k long, ts timestamp, etype string",
        )
        out = {
            r["order_id"]: (r["event_id"], r["etype"])
            for r in asof_join(
                left, right, on="k", left_ts="odate", right_ts="ts",
                right_cols=["event_id", "etype", "ts"],
                tiebreak="event_id",
            ).collect()
        }
        assert out[1] == (102, "c")       # latest before Jan 5
        assert out[2] == (101, "b")       # inclusive bound; max event_id tie
        assert out[3] == (None, None)     # nothing at or before Jan 1
        assert out[4] == (None, None)     # key absent from right

    def test_null_payload_comes_from_the_matched_row_only(self, spark):
        """Round-4 advice regression: when the matched right row has a
        NULL payload cell, that NULL must surface — per-column carries
        would back-fill it from an OLDER right row, fabricating a mixed
        row no single right row contained (and diverging from DuckDB's
        native ASOF JOIN)."""
        from datetime import datetime

        from igtdetect_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, datetime(2024, 1, 5))],
            "order_id long, k long, odate timestamp",
        )
        right = spark.createDataFrame(
            [(100, 10, datetime(2024, 1, 2), "old-nonnull"),
             (101, 10, datetime(2024, 1, 4), None)],  # matched row, NULL cell
            "event_id long, k long, ts timestamp, etype string",
        )
        [row] = asof_join(
            left, right, on="k", left_ts="odate", right_ts="ts",
            right_cols=["event_id", "etype", "ts"], tiebreak="event_id",
        ).collect()
        assert row["event_id"] == 101
        assert row["etype"] is None       # NOT back-filled from event 100
        assert row["asof_ts"] == datetime(2024, 1, 4)

    def test_bucketed_hot_key_plan_is_identical(self, spark):
        """bucket_width_sec (the wired hot-key cure) must produce
        bit-identical output to the single-window plan on a corpus with
        a hot key, cross-bucket carries (buckets with only left rows),
        equal-ts ties, NULL payload cells, and a key missing from right."""
        from datetime import datetime, timedelta

        from igtdetect_spark.operators.asof import asof_join

        base = datetime(2024, 1, 1)
        # hot key 1: 200 left rows over 200 minutes; right rows only in
        # the first 30 minutes → later buckets rely purely on carry-in
        left_rows = [(i, 1, base + timedelta(minutes=i)) for i in range(200)]
        left_rows += [(1000, 2, base + timedelta(minutes=50))]   # sparse key
        left_rows += [(2000, 3, base + timedelta(minutes=50))]   # no right
        left_rows += [(3000, None, base + timedelta(minutes=50))]  # NULL key
        right_rows = [
            (100 + j, 1, base + timedelta(minutes=j * 3), f"e{j}")
            for j in range(11)                                   # ≤ min 30
        ]
        right_rows += [
            (500, 1, base + timedelta(minutes=9), None),   # NULL payload tie
            (501, 2, base + timedelta(minutes=50), "x"),   # equal-ts bound
        ]
        left = spark.createDataFrame(
            left_rows, "order_id long, k long, odate timestamp"
        )
        right = spark.createDataFrame(
            right_rows, "event_id long, k long, ts timestamp, etype string"
        )
        kw = dict(on="k", left_ts="odate", right_ts="ts",
                  right_cols=["event_id", "etype", "ts"], tiebreak="event_id")
        plain = sorted(map(tuple, asof_join(left, right, **kw).collect()))
        for width in (600, 3600):   # 10-minute and 1-hour buckets
            bucketed = sorted(map(tuple, asof_join(
                left, right, bucket_width_sec=width, **kw
            ).collect()))
            assert bucketed == plain, f"width={width}"

    def test_bucketed_window_partitions_by_bucket(self, spark):
        """The hot-key plan must actually partition the carry window by
        (key, bucket) — otherwise the cure is a no-op."""
        from datetime import datetime

        from igtdetect_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, datetime(2024, 1, 5))],
            "order_id long, k long, odate timestamp",
        )
        right = spark.createDataFrame(
            [(100, 10, datetime(2024, 1, 2), "a")],
            "event_id long, k long, ts timestamp, etype string",
        )
        df = asof_join(left, right, on="k", left_ts="odate", right_ts="ts",
                       right_cols=["event_id", "etype", "ts"],
                       tiebreak="event_id", bucket_width_sec=3600)
        plan = str(df._jdf.queryExecution().executedPlan())
        # in-bucket carry window + cross-bucket carry-in window
        assert plan.count("Window") >= 2, plan
        # the big window is keyed by (k, _b), not k alone
        assert "_b#" in plan, plan

    def test_auto_bucket_width_probes_and_matches_plain(self, spark):
        """bucket_width_sec='auto' (round-4 verdict #8): on a skewed
        corpus the probe picks a width and the output stays identical
        to the plain plan; on a uniform corpus it keeps the
        single-window plan (no _b bucket column). Bad strings raise."""
        from datetime import datetime, timedelta

        import pytest as _pytest

        from igtdetect_spark.operators.asof import asof_join, auto_bucket_width

        base = datetime(2024, 1, 1)
        left_rows = [(i, 1, base + timedelta(minutes=i)) for i in range(120)]
        left_rows += [(900 + j, 2 + j, base + timedelta(minutes=5))
                      for j in range(3)]
        right_rows = [(100 + j, 1, base + timedelta(minutes=j * 7), f"e{j}")
                      for j in range(9)]
        left = spark.createDataFrame(
            left_rows, "order_id long, k long, odate timestamp"
        )
        right = spark.createDataFrame(
            right_rows, "event_id long, k long, ts timestamp, etype string"
        )
        kw = dict(on="k", left_ts="odate", right_ts="ts",
                  right_cols=["event_id", "etype", "ts"], tiebreak="event_id")

        # probe decision: key 1 holds 129 of 132 rows — hot at a toy
        # threshold, cold at the default
        assert auto_bucket_width(
            left, right, "k", "odate", "ts", hot_key_threshold=50
        ) >= 1
        assert auto_bucket_width(
            left, right, "k", "odate", "ts"
        ) is None  # default 100k threshold: nothing hot

        plain = sorted(map(tuple, asof_join(left, right, **kw).collect()))
        hot = asof_join(left, right, bucket_width_sec="auto",
                        hot_key_threshold=50, **kw)
        assert sorted(map(tuple, hot.collect())) == plain
        assert "_b#" in str(hot._jdf.queryExecution().executedPlan())
        cold = asof_join(left, right, bucket_width_sec="auto", **kw)
        assert sorted(map(tuple, cold.collect())) == plain
        assert "_b#" not in str(cold._jdf.queryExecution().executedPlan())

        with _pytest.raises(ValueError):
            asof_join(left, right, bucket_width_sec="yes", **kw)


class TestSubstringDedup:
    """duplicated_ngram_spans on planted duplicates (round-4 verdict #4)."""

    def _docs(self, spark):
        dup = "alpha bravo charlie delta echo"          # 5-token planted run
        rows = [
            # doc 1: run at token positions 6-10
            (1, "u11 u12 u13 u14 u15 " + dup + " u16 u17 u18"),
            # doc 2: run at token positions 3-7
            (2, "v21 v22 " + dup + " v23 v24 v25 v26 v27 v28"),
            # doc 3: run TWICE, far apart (positions 1-5 and 13-17)
            (3, dup + " w31 w32 w33 w34 w35 w36 w37 " + dup),
            # doc 4: nothing duplicated
            (4, "x41 x42 x43 x44 x45 x46 x47 x48 x49 x50"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_planted_spans_exact_offsets(self, spark):
        from igtdetect_spark.operators.dedup import duplicated_ngram_spans

        out = {
            (r["doc_id"], r["span_start"]): (
                r["span_end"], r["n_tokens"], r["n_dup_grams"]
            )
            for r in duplicated_ngram_spans(self._docs(spark), n=3).collect()
        }
        # only grams fully inside the planted run repeat (context differs),
        # so each 5-token run yields 3 duplicated 3-grams → one 5-token span
        assert out == {
            (1, 6): (10, 5, 3),
            (2, 3): (7, 5, 3),
            (3, 1): (5, 5, 3),
            (3, 13): (17, 5, 3),
        }

    def test_adjacent_covers_merge_and_gap_splits(self, spark):
        """Two dup runs whose covers touch (distance ≤ n) merge into one
        maximal span; distance > n keeps them separate."""
        from igtdetect_spark.operators.dedup import duplicated_ngram_spans

        run_a, run_b = "p1 p2 p3", "q1 q2 q3"
        docs = spark.createDataFrame(
            [
                # runs at pos 1-3 and 6-8: dup gram positions 1 and 6,
                # 6-1=5 > n=3 → two spans... but wait, covers [1,3] and
                # [6,8] do not touch (gap token 4-5) → split correct
                (1, run_a + " g11 g12 " + run_b),
                (2, run_a + " g21 g22 " + run_b),
                # runs back-to-back at pos 1-3 and 4-6: dup positions 1,4
                # → 4-1=3 ≤ n → one merged span [1,6]
                (3, run_a + " " + run_b + " h31 h32 h33"),
                (4, run_a + " " + run_b + " h41 h42 h43"),
            ],
            "doc_id long, text string",
        )
        spans = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in duplicated_ngram_spans(docs, n=3).collect()
        }
        assert (1, 1, 3) in spans and (1, 6, 8) in spans
        assert (3, 1, 6) in spans
        assert not any(d == 3 and (s, e) != (1, 6) for d, s, e in spans)

    def test_short_docs_emit_nothing(self, spark):
        from igtdetect_spark.operators.dedup import duplicated_ngram_spans

        docs = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, None)], "doc_id long, text string"
        )
        assert duplicated_ngram_spans(docs, n=3).count() == 0

    def test_i64_gram_hash_spans_identical(self, spark):
        """The 100 TB shuffle-shrink option (gram_hash='i64', xxhash64
        BIGINT grams) yields spans identical to the md5 default on the
        planted-duplicate fixture — only gram equality feeds the span
        logic, so the hash scheme is plan-internal (round-4 verdict #4)."""
        from igtdetect_spark.operators.dedup import (
            duplicated_ngram_spans,
            positional_ngram_hashes,
        )

        docs = self._docs(spark)
        by_scheme = {
            scheme: sorted(
                map(tuple, duplicated_ngram_spans(
                    docs, n=3, gram_hash=scheme
                ).collect())
            )
            for scheme in ("md5", "i64")
        }
        assert by_scheme["md5"] == by_scheme["i64"]
        assert len(by_scheme["md5"]) == 4
        # the i64 gram column really is a BIGINT (8-byte shuffle key)
        g = positional_ngram_hashes(docs, n=3, gram_hash="i64")
        assert dict(g.dtypes)["gram"] == "bigint"
        with pytest.raises(ValueError):
            positional_ngram_hashes(docs, n=3, gram_hash="sha1")


class TestContaminationScreen:
    def test_eval_overlap_detected(self, spark):
        from igtdetect_spark.operators.dedup import contamination_screen

        leak = "one two three four five six"   # 6 tokens → 4 distinct 3-grams
        docs = spark.createDataFrame(
            [
                (1, "c11 c12 " + leak + " c13 c14"),     # contaminated
                (2, "d21 d22 d23 d24 d25 d26 d27 d28"),  # clean
                (3, "e31 " + leak + " e32 e33 e34 e35"), # contaminated
            ],
            "doc_id long, text string",
        )
        evalset = spark.createDataFrame(
            [(100, leak), (101, "zeta eta theta iota kappa")],
            "eval_id long, text string",
        )
        got = {
            (r["doc_id"], r["eval_id"]): r["n_shared_grams"]
            for r in contamination_screen(docs, evalset, n=3).collect()
        }
        assert got == {(1, 100): 4, (3, 100): 4}  # eval 101 hits nothing


class TestRemoveDuplicatedSpans:
    def test_planted_run_removed_clean_doc_untouched(self, spark):
        from igtdetect_spark.operators.dedup import (
            duplicated_ngram_spans,
            remove_duplicated_spans,
        )

        dup = "alpha bravo charlie delta echo"
        docs = spark.createDataFrame(
            [
                (1, "u11 u12 u13 u14 u15 " + dup + " u16 u17 u18"),
                (2, "v21 v22 " + dup + " v23 v24 v25 v26 v27 v28"),
                (3, "x41 x42 x43 x44 x45 x46 x47 x48"),   # clean
                (4, None),                                # NULL text
            ],
            "doc_id long, text string",
        )
        spans = duplicated_ngram_spans(docs, n=3)
        got = {
            r["doc_id"]: (
                r["clean_text"], r["n_removed_tokens"], r["n_kept_tokens"]
            )
            for r in remove_duplicated_spans(docs, spans).collect()
        }
        assert got[1] == ("u11 u12 u13 u14 u15 u16 u17 u18", 5, 8)
        assert got[2] == ("v21 v22 v23 v24 v25 v26 v27 v28", 5, 8)
        assert got[3] == ("x41 x42 x43 x44 x45 x46 x47 x48", 0, 8)
        assert got[4] == (None, None, None)

    def test_whole_doc_removed_yields_empty(self, spark):
        from igtdetect_spark.operators.dedup import (
            duplicated_ngram_spans,
            remove_duplicated_spans,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
        )
        spans = duplicated_ngram_spans(docs, n=3)
        got = {r["doc_id"]: (r["clean_text"], r["n_kept_tokens"])
               for r in remove_duplicated_spans(docs, spans).collect()}
        assert got == {1: ("", 0), 2: ("", 0)}


class TestMixtureResample:
    def test_uniform_target_thins_only_over_represented_cells(self, spark):
        from igtdetect_spark.operators.sampling import mixture_resample

        # 80 docs en/web, 10 fr/web, 10 de/web → uniform target ≈ 33.3
        # each: en/web thinned to ~1/3, small cells kept whole
        rows = (
            [(i, "en", "web") for i in range(80)]
            + [(100 + i, "fr", "web") for i in range(10)]
            + [(200 + i, "de", "web") for i in range(10)]
        )
        docs = spark.createDataFrame(rows, "doc_id long, lang string, source string")
        out = mixture_resample(docs).collect()
        by_cell = {}
        for r in out:
            by_cell.setdefault((r["lang"], r["source"]), []).append(r)
        # small cells: accept_ppm = 1e6 → everything accepted
        for cell in (("fr", "web"), ("de", "web")):
            assert all(r["accepted"] for r in by_cell[cell])
            assert all(r["accept_ppm"] == 1_000_000 for r in by_cell[cell])
        # big cell: accept_ppm = (100*1e6 div 3) div 80 = 416666
        en = by_cell[("en", "web")]
        assert en[0]["accept_ppm"] == 416_666
        n_acc = sum(r["accepted"] for r in en)
        assert 0 < n_acc < 80                      # actually thinned
        # decision is exactly draw < accept (deterministic md5 draw)
        assert all(r["accepted"] == (r["draw_ppm"] < r["accept_ppm"])
                   for r in out)

    def test_explicit_target_recipe(self, spark):
        from igtdetect_spark.operators.sampling import mixture_resample

        docs = spark.createDataFrame(
            [(i, "en", "web") for i in range(50)]
            + [(100 + i, "fr", "web") for i in range(50)],
            "doc_id long, lang string, source string",
        )
        # recipe: en 10% of the corpus, fr 90%; cells absent → 0
        target = spark.createDataFrame(
            [("en", "web", 100_000), ("fr", "web", 900_000)],
            "lang string, source string, target_ppm long",
        )
        out = {(r["lang"],): r for r in
               mixture_resample(docs, target_ppm=target).collect()}
        en = [r for r in mixture_resample(docs, target_ppm=target).collect()
              if r["lang"] == "en"]
        fr = [r for r in mixture_resample(docs, target_ppm=target).collect()
              if r["lang"] == "fr"]
        # en target = 100 docs * 10% = 10 docs of 50 → accept 200000 ppm
        assert en[0]["accept_ppm"] == 200_000
        # fr target = 90 docs of 50 present → capped at 1e6 (no upsample)
        assert fr[0]["accept_ppm"] == 1_000_000
        assert all(r["accepted"] for r in fr)

    def test_rerun_is_reproducible(self, spark):
        from igtdetect_spark.operators.sampling import mixture_resample

        docs = spark.createDataFrame(
            [(i, "en" if i % 3 else "fr", "web") for i in range(60)],
            "doc_id long, lang string, source string",
        )
        a = sorted(map(tuple, mixture_resample(docs).collect()))
        b = sorted(map(tuple, mixture_resample(docs).collect()))
        assert a == b


class TestRepetitionRatios:
    def test_planted_repetition_exact_values(self, spark):
        """Hand-checkable fixture: every ratio verified against the
        documented definitions (duplicate lines = 2nd+ occurrences;
        top-gram char mass = count x gram length incl. joining spaces;
        ties toward the lexicographically largest gram)."""
        from igtdetect_spark.operators.text_analysis import repetition_ratios

        docs = spark.createDataFrame(
            [
                # 4 lines, "dup line" twice: dup_line_frac = 1/4;
                # line chars 8+5+12+8=33, dup (2nd occurrence) = 8
                (1, "dup line\nalpha\nbravo juliet\ndup line"),
                # tokens: a b a b a -> bigrams: "a b"x2, "b a"x2 ->
                # tie on count 2, "b a" > "a b" -> mass 2*3=6 over
                # tok_chars 9; trigrams "a b a"x2 > "b a b" -> 10/9
                (2, "a b a b a"),
                (3, None),
                (4, "single"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r.asDict() for r in repetition_ratios(docs).collect()}
        assert got[1]["n_lines"] == 4
        assert got[1]["dup_line_frac_e6"] == 250_000
        assert got[1]["dup_line_char_frac_e6"] == int(8 / 33 * 1e6)
        assert got[2]["top_bigram_char_frac_e6"] == int(6 / 9 * 1e6)
        assert got[2]["top_trigram_char_frac_e6"] == int(10 / 9 * 1e6)
        assert got[3]["n_lines"] == 0
        assert got[3]["dup_line_frac_e6"] is None
        assert got[4]["top_bigram_char_frac_e6"] is None  # < 2 tokens

    def test_zero_shuffle_plan(self, spark):
        """The whole repetition family must stay scan-shaped: no
        exchange, and the round-6 Arrow kernel must be the ONE Python
        stage (vectorized ArrowEvalPython — never a row-pickling
        BatchEvalPython)."""
        from igtdetect_spark.operators.text_analysis import repetition_ratios

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        # the cluster-scale contract: the small-scan round-robin spread
        # only fires on tiny bench inputs (no-op past 64 MB), so pin
        # the shape with it disabled
        spark.conf.set("igtdetect.spreadSmallScanBytes", "0")
        try:
            plan = str(
                repetition_ratios(docs)._jdf.queryExecution().executedPlan()
            )
        finally:
            spark.conf.unset("igtdetect.spreadSmallScanBytes")
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert plan.count("ArrowEvalPython") == 1, plan


class TestBudgetSelect:
    """Token-budget selection: the bucketed-histogram plan must emit
    EXACTLY the set the global-sort spec admits, including the nasty
    edges (zero-token docs riding a residual-0 boundary, NULL/empty
    text, score ties broken by doc_id, budget 0 and budget ≈ total)."""

    @staticmethod
    def _model(rows, budget_ppm):
        import re

        per = []
        for i, t in rows:
            txt = t or ""
            tk = [
                w
                for w in re.sub(
                    r"[ \t\n\r\f\x0b]+", " ", txt
                ).strip().split(" ")
                if w
            ]
            n = len(tk)
            d = (len(set(tk)) * 1000000) // n if n else 0
            alnum = len(re.sub(r"[^a-zA-Z0-9 ]", "", txt))
            a = (alnum * 1000000) // len(txt) if txt else 0
            per.append((i, n, d + a))
        total = sum(p[1] for p in per)
        budget = total * budget_ppm // 1000000
        out, cum = set(), 0
        for i, n, s in sorted(per, key=lambda p: (-p[2], p[0])):
            cum += n
            if cum <= budget:
                out.add((i, n, s))
        return out

    @staticmethod
    def _docs():
        import random

        rng = random.Random(17)
        words = ["alpha", "beta", "gamma", "delta", "x9", "!!", "zz"]
        rows = [
            (0, None), (1, ""), (2, "   \t "),       # null / empty / ws-only
            (3, "same same same same"),              # low distinct ratio
            (4, "punct !!! ??? ***"),                # low alnum ratio
        ]
        for i in range(5, 65):
            rows.append(
                (i, " ".join(rng.choice(words)
                             for _ in range(rng.randrange(1, 30))))
            )
        return rows

    @pytest.mark.parametrize("ppm", [0, 100_000, 250_000, 999_999])
    def test_matches_global_sort_spec(self, spark, ppm):
        from igtdetect_spark.operators.sampling import budget_select

        rows = self._docs()
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            tuple(r)
            for r in budget_select(df, budget_ppm=ppm).collect()
        }
        assert got == self._model(rows, ppm)

    def test_zero_token_doc_on_residual_zero_boundary(self, spark):
        """Budget exactly exhausted by the top bucket: the next bucket's
        residual is 0, and a zero-token doc ordered at its head must
        still be admitted (inclusive cumsum 0 <= 0) while every
        token-bearing doc there is rejected — the clamp-vs-raw residual
        distinction in budget_select."""
        from igtdetect_spark.operators.sampling import budget_select

        # Scores: docs 0-1 land in bucket 200 (score 2e6) whose mass
        # exactly exhausts the budget; docs 2-3 BOTH score exactly 1e6
        # (bucket 100, residual 0): doc 2 is whitespace-only (0 tokens,
        # alnum ratio 1e6) and doc 3 is all-distinct pure punctuation
        # (1 token, distinct ratio 1e6, alnum 0 — no spaces survive the
        # punctuation strip). The score tie breaks on doc_id, so doc 2
        # heads the boundary bucket and must be admitted (cum 0 <=
        # residual 0) while doc 3 is rejected.
        rows = [
            (0, "one two three four"),          # score 2e6, 4 tokens
            (1, "five six seven eight"),        # score 2e6, 4 tokens
            (2, "   "),                         # score 1e6, 0 tokens
            (3, "!!!"),                         # score 1e6, 1 token
        ]
        total = 9
        ppm = 8 * 1_000_000 // total + 1       # budget == 8 exactly
        assert total * ppm // 1_000_000 == 8
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            tuple(r)
            for r in budget_select(df, budget_ppm=ppm).collect()
        }
        assert got == self._model(rows, ppm)
        assert {r[0] for r in got} == {0, 1, 2}

    def test_histogram_plan_shape(self, spark):
        """The scale claim: histogram relation broadcast back (bounded
        ≤201 rows — always a BroadcastHashJoin), no cartesian, no
        Python, and the corpus-wide window is confined to the boundary
        bucket (every non-single-partition window exchange partitions
        on the bucket key, never a global range sort of the corpus)."""
        from igtdetect_spark.operators.sampling import budget_select

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            budget_select(docs)._jdf.queryExecution().executedPlan()
        )
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        # no global total-order of the corpus anywhere in the plan
        assert "rangepartitioning" not in plan.lower(), plan


class TestBigramLmScores:
    """Corpus bigram-LM NLL scoring vs an exact Python model."""

    @staticmethod
    def _model(rows):
        import math
        import re
        from collections import Counter

        tok = {
            i: [
                w
                for w in re.sub(
                    r"[ \t\n\r\f\x0b]+", " ", (t or "").lower()
                ).strip().split(" ")
                if w
            ]
            for i, t in rows
        }
        c1 = Counter(w for tk in tok.values() for w in tk)
        v = len(c1)
        c2 = Counter(
            (a, b)
            for tk in tok.values()
            for a, b in zip(tk, tk[1:])
        )
        w_e6 = {
            bg: math.floor(math.log((n + 1) / (c1[bg[0]] + v)) * 1e6)
            for bg, n in c2.items()
        }
        out = {}
        for i, tk in tok.items():
            bgs = list(zip(tk, tk[1:]))
            if not bgs:
                continue
            nll = -sum(w_e6[bg] for bg in bgs)
            out[i] = (len(bgs), nll, nll // len(bgs))
        return out

    def test_matches_python_model(self, spark):
        from igtdetect_spark.operators.text_analysis import (
            bigram_lm_scores,
        )

        rows = [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the cat"),     # repeated bigram
            (2, "THE CAT SAT"),                # case folding
            (3, "solo"),                       # 1 token → no row
            (4, None),                         # NULL → no row
            (5, ""),                           # empty → no row
            (6, "zebra quark flux"),           # all-unseen bigrams
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_bigrams"], r["nll_e6"], r["avg_nll_e6"])
            for r in bigram_lm_scores(df).collect()
        }
        assert got == self._model(rows)

    def test_smoothing_orders_docs(self, spark):
        """A doc of corpus-frequent bigrams must score a strictly lower
        NLL than a doc of singleton bigrams — the filtering signal."""
        from igtdetect_spark.operators.text_analysis import (
            bigram_lm_scores,
        )

        rows = [(i, "good good good good good") for i in range(5)]
        rows.append((90, "weird mixture of rare words here"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["avg_nll_e6"]
            for r in bigram_lm_scores(df).collect()
        }
        assert got[0] < got[90]

    def test_vocab_joins_are_broadcast_xor_shuffle(self, spark):
        """Both count relations are vocabulary-sized: broadcast under
        the configured bound, shuffle-hash above it, never cartesian-
        joined, never Python-evaluated."""
        from igtdetect_spark.operators.text_analysis import (
            bigram_lm_scores,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan_small = str(
            bigram_lm_scores(docs)._jdf.queryExecution().executedPlan()
        )
        assert "BroadcastHashJoin" in plan_small, plan_small
        spark.conf.set("igtdetect.broadcastBoundBytes", "0")
        try:
            plan_big = str(
                bigram_lm_scores(docs)
                ._jdf.queryExecution().executedPlan()
            )
        finally:
            spark.conf.unset("igtdetect.broadcastBoundBytes")
        assert "ShuffledHashJoin" in plan_big, plan_big
        for plan in (plan_small, plan_big):
            assert "CartesianProduct" not in plan, plan
            assert "ArrowEvalPython" not in plan, plan
            assert "BatchEvalPython" not in plan, plan


class TestNbDomainScores:
    """Multinomial NB domain classifier vs an exact Python model."""

    @staticmethod
    def _model(rows):
        import math
        import re
        from collections import Counter

        tok = {
            i: (
                lab,
                [
                    w
                    for w in re.sub(
                        r"[ \t\n\r\f\x0b]+", " ", (t or "").lower()
                    ).strip().split(" ")
                    if w
                ],
            )
            for i, t, lab in rows
        }
        d = len(tok)
        d_l = Counter(lab for lab, _ in tok.values())
        t_l = Counter()
        ctl = Counter()
        vocab = set()
        for lab, tk in tok.values():
            t_l[lab] += len(tk)
            vocab.update(tk)
            for w in tk:
                ctl[(w, lab)] += 1
        v = len(vocab)
        prior = {
            lab: math.floor(math.log(n / d) * 1e6)
            for lab, n in d_l.items()
        }
        w_e6 = {
            (w, lab): math.floor(
                math.log((ctl[(w, lab)] + 1) / (t_l[lab] + v)) * 1e6
            )
            for w in vocab
            for lab in d_l
        }
        out = {}
        for i, (lab, tk) in tok.items():
            if not tk:
                continue
            scores = sorted(
                (
                    (prior[c] + sum(w_e6[(w, c)] for w in tk), c)
                    for c in d_l
                ),
                key=lambda sc: (-sc[0], sc[1]),
            )
            best, pred = scores[0]
            margin = best - scores[1][0] if len(scores) > 1 else 0
            out[i] = (pred, best, margin)
        return out

    def test_matches_python_model(self, spark):
        from igtdetect_spark.operators.text_analysis import (
            nb_domain_scores,
        )

        rows = [
            (0, "spark shuffle partition join", "eng"),
            (1, "spark join agg window", "eng"),
            (2, "recipe butter flour sugar", "food"),
            (3, "butter sugar oven bake", "food"),
            (4, "spark butter", "eng"),            # mixed evidence
            (5, None, "eng"),                      # NULL → no row
            (6, "", "food"),                       # empty → no row
            (7, "zzz qqq unseen words", "food"),   # all-smoothed doc
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        got = {
            r["doc_id"]: (r["pred_label"], r["score_e6"], r["margin_e6"])
            for r in nb_domain_scores(df).collect()
        }
        assert got == self._model(rows)
        # the classifier actually routes: characteristic vocab wins
        assert got[1][0] == "eng" and got[3][0] == "food"

    def test_single_label_margin_is_zero(self, spark):
        from igtdetect_spark.operators.text_analysis import (
            nb_domain_scores,
        )

        df = spark.createDataFrame(
            [(0, "a b c", "only"), (1, "c d", "only")],
            "doc_id long, text string, source string",
        )
        rows = nb_domain_scores(df).collect()
        assert {r["pred_label"] for r in rows} == {"only"}
        assert all(r["margin_e6"] == 0 for r in rows)

    def test_grid_join_is_broadcast_xor_shuffle(self, spark):
        from igtdetect_spark.operators.text_analysis import (
            nb_domain_scores,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan_small = str(
            nb_domain_scores(docs)._jdf.queryExecution().executedPlan()
        )
        assert "BroadcastHashJoin" in plan_small, plan_small
        spark.conf.set("igtdetect.broadcastBoundBytes", "0")
        try:
            plan_big = str(
                nb_domain_scores(docs)
                ._jdf.queryExecution().executedPlan()
            )
        finally:
            spark.conf.unset("igtdetect.broadcastBoundBytes")
        assert "ShuffledHashJoin" in plan_big, plan_big
        for plan in (plan_small, plan_big):
            assert "CartesianProduct" not in plan, plan
            assert "ArrowEvalPython" not in plan, plan
            assert "BatchEvalPython" not in plan, plan


class TestInvertedIndex:
    def test_semantics_cap_and_df_exactness(self, spark):
        from igtdetect_spark.operators.indexing import inverted_index

        # "w" in 20 docs (df 20 > cap 3), "x" in 2 (kept), "y" in 1
        # (hapax, dropped), "z" twice in ONE doc (tf 2, df 1, dropped)
        rows = [(i, "w") for i in range(20)]
        rows += [(0, "x w"), (1, "x"), (2, "y"), (3, "z z")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["term"]: r for r in
               inverted_index(docs, min_df=2, top_postings=3).collect()}
        assert set(out) == {"w", "x"}
        w = out["w"]
        # doc 0 contributes two rows ("w" and "x w") but df is
        # DOCUMENT-grain: 20 distinct docs, 21 total occurrences
        assert w["df"] == 20
        assert w["tf_total"] == 21
        assert w["postings"] == [0, 1, 2]  # capped, smallest ids, sorted
        x = out["x"]
        assert (x["df"], x["tf_total"], x["postings"]) == (2, 2, [0, 1])

    def test_tf_counts_repeats(self, spark):
        from igtdetect_spark.operators.indexing import term_frequencies

        docs = spark.createDataFrame(
            [(1, "a a b"), (2, "a")], "doc_id long, text string"
        )
        got = {(r["term"], r["doc_id"]): r["tf"]
               for r in term_frequencies(docs).collect()}
        assert got == {("a", 1): 2, ("b", 1): 1, ("a", 2): 1}

    def test_plan_no_python_no_unbounded_collect_shuffles(self, spark):
        from igtdetect_spark.operators.indexing import inverted_index

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = str(
            inverted_index(docs)._jdf.queryExecution().executedPlan()
        )
        assert "ArrowEvalPython" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        # (term, doc_id) agg + term window + final agg: the final
        # group-by must reuse the window's term partitioning, so at
        # most 2 data exchanges appear.
        assert plan.count("Exchange hashpartitioning") <= 2, plan


class TestCompactionPlan:
    """Greedy prefix-sum bin packing invariants."""

    def test_oversize_file_isolates_and_groups_fill(self, spark, tmp_path):
        import igtdetect_spark.entry_queries as eq

        # reuse the query over a tiny planted documents table
        docs = spark.createDataFrame(
            [
                # part a: three 30k files -> exclusive prefix 0/30k/60k
                # with 512B overhead -> groups 0,0,0? target 64k:
                # prefixes 0, 30512, 61024 -> 0,0,0 then file 4 prefix
                # 91536 -> group 1
                (0, "a", "x" * 30_000),
                (1, "a", "y" * 30_000),
                (2, "a", "z" * 30_000),
                (3, "a", "w" * 30_000),
                # part b: one oversized 200k file then a small one:
                # small file's prefix jumps past 3 targets -> group 3
                (10, "b", "q" * 200_000),
                (11, "b", "r" * 100),
            ],
            "doc_id long, source string, text string",
        )
        sf = str(tmp_path)
        docs.write.parquet(f"{sf}/documents.parquet")
        got = {(r["part"], r["group_id"]): r
               for r in eq.q_compaction_plan(spark, sf).collect()}
        a0 = got[("a", 0)]
        assert (a0["n_files"], a0["first_file"], a0["last_file"]) == (
            3, 0, 2)
        assert got[("a", 1)]["n_files"] == 1
        assert got[("b", 0)]["n_files"] == 1          # oversize alone
        assert got[("b", 0)]["group_bytes"] == 200_512
        assert got[("b", 3)]["first_file"] == 11      # jumped groups
        # conservation: every file in exactly one group
        assert sum(r["n_files"] for r in got.values()) == 6


class TestSnapshotExpire:
    """Reachability-based deletability."""

    def test_live_reference_protects_old_files(self, spark, tmp_path):
        import igtdetect_spark.entry_queries as eq

        docs = spark.createDataFrame(
            [(i, "src", "t") for i in range(64)],
            "doc_id long, source string, text string",
        )
        sf = str(tmp_path)
        docs.write.parquet(f"{sf}/documents.parquet")
        rows = eq.q_snapshot_expire(spark, sf).collect()
        for r in rows:
            # interval sanity: 1 <= first <= last <= 5, contiguous
            assert 1 <= r["first_snap"] <= r["last_snap"] <= 5
            assert r["n_snaps"] == r["last_snap"] - r["first_snap"] + 1
            # the invariant: deletable iff NO live snapshot (4, 5)
            # references the file — age alone never deletes
            assert r["deletable"] == (r["last_snap"] < 4)
        assert any(r["deletable"] for r in rows)
        # a file born before the live window but surviving into it
        # (birth 2, span 3 → last 4) must be protected; birth-1 files
        # can never reach snapshot 4 (span ≤ 3), so use birth 2
        assert any(
            not r["deletable"] and r["first_snap"] == 2 for r in rows
        ), "an old file kept alive by a live reference must exist"
