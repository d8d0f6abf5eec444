"""The flagship workloads: IGT span detection over a seeded pages table.

flagship_uniform — ordinary pages, one in five HTML-sourced; the timed
loop alternates two sinks over the same table: spans
(``detect_spans_auto``, which takes the fused path here) and classified
lines (``classify_lines_fused``).
flagship_skewed — ordinary pages plus mega-documents, one large enough
that ``choose_detect_path`` picks ``chunked`` at 4 cores; timed with
``detect_spans_auto``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from statistics import median

from .common import CORES, Clock, checksum_df, new_session, run_checksum
from .inputs import (
    build_lexicons,
    corpus_rows,
    lexicon_hash,
    load_flagship_model,
    mega_row,
    ordinary_docs,
    write_pages,
)
from .trace import group_stages, plan_nodes, plan_summary, python_rows_out, task_skew

SPECS = {
    "flagship_uniform": {
        "docs": 6_000, "files": 16, "mega_lines": (), "path": "fused",
        "ops": ("spans", "lines"),
    },
    # The 260k-line document (~10.6M chars) must exceed both the cost model's
    # chunking threshold (0.6 x fair share + 8M chars, ~9.9M here) and
    # detect_spans_auto's per-document cut (2 x fair share) at 4 cores.
    # Only one document can exceed half the corpus, so the two 15k-line
    # ones stay on the fused branch, where each is one serial task.
    "flagship_skewed": {
        "docs": 1_000, "files": 8, "mega_lines": (260_000, 15_000, 15_000),
        "path": "chunked", "ops": ("spans",),
    },
}
SETUP_ROUNDS = 3
ORACLE_SAMPLE = 40
WARMUP_DOCS = 128
WARMUP_MAX_CHARS = 100_000
WARMUP_CHUNK_LINES = 2_500
REPLAY_BATCH_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch
TRACED_CALL = {"lines": "plans.pipeline.classify_lines_fused"}


def _build_rows(spec: dict, seed: int):
    docs = ordinary_docs(seed, spec["docs"])
    rows = corpus_rows(docs)
    lines = sum(len(d.gold_tags) for d in docs)
    for k, n in enumerate(spec["mega_lines"]):
        row, got = mega_row(seed, k, n)
        rows.append(row)
        lines += got
    return rows, lines


class Flagship:
    def __init__(self, name, seed, seconds, tracer, repo, work):
        self.name, self.seed, self.seconds = name, seed, seconds
        self.spec = SPECS[name]
        self.tr, self.repo, self.work = tracer, repo, work
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.report: dict = {}

    # -- set-up ------------------------------------------------------------
    def _setup_round(self, r: int) -> float:
        from igtdetect_spark.plans.pipeline import DetectContext, detect_spans_fused
        from igtdetect_spark.sources.pages import read_pages

        tr = self.tr
        if self.spark is not None:
            self.spark.stop()
        path = os.path.join(self.work, f"pages-r{r}")
        shutil.rmtree(os.path.join(self.work, f"pages-r{r - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        with tr.span("setup.round", round=r):
            with tr.span("session.build_session"):
                self.spark = new_session(self.work)
            with tr.span("inputs.write_pages"):
                write_pages(self.rows, path, self.spec["files"])
            with tr.span("sources.pages.read_pages"):
                self.pages = read_pages(self.spark, path)
            with tr.span("pipeline.DetectContext"):
                self.model, self.model_hash = load_flagship_model(self.repo)
                self.ctx = DetectContext(self.spark, self.model, self.lex)
            with tr.span("setup.warmup"):
                # starts the Python worker daemon and one worker, which
                # loads the broadcasts
                detect_spans_fused(self.pages.limit(16), self.ctx).count()
        return time.perf_counter() - t0

    def setup(self) -> list[float]:
        # Inputs are generated once (deterministic in the seed); every
        # set-up round then writes, reads, broadcasts and warms up anew.
        with self.tr.span("inputs.generate"):
            self.lex = build_lexicons(self.seed)
            self.rows, self.n_lines = _build_rows(self.spec, self.seed)
        times = [self._setup_round(r) for r in range(SETUP_ROUNDS)]
        self._prime()
        self.report.update({
            "lexicon_hash": lexicon_hash(self.lex),
            "model_hash": self.model_hash,
            "docs": len(self.rows),
            "lines": self.n_lines,
            "html_docs": sum(1 for r in self.rows if r["html"] is not None),
            "mega_doc_lines": list(self.spec["mega_lines"]),
            "parquet_files": self.spec["files"],
        })
        return times

    def _prime(self):
        """Untimed, once per run: a few ordinary pages from every input
        split (a Python worker per core), and for flagship_skewed the
        chunked machinery (split, chunk shuffle, stitch) on one small
        mega-document cut into small chunks."""
        from pyspark.sql import functions as F

        from igtdetect_spark.plans.chunked import detect_spans_chunked
        from igtdetect_spark.plans.pipeline import detect_spans_fused

        with self.tr.span("prime"):
            warm = self.pages.filter(
                F.length(F.coalesce("text", F.lit(""))) < WARMUP_MAX_CHARS
            ).sample(fraction=WARMUP_DOCS / len(self.rows), seed=0)
            detect_spans_fused(warm, self.ctx).count()
            if self.spec["mega_lines"]:
                self.small_mega = self.pages.filter(F.col("url") == self.rows[-1]["url"])
                self.small_mega_chunked = run_checksum(checksum_df(detect_spans_chunked(
                    self.small_mega, self.ctx, chunk_lines=WARMUP_CHUNK_LINES,
                    mega_doc_chars=WARMUP_MAX_CHARS,
                )))

    # -- timed loop ----------------------------------------------------------
    def _action(self, kind: str):
        from igtdetect_spark.plans.chunked import detect_spans_auto
        from igtdetect_spark.plans.pipeline import classify_lines_fused, detect_spans_fused

        sink = {
            "spans": detect_spans_auto,
            "lines": classify_lines_fused,
            "fused": detect_spans_fused,
        }[kind]
        return checksum_df(sink(self.pages, self.ctx))

    def timed(self):
        """Closed loop: one action at a time, cycling through the
        workload's operations until the window has passed. A traced run
        times the same actions with spans around the public calls and
        reads each action's plan and task metrics after it finished."""
        self.results: dict[str, set] = {}
        self.times: dict[str, list[float]] = {}
        self.per_op: dict[str, list] = {}
        if self.tr.enabled:
            self.scan_tasks = self.pages.rdd.getNumPartitions()
        clock = Clock(self.seconds)
        while clock.more() and not self.failures:
            for kind in self.spec["ops"]:
                self.attempted += 1
                try:
                    res, dt = self._traced_op(kind, clock.ops) if self.tr.enabled \
                        else self._op(kind)
                    self.times.setdefault(kind, []).append(dt)
                    self.results.setdefault(kind, set()).add(res)
                except Exception as e:  # noqa: BLE001 — a failed action is counted
                    self.failures.append(f"{kind}: {type(e).__name__}: {e}")
            clock.tick()

    def _op(self, kind: str):
        t = time.perf_counter()
        res = run_checksum(self._action(kind))
        return res, time.perf_counter() - t

    def _traced_op(self, kind: str, i: int):
        from igtdetect_spark.plans.chunked import corpus_char_stats, detect_spans_auto

        sc, tr = self.spark.sparkContext, self.tr
        group = f"{kind}-{i}"
        sc.setJobGroup(group, group)
        with tr.span(f"op.{kind}", group=group) as op:
            if kind == "spans":
                with tr.span("plans.chunked.corpus_char_stats"):
                    st = corpus_char_stats(self.pages)
                with tr.span("plans.chunked.detect_spans_auto"):
                    df = checksum_df(detect_spans_auto(self.pages, self.ctx, stats=st))
                    res = run_checksum(df)
            else:
                with tr.span(TRACED_CALL[kind]):
                    df = self._action(kind)
                    res = run_checksum(df)
        sc.setJobGroup("perfbench", "perfbench")
        nodes = plan_nodes(self.spark, df)
        stages = group_stages(self.spark, group)
        self.per_op.setdefault(kind, []).append({
            "wall_s": op["dur_s"], "plan": plan_summary(nodes),
            "chunks": python_rows_out(nodes, "chunk_no"),
            "skew": task_skew(stages), "stages": stages,
        })
        return res, op["dur_s"]

    # -- correctness -------------------------------------------------------
    def check(self):
        from igtdetect_spark.plans.chunked import (
            choose_detect_path, chunking_refusal, corpus_char_stats,
        )

        for kind, res in self.results.items():
            if len(res) != 1:
                self.failures.append(f"{kind}: results differ between actions: {res}")
        mx, tot = corpus_char_stats(self.pages)
        path = ("fused" if chunking_refusal(self.ctx)
                else choose_detect_path(mx, tot, CORES))
        self.report.update(detect_path=path, max_doc_chars=mx, total_chars=tot)
        if path != self.spec["path"]:
            self.failures.append(f"detect path {path}, expected {self.spec['path']}")
        spans = self.results.get("spans", set())
        if self.spec["mega_lines"]:
            self._check_chunking(spans)
        if spans:
            self.report["spans"] = next(iter(spans))[0]
        if "lines" in self.results:
            self.report["classified_lines"] = next(iter(self.results["lines"]))[0]
        self._check_oracle()

    def _check_chunking(self, spans: set):
        """Chunked spans must hash-equal the whole-document spans: every
        run on a 15k-line mega-document cut into 2,500-line chunks during
        priming; traced runs also on the whole table, where the timed
        ``detect_spans_auto`` took the chunked path."""
        from igtdetect_spark.plans.pipeline import detect_spans_fused

        self.attempted += 1
        fused = run_checksum(checksum_df(detect_spans_fused(self.small_mega, self.ctx)))
        if fused != self.small_mega_chunked:
            self.failures.append(
                f"chunked {self.small_mega_chunked} != fused {fused} on the 15k-line doc")
        if self.tr.enabled:
            self.attempted += 1
            fused = run_checksum(self._action("fused"))
            if {fused} != spans:
                self.failures.append(f"auto (chunked) spans {spans} != fused spans {fused}")

    def _oracle_sample(self) -> list[dict]:
        n = self.spec["docs"]
        idx = set(random.Random(self.seed).sample(range(n), ORACLE_SAMPLE))
        idx.update(range(1, 20, 5))  # HTML pages, whatever the draw
        sample = [self.rows[i] for i in sorted(idx)]
        if self.spec["mega_lines"]:
            sample.append(self.rows[n + 1])  # a 15k-line mega-document
        return sample

    def _check_oracle(self):
        """Per-url detected text from Spark must be byte-identical to the
        pure-Python oracle's with the same model and lexicon."""
        from pyspark.sql import functions as F

        from igtdetect_spark.oracle.corpus import doc_from_text
        from igtdetect_spark.oracle.pipeline import detected_text, run_doc
        from igtdetect_spark.plans.pipeline import detect_spans_fused, detected_text_df
        from igtdetect_spark.segmentation import extract_page_text

        sample = self._oracle_sample()
        self.attempted += 1
        got = {
            r["url"]: r["detected_text"]
            for r in detected_text_df(detect_spans_fused(
                self.pages.filter(F.col("url").isin([r["url"] for r in sample])),
                self.ctx,
            )).collect()
        }
        want = {}
        for r in sample:
            doc = doc_from_text(r["url"], extract_page_text(r["html"], r["text"]))
            txt = detected_text(run_doc(doc, self.model, self.lex, self.ctx.cfg)[2])
            if txt:
                want[r["url"]] = txt
        bad = sorted(u for u in set(got) | set(want) if got.get(u) != want.get(u))
        self.report["oracle_docs"] = len(sample)
        self.report["oracle_html_docs"] = sum(1 for r in sample if r["html"] is not None)
        if bad:
            self.failures.append(f"oracle mismatch on {len(bad)} urls, e.g. {bad[:3]}")

    # -- traced-run extras -------------------------------------------------
    def replay(self) -> dict:
        """Kernel replay on the driver: the workload's own documents through
        the public kernel functions in Arrow-batch-sized batches; the
        largest document is replayed alone as the first batch."""
        import pandas as pd

        from igtdetect_spark.operators.segment import _plain_frame, batch_to_columns
        from igtdetect_spark.operators.vectorized import (
            base_feature_matrix, score_matrix, spans_from_labels,
        )
        from igtdetect_spark.segmentation import extract_page_text

        tr, cfg, lex, model = self.tr, self.ctx.cfg, self.lex, self.model
        size = [len(r["text"] or r["html"] or b"") for r in self.rows]
        big = max(range(len(self.rows)), key=size.__getitem__)
        rest = [r for i, r in enumerate(self.rows) if i != big]
        batches = [[self.rows[big]]] + [
            rest[a:a + REPLAY_BATCH_ROWS]
            for a in range(0, len(rest), REPLAY_BATCH_ROWS)
        ]
        lines_out = spans_out = 0
        max_doc_s = 0.0
        with tr.span("replay") as root:
            for batch in batches:
                pdf = pd.DataFrame(batch)
                with tr.span("replay.batch") as b:
                    with tr.span("segment.batch_to_columns"):
                        cols, slices = batch_to_columns(
                            pdf["url"], pdf["html"], pdf["text"], cfg.html_main_content)
                    with tr.span("segment.plain_frame"):
                        lines = _plain_frame(cols)
                    with tr.span("vectorized.base_feature_matrix"):
                        X = base_feature_matrix(lines, lex, cfg, model)
                    with tr.span("vectorized.score_matrix"):
                        labels: list[str] = []
                        for _, a, z in slices:
                            labels.extend(score_matrix(X[a:z], model, cfg)[0])
                    with tr.span("vectorized.spans_from_labels"):
                        out = spans_from_labels(
                            cols["url"], cols["line_no"], cols["block_id"],
                            cols["text"], labels, slices, cfg)
                if lines_out == 0:
                    max_doc_s = b["dur_s"]
                lines_out += len(labels)
                spans_out += len(out)
            with tr.span("segmentation.extract_page_text"):
                for r in self.rows:
                    if r["html"] is not None:
                        extract_page_text(r["html"], None)
        tot = tr.totals()
        layers = ("segment.batch_to_columns", "segment.plain_frame",
                  "vectorized.base_feature_matrix", "vectorized.score_matrix",
                  "vectorized.spans_from_labels", "segmentation.extract_page_text")
        wall = root["dur_s"]
        return {
            "segment.batch_to_columns_s": tot["segment.batch_to_columns"]["self_s"],
            "segment.lines_out": lines_out,
            "segmentation.extract_page_text_s":
                tot["segmentation.extract_page_text"]["self_s"],
            "vectorized.base_feature_matrix_s":
                tot["vectorized.base_feature_matrix"]["self_s"],
            "vectorized.score_matrix_s": tot["vectorized.score_matrix"]["self_s"],
            "vectorized.spans_from_labels_s":
                tot["vectorized.spans_from_labels"]["self_s"],
            "vectorized.spans_out": spans_out,
            "chunked.max_doc_kernel_s": max_doc_s,
            "replay.wall_s": wall,
            "replay.layer_share": sum(tot[k]["self_s"] for k in layers) / wall,
        }

    def scaling_leg(self) -> float:
        """Spans-sink wall time on local[1] over the same table (the last
        set-up round's parquet files)."""
        from igtdetect_spark.plans.pipeline import DetectContext, detect_spans_fused
        from igtdetect_spark.sources.pages import read_pages

        path = os.path.join(self.work, f"pages-r{SETUP_ROUNDS - 1}")
        self.spark.stop()
        self.spark = new_session(self.work, master="local[1]")
        self.pages = read_pages(self.spark, path)
        self.ctx = DetectContext(self.spark, self.model, self.lex)
        detect_spans_fused(self.pages.limit(64), self.ctx).count()
        t = time.perf_counter()
        run_checksum(self._action("spans"))
        return time.perf_counter() - t

    # -- metrics -----------------------------------------------------------
    def end_to_end(self) -> dict:
        """Medians over the timed actions (0 for an operation that never
        succeeded; the run is then reported incorrect)."""
        def med(kind):
            return median(self.times.get(kind) or [0.0])

        spans_s = med("spans")
        r = self.report
        if spans_s:
            r["docs_per_s"] = r["docs"] / spans_s
            r["lines_per_s"] = r["lines"] / spans_s
        if "lines" in self.times:
            r["classify_lines_per_s"] = r["classified_lines"] / med("lines")
        return {"primary_s": spans_s}

    def per_layer(self, replay: dict, scaling_s: float | None) -> dict:
        ops = self.per_op["spans"]
        plans = [o["plan"] for o in ops]

        def med(key, rows=plans):
            return median([p[key] for p in rows])

        tot = self.tr.totals()
        stats = tot["plans.chunked.corpus_char_stats"]
        m = {
            "sources.scan_s": med("scan_s"),
            "sources.scan_bytes": med("scan_bytes"),
            "sources.scan_tasks": self.scan_tasks,
            "pipeline.python_total_s": med("python_total_s"),
            "pipeline.python_data_sent_bytes": med("python_data_sent_bytes"),
            "pipeline.python_data_received_bytes": med("python_data_received_bytes"),
            "pipeline.task_max_over_median": median([o["skew"] for o in ops]),
            "pydaemon.python_boot_s": med("python_boot_s"),
            "pydaemon.python_init_s": med("python_init_s"),
            "chunked.path_chunked": int(self.report["detect_path"] == "chunked"),
            "chunked.corpus_char_stats_s": stats["wall_s"] / stats["n"],
            "chunked.chunks": median([o["chunks"] for o in ops]),
            "chunked.shuffle_write_bytes": med("shuffle_write_bytes"),
            **replay,
            "trace.primary_s": median(self.times["spans"]),
        }
        if "lines" in self.per_op:
            lp = [o["plan"] for o in self.per_op["lines"]]
            m["pipeline.lines_python_total_s"] = med("python_total_s", lp)
            m["pipeline.lines_python_data_received_bytes"] = med(
                "python_data_received_bytes", lp)
        if scaling_s is not None:
            # lines/s on local[4] over 4 x lines/s on local[1], both warm
            # (the local[1] action follows the whole run in the same JVM)
            m["flagship.scaling_eff"] = scaling_s / (CORES * min(self.times["spans"]))
        return m

    def close(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
