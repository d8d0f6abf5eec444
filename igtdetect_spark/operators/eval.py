"""Evaluation operators (SURVEY.md §2.3/§2.5): confusion counts + label
P/R/F, and exact/partial span matching as joins — all native DataFrame
expressions. Parity-tested against ``oracle.evaluate``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.labels import normalize_label_col
from ..config import DEFAULT_CONFIG, PipelineConfig


def align_eval_gold(
    eval_lines: DataFrame,
    gold_lines: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Positional (url, line_no) alignment with label normalization and
    the eval-side TB/V→O remap (igtdetect.py:1372-1375). Documents with
    differing line counts are excluded entirely (reference hard-errors,
    :1359-1362 — here: anti-join drop). Returns (url, line_no, gold,
    pred)."""
    e = eval_lines.select(
        "url", "line_no",
        F.regexp_replace(
            F.regexp_replace(
                normalize_label_col(F.col("pred"), cfg), "TB", "O"
            ),
            "V", "O",
        ).alias("pred"),
    )
    g = gold_lines.select(
        "url", "line_no",
        normalize_label_col(F.col("tag"), cfg).alias("gold"),
    )
    ok_urls = (
        e.groupBy("url").agg(F.count("*").alias("ne"))
        .join(g.groupBy("url").agg(F.count("*").alias("ng")), "url")
        .filter(F.col("ne") == F.col("ng"))
        .select("url")
    )
    return (
        e.join(F.broadcast(ok_urls), "url")
        .join(g, ["url", "line_no"])
        .select("url", "line_no", "gold", "pred")
    )


def confusion_counts(aligned: DataFrame) -> DataFrame:
    """(gold, pred, n) long-form confusion matrix."""
    return aligned.groupBy("gold", "pred").agg(F.count("*").alias("n"))


def confusion_matrix_pivot(counts: DataFrame) -> DataFrame:
    """gold-rows × pred-columns pivot for display."""
    return counts.groupBy("gold").pivot("pred").sum("n").na.fill(0)


@dataclass
class LabelMetrics:
    accuracy: float
    non_o_precision: float
    non_o_recall: float
    non_o_f1: float


def label_metrics(counts: DataFrame) -> LabelMetrics:
    """Overall accuracy + non-O P/R/F from the confusion counts — single
    collected aggregate (reference LabelEvaluator.prf(['O']))."""
    row = counts.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("gold") == F.col("pred"), F.col("n"))).alias("diag"),
        F.sum(
            F.when(
                (F.col("gold") == F.col("pred")) & (F.col("gold") != "O"),
                F.col("n"),
            )
        ).alias("diag_non_o"),
        F.sum(F.when(F.col("pred") != "O", F.col("n"))).alias("guess_non_o"),
        F.sum(F.when(F.col("gold") != "O", F.col("n"))).alias("gold_non_o"),
    ).collect()[0]
    total = row["total"] or 0
    diag = row["diag"] or 0
    dno = row["diag_non_o"] or 0
    gno = row["guess_non_o"] or 0
    ono = row["gold_non_o"] or 0
    p = dno / gno if gno else 0
    r = dno / ono if ono else 0
    f1 = 2 * p * r / (p + r) if (p + r) > 0 else 0
    return LabelMetrics(
        accuracy=diag / total if total else 0,
        non_o_precision=p, non_o_recall=r, non_o_f1=f1,
    )


# ---------------------------------------------------------------------------
# Span metrics
# ---------------------------------------------------------------------------

def exact_span_match_count(sys_spans: DataFrame, gold_spans: DataFrame) -> int:
    """Exact matches = same full line range per url (spans are contiguous,
    so the line-number tuple ≡ its endpoints; igtdetect.py:939-946).
    De-duplicated on both sides like the reference's set intersection."""
    s = sys_spans.select("url", "start_line", "end_line").distinct()
    g = gold_spans.select("url", "start_line", "end_line").distinct()
    return s.join(g, ["url", "start_line", "end_line"], "left_semi").count()


def partial_span_match_count(
    left: DataFrame, right: DataFrame
) -> int:
    """∃-semantics overlap count: left spans having ≥1 right span whose
    range contains the left span's start or end (asymmetric reference
    definition, igtdetect.py:961-976). Broadcast left-semi interval join
    — equi on url + range residual; the reference's first-match ``break``
    is exactly semi-join short-circuiting."""
    l = left.select("url", "start_line", "end_line")
    r = right.select(
        "url",
        F.col("start_line").alias("r_start"),
        F.col("end_line").alias("r_end"),
    )
    cond = (
        (l["url"] == r["url"])
        & (
            ((l["start_line"] >= r["r_start"]) & (l["start_line"] <= r["r_end"]))
            | ((l["end_line"] >= r["r_start"]) & (l["end_line"] <= r["r_end"]))
        )
    )
    return l.join(F.broadcast(r), cond, "left_semi").count()


@dataclass
class SpanMetrics:
    exact_p: float
    exact_r: float
    exact_f: float
    partial_p: float
    partial_r: float
    partial_f: float
    n_system: int
    n_gold: int


def span_metrics(sys_spans: DataFrame, gold_spans: DataFrame) -> SpanMetrics:
    n_sys = sys_spans.count()
    n_gold = gold_spans.count()
    exact = exact_span_match_count(sys_spans, gold_spans)
    pp = partial_span_match_count(sys_spans, gold_spans)
    pr = partial_span_match_count(gold_spans, sys_spans)

    def _f(p, r):
        return 2 * p * r / (p + r) if (p + r) > 0 else 0

    ep = exact / n_sys if n_sys else 0
    er = exact / n_gold if n_gold else 0
    ppp = pp / n_sys if n_sys else 0
    prr = pr / n_gold if n_gold else 0
    return SpanMetrics(
        exact_p=ep, exact_r=er, exact_f=_f(ep, er),
        partial_p=ppp, partial_r=prr, partial_f=_f(ppp, prr),
        n_system=n_sys, n_gold=n_gold,
    )


def render_report(
    counts: DataFrame,
    lm: LabelMetrics,
    sm: SpanMetrics,
    auto_sm: "SpanMetrics | None" = None,
    csv: bool = False,
) -> str:
    """The reference eval report shape (igtdetect.py:1326-1344)."""
    from ..labels import label_sort_key

    d = "," if csv else "\t"
    lines = []
    pivot = confusion_matrix_pivot(counts).collect()
    if pivot:
        # reference label_sort order: O,B,I,L,L-T,G,T,M then unknown
        order = lambda l: (label_sort_key(l), l)
        cols = sorted((c for c in pivot[0].asDict() if c != "gold"), key=order)
        pivot = sorted(pivot, key=lambda r: order(r["gold"]))
        lines.append(d.join([""] + cols))
        for r in pivot:
            rd = r.asDict()
            lines.append(d.join([rd["gold"]] + [str(rd[c]) for c in cols]))
    lines.append("")
    lines.append("----- Labels -----")
    lines.append(f" Classifiation Acc: {lm.accuracy:.2f}")
    lines.append(
        "       Non-O P/R/F: "
        + d.join(f"{x:.2f}" for x in (lm.non_o_precision, lm.non_o_recall, lm.non_o_f1))
    )
    lines.append("")
    lines.append("----- Spans ------")
    lines.append(
        "  Exact-span P/R/F: "
        + d.join(f"{x:.2f}" for x in (sm.exact_p, sm.exact_r, sm.exact_f))
    )
    lines.append(
        "Partial-span P/R/F: "
        + d.join(f"{x:.2f}" for x in (sm.partial_p, sm.partial_r, sm.partial_f))
    )
    if auto_sm is not None:
        lines.append("")
        lines.append("--- Auto-Spans ---")
        lines.append(
            "  Exact-span P/R/F: "
            + d.join(f"{x:.2f}" for x in (auto_sm.exact_p, auto_sm.exact_r, auto_sm.exact_f))
        )
        lines.append(
            "Partial-span P/R/F: "
            + d.join(f"{x:.2f}" for x in (auto_sm.partial_p, auto_sm.partial_r, auto_sm.partial_f))
        )
    return "\n".join(lines)
