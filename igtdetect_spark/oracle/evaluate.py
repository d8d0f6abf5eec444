"""Oracle evaluation (reference LabelEvaluator / SpanEvaluator,
igtdetect.py:939-1116) — confusion matrix, per-label P/R, non-O P/R/F,
exact + partial span matching with the reference's asymmetric
precision/recall overlap semantics and first-match ``break``.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

from ..labels import label_sort_key


def f_measure(p: float, r: float) -> float:
    return 2 * (p * r) / (p + r) if (p + r) > 0 else 0


class LabelEvaluator:
    def __init__(self):
        self._matrix: dict[str, dict[str, int]] = defaultdict(
            lambda: defaultdict(int)
        )

    def add_eval_pair(self, gold: str, guess: str) -> None:
        self._matrix[gold][guess] += 1

    def labels(self) -> list[str]:
        universe = set(self._matrix.keys()) | {
            g for row in self._matrix.values() for g in row
        }
        return sorted(universe, key=lambda l: (label_sort_key(l), l))

    def _matches(self, exclude=()) -> int:
        return sum(
            self._matrix[g][g] for g in self.labels() if g not in exclude
        )

    def _gold_sum(self, exclude=()) -> int:
        return sum(
            n
            for g, row in self._matrix.items()
            if g not in exclude
            for n in row.values()
        )

    def _guess_sum(self, exclude=()) -> int:
        return sum(
            n
            for row in self._matrix.values()
            for g, n in row.items()
            if g not in exclude
        )

    def precision(self, exclude=()) -> float:
        den = self._guess_sum(exclude)
        return self._matches(exclude) / den if den > 0 else 0

    def recall(self, exclude=()) -> float:
        den = self._gold_sum(exclude)
        return self._matches(exclude) / den if den > 0 else 0

    def prf(self, exclude=()):
        p, r = self.precision(exclude), self.recall(exclude)
        return p, r, f_measure(p, r)

    def counts(self) -> list[tuple[str, str, int]]:
        return sorted(
            (g, p, n)
            for g, row in self._matrix.items()
            for p, n in row.items()
        )


def exact_span_matches(eval_spans: dict, gold_spans: dict) -> int:
    """Intersection of full line-number tuples (igtdetect.py:939-946)."""
    return len(set(eval_spans.values()) & set(gold_spans.values()))


def partial_matches(eval_spans: dict, gold_spans: dict, mode: str) -> int:
    """Asymmetric overlap counting with first-match break (:951-977)."""
    matches = 0
    if mode == "precision":
        for s in eval_spans.values():
            sys_start, sys_stop = s[0], s[-1]
            for g in gold_spans.values():
                gold_start, gold_stop = g[0], g[-1]
                if (gold_stop >= sys_start >= gold_start) or (
                    gold_stop >= sys_stop >= gold_start
                ):
                    matches += 1
                    break
    elif mode == "recall":
        for g in gold_spans.values():
            gold_start, gold_stop = g[0], g[-1]
            for s in eval_spans.values():
                sys_start, sys_stop = s[0], s[-1]
                if (sys_stop >= gold_start >= sys_start) or (
                    sys_stop >= gold_stop >= sys_start
                ):
                    matches += 1
                    break
    return matches


@dataclass
class SpanEvaluator:
    exact: int = 0
    partial_precision: int = 0
    partial_recall: int = 0
    gold_spans: int = 0
    system_spans: int = 0

    def add_spans(self, eval_spans: dict, gold_spans: dict) -> None:
        self.exact += exact_span_matches(eval_spans, gold_spans)
        self.partial_precision += partial_matches(eval_spans, gold_spans, "precision")
        self.partial_recall += partial_matches(eval_spans, gold_spans, "recall")
        self.gold_spans += len(gold_spans)
        self.system_spans += len(eval_spans)

    def exact_prf(self):
        p = self.exact / self.system_spans if self.system_spans else 0
        r = self.exact / self.gold_spans if self.gold_spans else 0
        return p, r, f_measure(p, r)

    def partial_prf(self):
        p = self.partial_precision / self.system_spans if self.system_spans else 0
        r = self.partial_recall / self.gold_spans if self.gold_spans else 0
        return p, r, f_measure(p, r)


def remap_eval_label(label: str) -> str:
    """Eval-side TB/V → O remap (igtdetect.py:1373) — string replace, the
    reference applies it to the already-normalized label."""
    return label.replace("TB", "O").replace("V", "O")
