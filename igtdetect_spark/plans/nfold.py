"""n-fold cross-validation (reference `nfold`, igtdetect.py:1579-1664):
seeded shuffle of the document list, ``nfold_ratio`` train/test split
rotated ``nfold_iters`` times, features extracted ONCE and reused across
iterations (the reference's one explicit cache-this-subplan optimization →
one collect here), mean/σ of the per-iteration metrics.

The shuffle is the deterministic mirror of the reference's seeded
``Random.shuffle``: urls sorted by ``md5(f"{seed}|{url}")`` in Python
(``seeded_doc_order``) — stable across cluster sizes and partitionings.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from ..oracle.evaluate import LabelEvaluator
from ..refmodel import split_prefix
from ..training import train_model


@dataclass
class NfoldResult:
    iteration: int
    accuracy: float
    non_o_precision: float
    non_o_recall: float
    non_o_f1: float


def seeded_doc_order(urls: list[str], seed: int) -> list[str]:
    """Deterministic shuffle by hash — same result on any cluster."""
    import hashlib

    def h(u):
        return hashlib.md5(f"{seed}|{u}".encode()).hexdigest()

    return sorted(urls, key=h)


def run_nfold(
    widened: DataFrame,
    ratio: float = 0.9,
    iters: int = 10,
    seed: int = 232,
    max_features: int = 5000,
) -> tuple[list[NfoldResult], dict]:
    """``widened``: the training features DF (url, line_no, features_ctx,
    bi_tag, norm_label) — collected once, rotated.

    Returns per-iteration metrics + mean/σ summary (reference
    igtdetect.py:1652-1664)."""
    # rows arrive (url, line_no)-ordered → doc line order holds per url
    rows = [
        (r["url"], {f: True for f in r["features_ctx"]}, r["norm_label"])
        for r in widened.select("url", "line_no", "features_ctx", "norm_label")
        .orderBy("url", "line_no").collect()
    ]
    order = seeded_doc_order({url for url, _, _ in rows}, seed)
    n = len(order)
    n_test = max(1, int(round(n * (1 - ratio))))

    results: list[NfoldResult] = []
    for it in range(iters):
        # rotation: shift the test window (reference rotates
        # extracted_docs = test + train each iteration)
        start = (it * n_test) % n
        test_urls = set(
            order[(start + k) % n] for k in range(n_test)
        )
        train_fds, train_labels = [], []
        test_by_url: dict[str, list] = {}
        for url, fd, label in rows:
            if url in test_urls:
                test_by_url.setdefault(url, []).append((fd, label))
            else:
                train_fds.append(fd)
                train_labels.append(label)
        model = train_model(
            train_fds, train_labels, max_features=max_features, iters=300
        )

        ev = LabelEvaluator()
        for url, items in test_by_url.items():
            X = np.zeros((len(items), model.n_base))
            for i, (fd, _) in enumerate(items):
                for name in fd:
                    ctx, base = split_prefix(name)
                    if ctx == "cur" and not base.startswith("prev_tag_"):
                        j = model.base_index.get(base)
                        if j is not None:
                            X[i, j] = 1.0
            for (_, gold), p in zip(items, model.predict_doc(X)):
                ev.add_eval_pair(gold, p)
        results.append(
            NfoldResult(it, ev.precision(), *ev.prf(exclude=["O"]))
        )

    def mean_std(vals):
        return (
            statistics.mean(vals),
            statistics.stdev(vals) if len(vals) > 1 else 0.0,
        )

    summary = {
        "accuracy": mean_std([x.accuracy for x in results]),
        "non_o_f1": mean_std([x.non_o_f1 for x in results]),
        "iters": iters,
        "ratio": ratio,
        "seed": seed,
    }
    return results, summary
