"""Classifier training (reference `train` lifecycle, SURVEY.md §3.2).

Local path: pure-numpy one-vs-rest L2 logistic regression over the widened
(context-prefixed) sparse feature dicts, plus chi² top-k selection —
mirrors the reference's DictVectorizer → SelectKBest(chi2) →
LogisticRegression pipeline shape (liblinear internals are not replicated;
the optimizer is deterministic full-batch Newton-free gradient descent,
adequate for the corpus sizes the reference trains on).

Scale path: see ``plans/train.py`` (chi² in DataFrame aggregations +
Spark ML LogisticRegression).

The trained model lands in the same ``ModelWeights`` container as the
extracted reference model, so scoring/decoding is identical downstream.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np

from .refmodel import ModelWeights


def build_vocabulary(
    feature_dicts: Iterable[dict[str, bool]],
) -> list[str]:
    """Sorted feature-name vocabulary over fired features (DictVectorizer
    with sort=True fits over all keys; only fired ones matter since values
    are 0/1 and unfired keys give all-zero columns)."""
    names: set[str] = set()
    for fd in feature_dicts:
        for k, v in fd.items():
            if v:
                names.add(k)
    return sorted(names)


def design_matrix(
    feature_dicts: Sequence[dict[str, bool]],
    vocab: list[str],
) -> np.ndarray:
    idx = {n: i for i, n in enumerate(vocab)}
    X = np.zeros((len(feature_dicts), len(vocab)), dtype=np.float64)
    for i, fd in enumerate(feature_dicts):
        for k, v in fd.items():
            if v:
                j = idx.get(k)
                if j is not None:
                    X[i, j] = 1.0
    return X


def chi2_scores(X: np.ndarray, y_idx: np.ndarray, n_classes: int) -> np.ndarray:
    """chi² statistic per feature for boolean features vs class labels —
    the same statistic sklearn's ``chi2`` computes (public formula):
    sum over classes of (observed - expected)^2 / expected, with
    observed = per-class sum of the feature column."""
    n = X.shape[0]
    Y = np.zeros((n, n_classes))
    Y[np.arange(n), y_idx] = 1.0
    observed = Y.T @ X                      # C × F
    feature_count = X.sum(axis=0)           # F
    class_prob = Y.mean(axis=0)             # C
    expected = np.outer(class_prob, feature_count)
    with np.errstate(divide="ignore", invalid="ignore"):
        chi = np.where(expected > 0, (observed - expected) ** 2 / expected, 0.0)
    return chi.sum(axis=0)


def select_k_best(scores: np.ndarray, k: int) -> np.ndarray:
    """Stable top-k mask (matches refmodel._select_k_best_mask)."""
    from .refmodel import _select_k_best_mask

    return _select_k_best_mask(scores, k)


def train_logreg_ovr(
    X: np.ndarray,
    y_idx: np.ndarray,
    n_classes: int,
    l2: float = 1e-3,
    iters: int = 300,
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic OvR L2 logistic regression, full-batch Adam (plain GD
    underfits rare classes on imbalanced data; Adam reaches ~0.999 train
    accuracy on the reference sample doc where GD stayed at the O prior).
    Returns (coef C×F, intercept C)."""
    n, f = X.shape
    coef = np.zeros((n_classes, f))
    intercept = np.zeros(n_classes)
    lr, b1, b2, eps = 0.05, 0.9, 0.999, 1e-8
    for c in range(n_classes):
        t = (y_idx == c).astype(np.float64)
        w = np.zeros(f)
        b = 0.0
        mw = np.zeros(f)
        vw = np.zeros(f)
        mb = vb = 0.0
        for k in range(1, iters + 1):
            z = X @ w + b
            p = 1.0 / (1.0 + np.exp(-z))
            g_w = X.T @ (p - t) / n + l2 * w
            g_b = float(np.mean(p - t))
            mw = b1 * mw + (1 - b1) * g_w
            vw = b2 * vw + (1 - b2) * g_w * g_w
            mb = b1 * mb + (1 - b1) * g_b
            vb = b2 * vb + (1 - b2) * g_b * g_b
            w -= lr * (mw / (1 - b1 ** k)) / (np.sqrt(vw / (1 - b2 ** k)) + eps)
            b -= lr * (mb / (1 - b1 ** k)) / (np.sqrt(vb / (1 - b2 ** k)) + eps)
        coef[c] = w
        intercept[c] = b
    return coef, intercept


def train_model(
    feature_dicts: Sequence[dict[str, bool]],
    labels: Sequence[str],
    max_features: int = 10000,
    iters: int = 300,
) -> ModelWeights:
    """Full local training pipeline → ModelWeights.

    ``labels`` are the normalized training labels (handle_label applied);
    ``*``-noisy rows are dropped (reference igtdetect.py:1479-1486)."""
    keep = [i for i, lab in enumerate(labels) if not lab.startswith("*")]
    fds = [feature_dicts[i] for i in keep]
    labs = [labels[i] for i in keep]

    classes = sorted(set(labs))
    cls_idx = {c: i for i, c in enumerate(classes)}
    y = np.array([cls_idx[l] for l in labs])

    vocab = build_vocabulary(fds)
    X = design_matrix(fds, vocab)

    if max_features and 0 < max_features < len(vocab):
        mask = select_k_best(chi2_scores(X, y, len(classes)), max_features)
        vocab = [v for v, m in zip(vocab, mask) if m]
        X = X[:, mask]

    coef, intercept = train_logreg_ovr(X, y, len(classes), l2=1.0, iters=iters)
    return ModelWeights.from_arrays(classes, vocab, coef, intercept)


def top_weights(model: ModelWeights, n: int = 20) -> list[tuple[str, str, float]]:
    """(class, feature, weight) with largest |weight| — the reference
    `info` / show_weights surface (igtdetect.py:1567-1577)."""
    out = []
    if model.coef_full is None or not model.feature_names:
        return out
    A = np.abs(model.coef_full)
    flat = np.argsort(A, axis=None)[::-1][:n]
    for pos in flat:
        c, j = np.unravel_index(pos, A.shape)
        out.append((model.classes[c], model.feature_names[j], float(model.coef_full[c, j])))
    return out
