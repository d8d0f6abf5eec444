"""Seeded, hermetic benchmark inputs: lexicons, model, page corpora and
the registry's sf0.1 tables. Nothing here reads outside the checkout."""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import os
import random
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from igtdetect_spark.featurespec import Lexicons, split_words
from igtdetect_spark.oracle import corpus as C
from igtdetect_spark.oracle.corpus import corpus_rows, make_doc
from igtdetect_spark.refmodel import load_model

PSEUDO_LANGNAMES = 46_000
MODEL_RELPATH = os.path.join("data", "flagship_model_v3.npz")

PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


class InputError(RuntimeError):
    """An input the benchmark needs is missing from the checkout."""


def _corpus_vocab() -> set[str]:
    words: set[str] = set()
    for group in (C.PROSE, C.LANG_WORDS, C.CYR_WORDS, C.GLOSS_TOKENS,
                  C.TRANSLATIONS, C.AUTHORS, [n for n, _ in C.LANG_NAMES]):
        for s in group:
            words.update(split_words(s))
    words.update(split_words("example html head title script var body doc p br"))
    return words


def gram_lists() -> tuple[list[str], list[str]]:
    """The two gram lists (11 and 16 entries) from the corpus's own gloss
    morphemes: upper-case parts of GLOSS_TOKENS in first-seen order; the
    cased list adds the four multi-part upper-case gloss tokens."""
    parts: list[str] = []
    for tok in C.GLOSS_TOKENS:
        for p in re.split(r"[-._]", tok):
            if p and p == p.upper() and not p.isdigit() and p not in parts:
                parts.append(p)
    multi = [t for t in C.GLOSS_TOKENS
             if t == t.upper() and re.search(r"[-._]", t)]
    return parts[:11], parts + multi


def build_lexicons(seed: int) -> Lexicons:
    """ODIN-sized language-name set: the corpus's 5 names plus seeded
    pseudo-names that never collide with a corpus token, so the feature
    values (and therefore the work) do not depend on the seed."""
    rng = random.Random(seed)
    vocab = _corpus_vocab()
    names = {n.lower() for n, _ in C.LANG_NAMES}
    syll = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    while len(names) < len(C.LANG_NAMES) + PSEUDO_LANGNAMES:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(3, 5)))
        if w not in vocab:
            names.add(w)
    gl, glc = gram_lists()
    return Lexicons(langnames=frozenset(names), gram_list=gl, gram_list_cased=glc)


def lexicon_hash(lex: Lexicons) -> str:
    h = hashlib.sha256()
    for part in (sorted(lex.langnames), lex.gram_list, lex.gram_list_cased):
        h.update("\x1f".join(part).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def load_flagship_model(repo: str):
    path = os.path.join(repo, MODEL_RELPATH)
    if not os.path.exists(path):
        raise InputError(
            f"flagship model {MODEL_RELPATH} is missing from the checkout; "
            "the benchmark never retrains it"
        )
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    return load_model(path), digest


# ---------------------------------------------------------------------------
# Page corpora
# ---------------------------------------------------------------------------

def ordinary_docs(seed: int, n: int, html_every: int = 5):
    """Seeded pages; every ``html_every``-th (index ≡ 1) is HTML-sourced."""
    return [make_doc(i, seed=seed, as_html=(i % html_every == 1))
            for i in range(n)]


def mega_row(seed: int, k: int, lines: int) -> tuple[dict, int]:
    """One plain-text mega-document of at least ``lines`` non-blank lines,
    built from consecutive seeded documents (blank-line separated, so
    block structure is preserved); returns (row, lines)."""
    parts, got, j = [], 0, 0
    while got < lines:
        d = make_doc(10_000_000 * (k + 1) + j, seed=seed)
        parts.append(d.text)
        got += len(d.gold_tags)
        j += 1
    row = corpus_rows([make_doc(10_000_000 * (k + 1), seed=seed)])[0]
    row["url"] = f"https://example.org/mega/{k:02d}"
    row["text"] = "\n\n".join(parts)
    row["html"] = None
    return row, got


def write_pages(rows: list[dict], out: str, n_files: int) -> None:
    """Multi-file parquet pages table (round-robin rows over files)."""
    os.makedirs(out, exist_ok=True)
    for f in range(n_files):
        pq.write_table(
            pa.Table.from_pylist(rows[f::n_files], schema=PAGES_ARROW_SCHEMA),
            os.path.join(out, f"part-{f:03d}.parquet"),
        )


# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------

def write_registry_tables(repo: str, out: str, sf: float) -> None:
    """The sf tables from the repo's distribution-matched generator
    (fixed generator seed 42, so the stored expected checksums hold)."""
    path = os.path.join(repo, "tools", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("_perfbench_gen_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    argv = sys.argv
    sys.argv = ["gen_sf.py", str(sf), out]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            mod.main()
    finally:
        sys.argv = argv
