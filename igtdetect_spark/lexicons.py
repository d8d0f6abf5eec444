"""Lookup-dimension loaders (gram lists, language names).

Reference semantics: read_wl = set of stripped lines
(igtdetect.py:1919-1926); parse_langnames = lowercased comma-split names
≥5 chars from cols 4+ of langs.txt with ``[`` stripped
(igtdetect.py:798-813). The reference's English / gloss / meta wordlists
(env.py:109-115) feed only its OOV features, which never fire
(featurespec.py), so they are not loaded.

Driver-side load + ``sc.broadcast`` into Arrow UDF closures (SURVEY.md
§2.3 joins table).
"""

from __future__ import annotations

from .config import REF_GRAMS, REF_GRAMS_CASED, REF_LANGS
from .featurespec import Lexicons


def load_gram_list(path: str) -> list[str]:
    """Stripped non-blank lines, in file order (the reference builds the
    regex by joining in set order; we keep file order for determinism —
    alternation order does not change match semantics for a boolean
    search)."""
    out = []
    with open(path, "r", encoding="utf-8") as f:
        for line in f:
            if line.strip():
                out.append(line.strip())
    return out


def load_langnames(path: str) -> frozenset[str]:
    langs = set()
    with open(path, "r", encoding="utf-8") as f:
        for line in f:
            last_col = " ".join(line.split()[3:])
            for langname in last_col.split(","):
                langname = langname.replace("[", "")
                if len(langname) >= 5:
                    langs.add(langname.lower())
    return frozenset(langs)


def load_reference_lexicons() -> Lexicons:
    """All lookup sets from the read-only reference data directory."""
    return Lexicons(
        langnames=load_langnames(REF_LANGS),
        gram_list=load_gram_list(REF_GRAMS),
        gram_list_cased=load_gram_list(REF_GRAMS_CASED),
    )


def load_lexicons_from_ini_paths(paths: dict[str, str]) -> Lexicons:
    """Lexicons from a reference ini [files] section (keys lng_names /
    gram_list / gram_list_cased, already path-resolved by
    ``config.load_ini``; its wordlist keys are not read). Keys absent from the
    ini fall back to the reference data files; a path that does not EXIST
    loads as an empty set with a warning — exactly the reference's
    ``read_wl`` behavior (igtdetect.py:1919-1926 guards os.path.exists;
    defaults.ini.sample itself ships a dangling gram_list_cased path)."""
    import os
    import sys

    def _opt(key: str, default: str, loader):
        p = paths.get(key, default)
        if not os.path.exists(p):
            print(f"warning: {key} file not found: {p} — empty set",
                  file=sys.stderr)
            empty = loader.__name__ == "load_gram_list"
            return [] if empty else frozenset()
        return loader(p)

    return Lexicons(
        langnames=_opt("lng_names", REF_LANGS, load_langnames),
        gram_list=_opt("gram_list", REF_GRAMS, load_gram_list),
        gram_list_cased=_opt(
            "gram_list_cased", REF_GRAMS_CASED, load_gram_list
        ),
    )
