"""Python ``re``'s Unicode character classes, spelled for RE2.

RE2 (the engine behind ``pyarrow.compute``'s regex kernels) reads ``\\s``
and ``\\w`` as ASCII classes, and its case folding is not Python's.  The
Arrow feature kernel (``operators/vectorized.py``) therefore writes
Python's classes out as explicit code-point lists:

- ``space``: what Python ``\\s`` matches (``str.isspace``);
- ``word``: what Python ``\\w`` matches (``str.isalnum()`` or ``_``);
- case groups: the code points a cased literal matches under ``re.I``
  (``k`` also matches U+212A KELVIN SIGN, ``s`` matches U+017F LONG S,
  ``i`` matches U+0130 and U+0131).

All three are read off the running interpreter's own ``re`` engine, so
they are exact for it.  ``_unicode_tables.py`` holds them precomputed
for one Unicode database version (``tools/gen_unicode_classes.py``
writes it); an interpreter with another ``unicodedata.unidata_version``
rebuilds them at first use (about half a second) instead of trusting
that table.
"""

from __future__ import annotations

import functools
import re
import unicodedata
from dataclasses import dataclass

_MAX_CP = 0x10FFFF
_SURROGATES = range(0xD800, 0xE000)  # not representable in UTF-8 text


@dataclass(frozen=True)
class Tables:
    unidata_version: str
    space: tuple[tuple[int, int], ...]  # inclusive code-point ranges
    word: tuple[tuple[int, int], ...]
    case_groups: tuple[tuple[int, ...], ...]  # sorted, one per re.I class

    @functools.cached_property
    def case_class(self) -> dict[int, tuple[int, ...]]:
        return {cp: g for g in self.case_groups for cp in g}


def _all_code_points() -> str:
    return "".join(
        chr(c) for c in range(_MAX_CP + 1) if c not in _SURROGATES
    )


def _ranges(pattern: str, text: str) -> tuple[tuple[int, int], ...]:
    """Maximal runs of ``text`` (every code point, ascending) that
    ``pattern`` matches, as inclusive code-point ranges."""
    return tuple(
        (ord(text[m.start()]), ord(text[m.end() - 1]))
        for m in re.finditer(pattern, text)
    )


def build_tables() -> Tables:
    """Read the three classes off this interpreter's ``re`` engine."""
    text = _all_code_points()
    # Only characters with a case mapping can match another code point
    # under re.I (sre folds through the simple case mappings).
    cased = "".join(
        c for c in text if c.lower() != c or c.upper() != c or c.casefold() != c
    )
    classes: dict[int, frozenset[int]] = {}
    for c in cased:
        hits = frozenset(map(ord, re.findall(re.escape(c), cased, re.I)))
        if hits != {ord(c)}:
            classes[ord(c)] = hits | {ord(c)}
    groups = set(classes.values())
    for g in groups:
        for cp in g:
            if classes.get(cp) != g:
                raise ValueError(
                    f"re.I is not an equivalence on U+{cp:04X} here"
                )
    return Tables(
        unidata_version=unicodedata.unidata_version,
        space=_ranges(r"\s+", text),
        word=_ranges(r"\w+", text),
        case_groups=tuple(sorted(tuple(sorted(g)) for g in groups)),
    )


@functools.cache
def tables() -> Tables:
    """The checked-in tables when they were generated for this
    interpreter's Unicode database, else freshly built ones."""
    from . import _unicode_tables as t

    if t.UNIDATA_VERSION == unicodedata.unidata_version:
        return Tables(t.UNIDATA_VERSION, t.SPACE, t.WORD, t.CASE_GROUPS)
    return build_tables()


def render_module(t: Tables) -> str:
    """Source text of ``_unicode_tables.py`` for ``t``."""

    def rows(items, per_line):
        out = []
        for i in range(0, len(items), per_line):
            out.append("    " + " ".join(f"{x}," for x in items[i:i + per_line]))
        return "\n".join(out)

    def hx(seq):
        return "(" + ", ".join(f"0x{c:X}" for c in seq) + ")"

    return (
        '"""Generated by tools/gen_unicode_classes.py; do not edit.\n\n'
        "Python re's \\\\s and \\\\w classes and its re.I case groups as\n"
        "code-point data (see igtdetect_spark/unicode_classes.py).\n"
        '"""\n\n'
        f"UNIDATA_VERSION = {t.unidata_version!r}\n\n"
        f"SPACE = (\n{rows([hx(r) for r in t.space], 6)}\n)\n\n"
        f"WORD = (\n{rows([hx(r) for r in t.word], 4)}\n)\n\n"
        f"CASE_GROUPS = (\n{rows([hx(g) for g in t.case_groups], 4)}\n)\n"
    )


# ---------------------------------------------------------------------------
# RE2 spellings
# ---------------------------------------------------------------------------

def _cp(c: int) -> str:
    return f"\\x{{{c:X}}}"


def re2_set(ranges) -> str:
    """Body of an RE2 character class (no brackets) for code-point ranges."""
    return "".join(
        _cp(a) if a == b else f"{_cp(a)}-{_cp(b)}" for a, b in ranges
    )


@functools.cache
def space_set() -> str:
    """RE2 class body matching exactly Python ``\\s``."""
    return re2_set(tables().space)


@functools.cache
def word_set() -> str:
    """RE2 class body matching exactly Python ``\\w``."""
    return re2_set(tables().word)


def re2_literal(ch: str, ignore_case: bool) -> str:
    """One literal character as RE2, matching what Python ``re`` (with
    ``re.I`` when ``ignore_case``) matches for it."""
    group = tables().case_class.get(ord(ch)) if ignore_case else None
    if group is not None:
        return "[" + "".join(map(_cp, group)) + "]"
    return ch if ch.isascii() and ch.isalnum() else _cp(ord(ch))
