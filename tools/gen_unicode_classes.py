"""Regenerate ``igtdetect_spark/_unicode_tables.py`` from this interpreter.

The table holds Python ``re``'s ``\\s`` / ``\\w`` classes and its ``re.I``
case groups as code points, for the RE2 spellings the Arrow feature
kernel uses (see ``igtdetect_spark/unicode_classes.py``).  Run it after
moving to a Python whose ``unicodedata.unidata_version`` differs from the
one recorded in the table:

    python tools/gen_unicode_classes.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLE_PATH = os.path.join(REPO, "igtdetect_spark", "_unicode_tables.py")


def main() -> None:
    sys.path.insert(0, REPO)
    from igtdetect_spark.unicode_classes import build_tables, render_module

    t = build_tables()
    with open(TABLE_PATH, "w", encoding="utf-8") as f:
        f.write(render_module(t))
    print(f"wrote {TABLE_PATH} (Unicode {t.unidata_version}: "
          f"{len(t.space)} space ranges, {len(t.word)} word ranges, "
          f"{len(t.case_groups)} case groups)")


if __name__ == "__main__":
    main()
