"""Regenerate tests/oracle_manifest.json — the committed md5 of every
battery entry's oracle SQL text.

tests/test_registration.py compares the live ``oracle_sql()`` map
against this manifest, so an oracle text change fails CI until the
manifest is regenerated.  That codifies the grading-order contract (a
semantics flip must re-grade inside the next window — a stale verdict
on changed semantics is debt, not coverage) as a mechanical check
instead of a convention.

Run after ANY intentional oracle change:

    python tools/update_oracle_manifest.py

then, if the change altered the entry's SEMANTICS (not just
formatting), also move the entry to the front of
``rdbms_subsetter_spark.queries.GRADING_ORDER``.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

MANIFEST = REPO / "tests" / "oracle_manifest.json"


def oracle_hashes() -> dict[str, str]:
    import __spark_entry__ as entry_mod

    return {
        name: hashlib.md5(sql.encode()).hexdigest()
        for name, sql in sorted(entry_mod.oracle_sql().items())
    }


def main() -> None:
    hashes = oracle_hashes()
    MANIFEST.write_text(json.dumps(hashes, indent=1, sort_keys=True) + "\n")
    print(f"wrote {MANIFEST} ({len(hashes)} oracle entries)")


if __name__ == "__main__":
    main()
