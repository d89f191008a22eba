"""Registration-integrity guards for the driver contract: no entry may
silently shadow another (a collision once hid round 1's agg_unpivot
behind a round-2 namesake), every oracle key must have a query,
``GRADING_ORDER`` must name each registered entry exactly once, and an
entry's code lives where it is registered.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

QUERIES_DIR = Path(__file__).resolve().parents[1] / "rdbms_subsetter_spark" / "queries"


def test_register_raises_on_duplicate_name():
    import __spark_entry__  # noqa: F401  (ensures sys.path setup)
    from rdbms_subsetter_spark.queries import ORACLES, QUERIES, register

    before = (dict(QUERIES), dict(ORACLES))
    with pytest.raises(ValueError, match="subset_summary"):
        register("subset_summary", oracle="SELECT 1")(lambda spark, sf_dir: None)
    assert (QUERIES, ORACLES) == before


def test_grading_order_names_the_registered_set_once():
    import __spark_entry__  # noqa: F401
    from rdbms_subsetter_spark.queries import GRADING_ORDER, QUERIES

    dupes = sorted({n for n in GRADING_ORDER if GRADING_ORDER.count(n) > 1})
    assert not dupes, f"GRADING_ORDER lists these more than once: {dupes}"
    assert set(GRADING_ORDER) == set(QUERIES), (
        f"unregistered: {sorted(set(GRADING_ORDER) - set(QUERIES))}, "
        f"missing from GRADING_ORDER: {sorted(set(QUERIES) - set(GRADING_ORDER))}"
    )


def test_every_oracle_has_a_query_and_total_matches():
    import __spark_entry__ as m
    from rdbms_subsetter_spark.queries import QUERIES

    qs, oracles = m.queries(), m.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(QUERIES)  # nothing dropped between registry and contract


def test_oracle_changes_carry_a_regrade_marker():
    """Grading-order contract, mechanized (r07 verdict ask #8): a graded
    entry whose oracle TEXT changes would sail on under a verdict
    describing the OLD semantics — debt disguised as coverage.  The
    committed manifest (tests/oracle_manifest.json) pins every oracle's
    md5.  After an intentional semantic change, move the entry to the
    front of ``rdbms_subsetter_spark.queries.GRADING_ORDER`` so it
    re-grades first, then regenerate the manifest with
    ``python tools/update_oracle_manifest.py``."""
    import json
    from pathlib import Path

    from tools.update_oracle_manifest import oracle_hashes

    manifest = json.loads(
        (Path(__file__).parent / "oracle_manifest.json").read_text()
    )
    live = oracle_hashes()
    changed = [n for n in manifest.keys() & live.keys() if manifest[n] != live[n]]
    assert not changed, (
        f"oracle text changed: {changed} — if semantic, move the name(s) to the "
        f"front of rdbms_subsetter_spark.queries.GRADING_ORDER; then regenerate "
        f"with `python tools/update_oracle_manifest.py`"
    )
    stale = manifest.keys() ^ live.keys()
    assert not stale, (
        f"tests/oracle_manifest.json out of date (added/retired entries: "
        f"{sorted(stale)}) — regenerate with `python tools/update_oracle_manifest.py`"
    )


def _forwarding_entries(path: Path) -> list[str]:
    """Registered functions in ``path`` whose body, apart from its
    docstring and imports, is one ``return f(spark, sf_dir, ...)``."""
    found = []
    for fn in ast.walk(ast.parse(path.read_text())):
        if not isinstance(fn, ast.FunctionDef) or not any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            for d in fn.decorator_list
        ):
            continue
        body = [
            s for s in fn.body
            if not isinstance(s, (ast.Import, ast.ImportFrom))
            and not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))
        ]
        if (
            len(body) == 1
            and isinstance(body[0], ast.Return)
            and isinstance(body[0].value, ast.Call)
            and [ast.unparse(a) for a in body[0].value.args] == ["spark", "sf_dir"]
        ):
            found.append(f"{path.name}::{fn.name}")
    return found


def test_no_registered_entry_only_forwards():
    """An entry's DataFrame code is written where it is registered: a
    registered function that only forwards ``(spark, sf_dir)`` to a body
    elsewhere is a second definition of the same entry."""
    paths = sorted(QUERIES_DIR.glob("*.py"))
    assert len(paths) > 1
    forwards = [f for p in paths for f in _forwarding_entries(p)]
    assert not forwards, f"registered entries that only forward: {forwards}"
