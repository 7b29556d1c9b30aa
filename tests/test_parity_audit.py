"""Meta-audit: every oracled registered query must have a LOCAL
compare_query parity row somewhere in tests/.

This audit is the structural guarantee that every oracled query is
value-checked against DuckDB (tests/oracle.py) on every test run:
registering an oracled query without a local compare_query test fails the
suite immediately, so no query meets its first value check outside this
suite, as two did in round 5 (basket_brand_affinity, bi_rfm_segments).

Detection is AST-based, matching the two idioms the suite uses:
  - direct:   compare_query(spark, REGISTRY["name"], SF_ORACLE)
  - indirect: compare_query(spark, REGISTRY[name], SF_ORACLE) inside a
              test parametrized over a list of string literals
For the indirect form, every all-string-literal list in a file that
contains an indirect call is counted as covered — deliberately
over-approximate, so the audit can false-pass only if a file both calls
compare_query indirectly AND keeps an unrelated list of query names; it
can never false-fail a correctly tested query.
"""

from __future__ import annotations

import ast
from pathlib import Path

from masd_spark.queries import load_all

TESTS_DIR = Path(__file__).resolve().parent


def _parity_covered_names() -> set[str]:
    covered: set[str] = set()
    for path in sorted(TESTS_DIR.glob("test_*.py")):
        if path.name == "test_parity_audit.py":
            continue
        tree = ast.parse(path.read_text())
        has_indirect = False
        str_lists: list[list[str]] = []
        for node in ast.walk(tree):
            if isinstance(node, (ast.List, ast.Tuple)):
                elts = node.elts
                if elts and all(
                    isinstance(e, ast.Constant) and isinstance(e.value, str)
                    for e in elts
                ):
                    str_lists.append([e.value for e in elts])
            if isinstance(node, ast.Call):
                fname = getattr(node.func, "id", getattr(node.func, "attr", ""))
                if fname in ("compare_query", "_cmp"):
                    for arg in node.args:
                        if isinstance(arg, ast.Subscript):
                            sl = arg.slice
                            if isinstance(sl, ast.Constant) and isinstance(
                                sl.value, str
                            ):
                                covered.add(sl.value)
                            else:
                                has_indirect = True
        if has_indirect:
            for lst in str_lists:
                covered.update(lst)
    return covered


def test_every_oracled_query_has_local_parity_test():
    reg = load_all()
    oracled = [name for name, spec in reg.items() if spec.oracle is not None]
    covered = _parity_covered_names()
    gaps = [n for n in oracled if n not in covered]
    assert not gaps, (
        "oracled queries with no local compare_query parity test "
        f"(latent driver RED rows): {gaps}"
    )
