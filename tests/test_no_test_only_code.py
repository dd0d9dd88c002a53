"""Guard: every top-level function and class of the package is used by the
program itself (the package, `tools/`, `perfbench/`, `bench.py` or
`__spark_entry__.py`), not only by tests.

A use is a reference the interpreter can follow: a `Name` or `Attribute`
node, an import alias, or a string constant that is exactly the name (a
`getattr` or registry key). Comments, docstrings and SQL text that only
mention the name do not count, and neither does the definition's own
body (recursion)."""
from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pdf_extractor_spark"
TESTS = REPO / "tests"

# Reference implementations that tests compare production code against.
# No program path calls them; they stay as the tests' ground truth.
ALLOWED = {
    "kernels/aes.py:decrypt_block":
        "FIPS-197 known-answer entry point of the production AES cipher",
    "kernels/textstats.py:minhash_signature":
        "Python twin of the signature minhash_banded_from_hashes bands",
    "kernels/textstats.py:quality_score":
        "Python twin of the quality_scores column expression",
    "kernels/textstats.py:fingerprint":
        "Python twin of the text_analysis.fingerprints column",
    "operators/dedup.py:embedding_neardup_pairs":
        "exact all-pairs baseline for embedding_neardup_pairs_lsh",
    "operators/relational.py:event_type_windowed_counts":
        "batch twin of the windowed_counts_stream streaming aggregate",
    "sources/iceberg_format.py:IcebergTable":
        "pins the Iceberg surface the table format mirrors (API drift "
        "guard) until real Iceberg execution is possible",
}


def _program_files() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *(REPO / "tools").rglob("*.py"),
             *(REPO / "perfbench").rglob("*.py"),
             REPO / "bench.py", REPO / "__spark_entry__.py"]
    return [p for p in files if "tests" not in p.relative_to(REPO).parts]


def _references(tree: ast.AST) -> Counter:
    refs = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs[node.value] += 1
    return refs


def _unused_defs() -> set[str]:
    trees = {p: ast.parse(p.read_text()) for p in _program_files()}
    total = sum((_references(t) for t in trees.values()), Counter())
    unused = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            if total[node.name] - _references(node)[node.name] <= 0:
                unused.add(f"{path.relative_to(PACKAGE).as_posix()}:{node.name}")
    return unused


def test_no_package_code_that_only_tests_reach():
    unused = _unused_defs()
    extra = sorted(unused - set(ALLOWED))
    assert not extra, (
        f"{len(extra)} package defs that no program file uses; wire each "
        "into a real path, delete it, or move a test-only fixture into "
        "tests/:\n  " + "\n  ".join(extra))
    stale = sorted(set(ALLOWED) - unused)
    assert not stale, f"ALLOWED entries now used by the program: {stale}"


def test_every_allowed_twin_is_compared_by_a_test():
    refs = sum((_references(ast.parse(p.read_text()))
                for p in TESTS.rglob("*.py")), Counter())
    orphans = sorted(key for key in ALLOWED
                     if not refs[key.rsplit(":", 1)[1]])
    assert not orphans, (
        f"ALLOWED twins that no test references (dead code): {orphans}")
