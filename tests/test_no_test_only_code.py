"""Guard: every top-level function and class of the package is used by the
program itself (the package, `tools/`, `perfbench/`, `bench.py` or
`__spark_entry__.py`), not only by tests.

A whole-word mention anywhere in a program file outside the definition
itself counts as a use: calls, imports, `getattr` strings and comments
alike, so the scan errs towards keeping code."""
from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pdf_extractor_spark"

# Reference implementations that tests compare production code against.
# No program path calls them; they stay as the tests' ground truth.
ALLOWED = {
    "kernels/aes.py:decrypt_block":
        "FIPS-197 known-answer entry point of the production AES cipher",
    "kernels/textstats.py:minhash_signature":
        "Python twin of the signature minhash_banded_from_hashes bands",
    "operators/dedup.py:embedding_neardup_pairs":
        "exact all-pairs baseline for embedding_neardup_pairs_lsh",
}


def _program_files() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *(REPO / "tools").rglob("*.py"),
             *(REPO / "perfbench").rglob("*.py"),
             REPO / "bench.py", REPO / "__spark_entry__.py"]
    return [p for p in files if "tests" not in p.relative_to(REPO).parts]


def _unused_defs() -> set[str]:
    texts = {p: p.read_text() for p in _program_files()}
    unused = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = texts[path].splitlines(keepends=True)
        for node in ast.parse(texts[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            outside = "".join(lines[:first - 1] + lines[node.end_lineno:])
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            if not any(word.search(outside if p == path else text)
                       for p, text in texts.items()):
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
