"""Guard: the package holds no code that only tests reach.

Def pass: every top-level function and class of the package is used by the
program itself (the package, `tools/`, `perfbench/`, `bench.py` or
`__spark_entry__.py`), not only by tests. A use is a reference the
interpreter can follow: a `Name` or `Attribute` node, an import alias, or a
string constant that is exactly the name (a `getattr` or registry key).
Comments, docstrings and SQL text that only mention the name do not count,
and neither does the definition's own body (recursion).

Parameter pass: every defaulted parameter of a package def that the program
calls is set by at least one program call site, so no option has only its
default in use. A call matches a def by the callee's `Name`/`Attribute`
name (a class name calls its `__init__`) and sets a parameter by keyword,
by position, through `*args`/`**kwargs`, or through `functools.partial`. A
def the program references other than as a callee (a function value) has
every parameter set. Every ambiguity errs toward "set"."""
from __future__ import annotations

import ast
import functools
from collections import Counter, defaultdict
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

# Defaulted parameters that only tests set. Each must be set by a test.
PARAM_ALLOWED = {
    "kernels/jpeg_kernel.py:pack_jpeg_gray(components)":
        "fixture encoder: colour JPEGs the decoder must reduce to gray",
    "kernels/jpeg_kernel.py:pack_jpeg_gray(subsample)":
        "fixture encoder: chroma-subsampled MCU layouts for the decoder",
    "kernels/jpeg_kernel.py:pack_jpeg_gray(restart_interval)":
        "fixture encoder: RST markers the decoder must resynchronise on",
    "kernels/ccitt_kernel.py:encode_gray_rows(threshold)":
        "fixture encoder: binarisation cut of the CCITT test images",
    "corpus.py:build_pdf_encrypted(user_pw)":
        "fixture encoder: a non-empty user password the decryptor rejects",
    "corpus.py:_assemble_classic(root_num)":
        "fixture encoder: a catalog at an object number other than 1",
    "job.py:main(argv)":
        "in-process CLI seam: tests drive the CLI without a subprocess",
}


def _program_files() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *(REPO / "tools").rglob("*.py"),
             *(REPO / "perfbench").rglob("*.py"),
             REPO / "bench.py", REPO / "__spark_entry__.py"]
    return [p for p in files if "tests" not in p.relative_to(REPO).parts]


@functools.lru_cache(maxsize=None)
def _program_trees() -> dict[Path, ast.Module]:
    """One parse of the program files, shared by both passes."""
    return {p: ast.parse(p.read_text()) for p in _program_files()}


@functools.lru_cache(maxsize=None)
def _test_trees() -> tuple[ast.Module, ...]:
    return tuple(ast.parse(p.read_text()) for p in TESTS.rglob("*.py"))


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
    trees = _program_trees()
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


# -- parameter pass ----------------------------------------------------------
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaulted(fn: ast.FunctionDef, method: bool) -> dict[str, int | None]:
    """Defaulted parameter -> its index among the positional arguments a
    call passes (``None`` for keyword-only); a method's bound first
    argument is not passed."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                 for d in fn.decorator_list)
    skip = 1 if method and not static else 0
    first = len(pos) - len(a.defaults)
    out: dict[str, int | None] = {
        arg.arg: i - skip for i, arg in enumerate(pos[first:], first)}
    out.update({arg.arg: None for arg, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None})
    return out


def _defs(trees: dict[Path, ast.Module]) -> list[tuple[str, str, dict]]:
    """(``file:def``, callee name, defaulted parameters) for each top-level
    function and each method of a top-level class in the package, except
    the ALLOWED twins."""
    out = []
    for path in sorted(p for p in trees if PACKAGE in p.parents):
        rel = path.relative_to(PACKAGE).as_posix()
        for node in trees[path].body:
            if f"{rel}:{getattr(node, 'name', '')}" in ALLOWED:
                continue
            if isinstance(node, _FUNCS):
                out.append((f"{rel}:{node.name}", node.name,
                            _defaulted(node, False)))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, _FUNCS):
                        callee = node.name if m.name == "__init__" else m.name
                        out.append((f"{rel}:{node.name}.{m.name}", callee,
                                    _defaulted(m, True)))
    return out


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _module_bindings(tree: ast.Module) -> set[str]:
    """Names a module binds to a def: its imports and its top-level defs."""
    names = {(a.asname or a.name).split(".")[0] for node in ast.walk(tree)
             if isinstance(node, (ast.Import, ast.ImportFrom))
             for a in node.names}
    return names | {n.name for n in tree.body
                    if isinstance(n, (*_FUNCS, ast.ClassDef))}


def _call_sites(trees) -> tuple[dict[str, list], set[str]]:
    """Every call as ``callee -> [(positional count, keywords)]`` (count
    ``inf`` for ``*args``, keywords ``None`` for ``**kwargs``), and the
    names referenced as values (an ``Attribute``, or a ``Name`` the module
    binds to a def, that is neither the callee of a call nor the object
    of an attribute access)."""
    calls: dict[str, list] = defaultdict(list)
    values: set[str] = set()
    for tree in trees:
        not_values: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                not_values.add(id(node.value))
            if not isinstance(node, ast.Call):
                continue
            not_values.add(id(node.func))
            name, args = _name(node.func), node.args
            if name == "partial" and args:
                not_values.add(id(args[0]))
                name, args = _name(args[0]), args[1:]
            if name is None:
                continue
            npos = (float("inf") if any(isinstance(a, ast.Starred)
                                        for a in args) else len(args))
            kws = (None if any(k.arg is None for k in node.keywords)
                   else {k.arg for k in node.keywords})
            calls[name].append((npos, kws))
        bound = _module_bindings(tree)
        for node in ast.walk(tree):
            if (isinstance(node, (ast.Name, ast.Attribute))
                    and isinstance(node.ctx, ast.Load)
                    and id(node) not in not_values
                    and (isinstance(node, ast.Attribute) or node.id in bound)):
                values.add(_name(node))
    return calls, values


def _sets(sites, param: str, index: int | None) -> bool:
    return any(kws is None or param in kws
               or (index is not None and index < npos)
               for npos, kws in sites)


def _unset(defs, calls, values) -> set[str]:
    """``file:def(param)`` of every defaulted parameter of a called def
    that no call site sets."""
    return {f"{key}({param})"
            for key, callee, params in defs
            if calls.get(callee) and callee not in values
            for param, index in params.items()
            if not _sets(calls[callee], param, index)}


def _program_unset_params() -> set[str]:
    trees = _program_trees()
    return _unset(_defs(trees), *_call_sites(trees.values()))


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
    refs = sum((_references(t) for t in _test_trees()), Counter())
    orphans = sorted(key for key in ALLOWED
                     if not refs[key.rsplit(":", 1)[1]])
    assert not orphans, (
        f"ALLOWED twins that no test references (dead code): {orphans}")


def test_no_defaulted_parameter_that_no_program_call_sets():
    extra = sorted(_program_unset_params() - set(PARAM_ALLOWED))
    assert not extra, (
        f"{len(extra)} defaulted parameters that no program call sets; "
        "inline each as a literal or module constant and delete the "
        "branches only another value reaches:\n  " + "\n  ".join(extra))


def test_every_allowed_parameter_is_test_only():
    unset = _program_unset_params()
    stale = sorted(set(PARAM_ALLOWED) - unset)
    assert not stale, (
        f"PARAM_ALLOWED entries a program call now sets: {stale}")
    tdefs = {key: (callee, params)
             for key, callee, params in _defs(_program_trees())}
    calls, values = _call_sites(_test_trees())
    dead = []
    for entry in PARAM_ALLOWED:
        key, param = entry[:-1].split("(")
        callee, params = tdefs[key]
        if callee not in values and not _sets(calls.get(callee, ()), param,
                                              params[param]):
            dead.append(entry)
    assert not dead, f"PARAM_ALLOWED entries that no test sets: {dead}"


_SNIPPET = '''
import functools
from functools import partial

def by_kw(a, b=1, c=2): ...
def by_pos(a, b=1, c=2): ...
def by_star(a, b=1, *, c=2): ...
def by_kwargs(a, b=1, *, c=2): ...
def by_partial(a, b=1, c=2): ...
def by_partial_attr(a, b=1, c=2): ...
def as_value(a, b=1): ...
def never_called(a, b=1): ...

class Job:
    def __init__(self, a, b=1, c=2): ...
    def run(self, x, y=1): ...
    @staticmethod
    def make(x, y=1): ...

def main(args, opts):
    by_kw(0, c=3)
    by_pos(0, 1)
    by_star(*args)
    by_kwargs(0, **opts)
    partial(by_partial, 0, 1)
    functools.partial(by_partial_attr, 0, c=1)
    list(map(as_value, args))
    job = Job(0, 1)
    job.run(0)
    Job.make(0, 1)
'''


def test_parameter_pass_matching_rules():
    tree = ast.parse(_SNIPPET)
    defs = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            defs.append((node.name, node.name, _defaulted(node, False)))
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                callee = node.name if m.name == "__init__" else m.name
                defs.append((f"{node.name}.{m.name}", callee,
                             _defaulted(m, True)))
    assert _unset(defs, *_call_sites([tree])) == {
        "by_kw(b)",                # keyword c only
        "by_pos(c)",               # positions a, b only
        "by_star(c)",              # *args fills positions, not keyword-only
        "by_partial(c)",           # partial binds positions a, b
        "by_partial_attr(b)",      # functools.partial binds a and c
        "Job.__init__(c)",         # self is bound: (0, 1) sets a, b
        "Job.run(y)",              # self is bound: (0) sets x
    }
