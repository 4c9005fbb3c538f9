"""Guards against silent shadowing (the r12 RFM incident).

Python raises nothing when a module defines the same top-level
function twice or a dict key is assigned twice: the later definition
silently wins. In this repo both patterns are how a certified
operator gets *overwritten* instead of flagged — a second
``def customer_rfm_segments`` in plans/relational.py shadowed the
r4-certified one for several edits in r12 before being caught by a
tools/dump_plans.py line-number collision. These AST scans make the
failure loud at test time, with no Spark session needed.
"""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "hrfco_data_pipeline_spark"
)

PLAN_MODULES = sorted((PKG / "plans").glob("*.py")) + [
    PKG / "oracles.py",
    PKG.parent / "__spark_entry__.py",
]


@pytest.mark.parametrize("path", PLAN_MODULES, ids=lambda p: p.name)
def test_no_duplicate_toplevel_functions(path):
    tree = ast.parse(path.read_text())
    names = Counter(
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    )
    dups = sorted(n for n, c in names.items() if c > 1)
    assert not dups, (
        f"{path.name} defines {dups} more than once at top level — "
        "the later definition silently shadows the earlier "
        "(certified) one"
    )


def _oracle_key_assignments() -> Counter:
    """Count each ``(<FAMILY>_ORACLES, key)`` assignment in oracles.py,
    both dict-literal initializers and subscript assignments."""
    tree = ast.parse((PKG / "oracles.py").read_text())
    keys: Counter = Counter()
    for node in ast.walk(tree):
        # literal initializers: FAMILY_ORACLES: dict = {"k": ...}
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign) else [node.target]
            )
            value = node.value
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and t.id.endswith("_ORACLES")
                    and isinstance(value, ast.Dict)
                ):
                    for k in value.keys:
                        if isinstance(k, ast.Constant):
                            keys[(t.id, k.value)] += 1
                # subscript assignment: FAMILY_ORACLES["k"] = ...
                if (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Name)
                    and t.value.id.endswith("_ORACLES")
                    and isinstance(t.slice, ast.Constant)
                ):
                    keys[(t.value.id, t.slice.value)] += 1
    return keys


def test_no_reassigned_oracle_keys():
    """Each ``<FAMILY>_ORACLES["name"] = ...`` key must be assigned
    exactly once across the module (including the dict-literal
    initializers), or one oracle silently replaces another."""
    keys = _oracle_key_assignments()
    dups = sorted(f"{d}[{k!r}]" for (d, k), c in keys.items() if c > 1)
    assert not dups, f"oracle keys assigned more than once: {dups}"


def test_every_oracle_key_is_a_registered_query():
    """An oracle for a query that ``queries()`` does not register is
    dead code: no check ever runs it. Register the query with its
    oracle or delete both."""
    import __spark_entry__

    registered = set(__spark_entry__.queries())
    staged = sorted(
        f"{d}[{k!r}]"
        for d, k in _oracle_key_assignments()
        if k not in registered
    )
    assert not staged, f"oracles for unregistered queries: {staged}"


def test_no_cross_module_plan_name_collisions():
    """A plan function name reused across plans/ modules is legal
    Python but a registry-confusion hazard (which module's version is
    certified?). Names prefixed with ``_`` (helpers) are exempt, as
    are documented idioms shared by design."""
    # oracle-probe helpers intentionally mirrored between modules
    ALLOWED = {"main"}
    seen: dict[str, str] = {}
    dups = []
    for path in sorted((PKG / "plans").glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_") or node.name in ALLOWED:
                continue
            if node.name in seen:
                dups.append(f"{node.name} ({seen[node.name]} and {path.name})")
            else:
                seen[node.name] = path.name
    assert not dups, f"plan function names defined in two modules: {dups}"


def _package_trees(exempt: pathlib.Path):
    for path in sorted(PKG.rglob("*.py")):
        if path != exempt:
            yield path.relative_to(PKG), ast.parse(path.read_text())


def test_lineage_cuts_only_in_hints():
    """``.checkpoint(`` / ``.localCheckpoint(`` belong to
    functions/hints.materialized, the one copy of the
    checkpoint-or-local rule; everything else calls it."""
    calls = [
        f"{rel}:{node.lineno}"
        for rel, tree in _package_trees(PKG / "functions" / "hints.py")
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("checkpoint", "localCheckpoint")
    ]
    assert not calls, f"lineage cuts outside functions/hints.py: {calls}"


def test_staged_swap_names_only_in_writers():
    """The ``__staging__`` / ``__old__`` dirs belong to
    sinks/writers.swap_in and recover_swap, so a directory replace
    cannot grow a second copy of the commit protocol. Docstrings may
    name them."""
    found = []
    for rel, tree in _package_trees(PKG / "sinks" / "writers.py"):
        docstrings = {
            id(node.value) for node in ast.walk(tree) if isinstance(node, ast.Expr)
        }
        found += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and ("__staging__" in node.value or "__old__" in node.value)
        ]
    assert not found, f"staged-swap dir names outside sinks/writers.py: {found}"


def test_one_batch_appender():
    """Every micro-batch append goes through sinks/writers.append_batch,
    exactly-once on the batch id, with one commit marker
    (``writers.COMMITTED``): no plain ``mode("append")`` write, which
    duplicates a replayed batch, and no second ``"_batch_id"`` marker."""
    found = [
        f"{rel}:{node.lineno}"
        for rel, tree in _package_trees(None)
        for node in ast.walk(tree)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mode"
            and any(isinstance(a, ast.Constant) and a.value == "append" for a in node.args)
        )
        or (isinstance(node, ast.Constant) and node.value == "_batch_id")
    ]
    assert not found, f"a second append or marker: {found}"


def test_every_batch_function_fails_its_batch_on_any_exception():
    """Every ``foreachBatch`` function in the package goes through
    ``sinks/reliability.batch_function``, so a ``BaseException`` raised
    inside it fails the micro-batch instead of hanging the query."""
    found = [
        f"{rel}:{node.lineno}"
        for rel, tree in _package_trees(None)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "foreachBatch"
        and not (
            len(node.args) == 1
            and isinstance(node.args[0], ast.Call)
            and getattr(node.args[0].func, "id", None) == "batch_function"
        )
    ]
    assert not found, f"a foreachBatch function not wrapped in batch_function: {found}"


# The only defaulted parameters no call in the repo has to set: settings
# a deployment picks, not constants of the pipeline. An entry may name
# several parameters of one function that together make one setting.
DEPLOYMENT_SETTINGS = {
    "run_stream(trigger_seconds)": (
        "poll cadence; a deployment runs the 10-minute processing-time "
        "trigger of docs/MIGRATION.md, tests drain with availableNow"
    ),
    "observations_kafka_stream(starting_offsets)": (
        "where a deployment's first start reads the topic from"
    ),
    "attach_broadcast(available_now)": (
        "a deployed alert fan-out runs continuously, tests drain once"
    ),
    "SinkCircuitBreaker(failure_rate_threshold, sliding_window, min_calls, "
    "open_seconds)": (
        "breaker policy of a deployment's storage backends, one setting "
        "of four values as in the reference's breaker registry"
    ),
    "fetch_hrfco(timeout)": "HTTP timeout of a deployment's API poll",
}


def _call_sites() -> dict[str, list]:
    """Per called name, the (keyword or position, value) pairs its calls
    pass across the package, tools/, bench.py, perfbench/ and tests/. A
    call through ``from m import f as g`` counts for ``f``; ``*args`` /
    ``**kwargs`` count as setting every parameter (value ``None``)."""
    root = PKG.parent
    files = [
        *PKG.rglob("*.py"),
        *(root / "tools").rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
        *(root / "tests").rglob("*.py"),
        root / "bench.py",
    ]
    sites: dict[str, list] = {}
    for path in files:
        tree = ast.parse(path.read_text())
        aliases = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            if isinstance(func, ast.Name):
                name = aliases.get(func.id, func.id)
            elif isinstance(func, ast.Attribute):
                name = func.attr
            else:
                continue
            passed = sites.setdefault(name, [])
            for i, a in enumerate(node.args):
                passed.append(("*", None) if isinstance(a, ast.Starred) else (i, a))
            passed += [(k.arg or "**", k.value) for k in node.keywords]
    return sites


def _same_value(passed: ast.expr, default: ast.expr) -> bool:
    """True when a call passes the default itself: the same expression,
    or a literal of equal value (``256`` for ``BUCKETS = 256`` is not
    caught; a literal default is)."""
    if ast.dump(passed) == ast.dump(default):
        return True
    try:
        return ast.literal_eval(passed) == ast.literal_eval(default)
    except ValueError:
        return False


def test_every_default_is_set_by_some_caller():
    """A defaulted parameter that no call sets is a constant with extra
    code around it, and on a registered query one that no check can
    reach (the registry calls ``(spark, sf_dir)``). Each must be set,
    by keyword or position, to a value other than its default by some
    call in the repo, or be a named deployment setting. oracles.py, the
    reference SQL, is exempt."""
    assert len(DEPLOYMENT_SETTINGS) <= 5
    allowed = {
        f"{entry.split('(')[0]}({arg.strip()})"
        for entry in DEPLOYMENT_SETTINGS
        for arg in entry[entry.index("(") + 1 : -1].split(",")
    }
    sites = _call_sites()
    unset = []
    for rel, tree in _package_trees(PKG / "oracles.py"):
        owner = {
            id(fn): cls.name
            for cls in ast.walk(tree)
            if isinstance(cls, ast.ClassDef)
            for fn in cls.body
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            name = owner[id(fn)] if fn.name == "__init__" else fn.name
            args = fn.args.posonlyargs + fn.args.args
            bound = 1 if args and args[0].arg in ("self", "cls") else 0
            first = len(args) - len(fn.args.defaults)
            defaulted = [
                (a.arg, i - bound, d)
                for i, (a, d) in enumerate(zip(args[first:], fn.args.defaults), first)
            ] + [
                (a.arg, None, d)
                for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if d is not None
            ]
            passed = sites.get(name, [])
            for arg, pos, default in defaulted:
                label = f"{name}({arg})"
                if label in allowed or any(
                    key in ("*", "**")
                    or (key in (arg, pos) and not _same_value(value, default))
                    for key, value in passed
                ):
                    continue
                unset.append(f"{rel}:{fn.lineno} {label}")
    assert not unset, (
        f"{len(unset)} defaulted parameters no caller sets to another "
        f"value — make each a constant: {unset}"
    )
