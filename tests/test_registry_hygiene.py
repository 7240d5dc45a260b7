"""Source-level guards for the query registry.

A Python dict literal silently keeps the LAST occurrence of a duplicate
key, so a re-registered query name would shadow the original (and a
same-named module-level function would shadow the original
implementation everywhere) without any test failing — both entries
resolve to the later definition and stay self-consistent with its
oracle. Caught live in round 4: a batch of five "new" statistics
queries re-implemented names that already existed, and 823 tests stayed
green while the originals became dead code. These checks parse the
SOURCE, not the imported dict, so shadowing cannot hide from them.
"""

import ast
import glob
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "binlog_spark", "queries.py")


def _source():
    with open(SRC, encoding="utf-8") as f:
        return f.read()


def _keys(region: str):
    return re.findall(r'^\s{4}"([a-z0-9_]+)":', region, re.M)


def test_no_duplicate_registry_keys():
    src = _source()
    start = src.index("QUERIES = {")
    mid = src.index("ORACLES = {")
    for name, region in (("QUERIES", src[start:mid]),
                         ("ORACLES", src[mid:])):
        dupes = [k for k, v in Counter(_keys(region)).items() if v > 1]
        assert not dupes, f"duplicate keys in {name} literal: {dupes}"


def test_no_duplicate_query_function_defs():
    src = _source()
    defs = re.findall(r"^def ([a-zA-Z0-9_]+)\(", src, re.M)
    dupes = [k for k, v in Counter(defs).items() if v > 1]
    assert not dupes, f"shadowed module-level defs: {dupes}"


def test_every_query_has_oracle_and_vice_versa():
    from binlog_spark.queries import ORACLES, QUERIES
    assert set(QUERIES) == set(ORACLES)


def test_bench_covers_every_registered_query():
    """Freeze the r4 BENCH↔QUERIES parity (VERDICT r4 directive 7):
    every registered query is benched (curated head + auto-appended
    tail), and every curated bench name resolves in the registry — a
    renamed/dropped query would otherwise silently fall out of
    BENCH_r{N}.json coverage."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(SRC), os.pardir, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from binlog_spark.queries import QUERIES
    assert set(QUERIES) <= set(bench.BENCH_QUERIES)
    assert set(bench.BENCH_QUERIES) <= set(QUERIES)


def test_round5_surfacing_head():
    """The r5 re-green targets must stay at the registry head (the
    driver samples the first 50 keys) and the reorder must be a pure
    permutation (423 keys, nothing dropped or duplicated)."""
    from binlog_spark.queries import ORACLES, QUERIES
    keys = list(QUERIES)
    assert keys[:5] == [
        "cdc_replay_final_state", "cdc_bootstrap_catchup",
        "cdc_schema_evolution", "cdc_replay_raw_files",
        "cdc_microbatch_fold_savings"]
    assert len(keys) == len(set(keys)) == len(ORACLES)


# the registry and the protocol table keep names for the driver and for
# the wire format, not for callers inside the repo
_DEAD_CODE_EXEMPT = {"queries.py", os.path.join("wire", "constants.py")}


def _module_level_names(tree):
    """Functions, classes and assigned names at module level, including
    those under a module-level ``if``/``try``."""
    out, todo = [], list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            out.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            out += [n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name)]
        elif isinstance(node, (ast.If, ast.Try)):
            for block in ("body", "orelse", "finalbody", "handlers"):
                todo += getattr(node, block, [])
        elif isinstance(node, ast.ExceptHandler):
            todo += node.body
    return [n for n in out if not (n.startswith("__") and n.endswith("__"))]


def test_no_unreferenced_module_level_names():
    """Every module-level name in ``binlog_spark/`` (outside the registry
    and the protocol table) is used by name somewhere: a name whose only
    occurrence is its own definition is dead code."""
    pkg = os.path.join(ROOT, "binlog_spark")
    modules = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    corpus = list(modules) + glob.glob(os.path.join(ROOT, "bench*.py"))
    for d in ("tests", "scripts", "cdcbench"):
        corpus += glob.glob(os.path.join(ROOT, d, "**", "*.py"),
                            recursive=True)
    uses = Counter()
    for path in corpus:
        with open(path, encoding="utf-8") as f:
            uses.update(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", f.read()))
    defined = {}
    for path in modules:
        with open(path, encoding="utf-8") as f:
            names = _module_level_names(ast.parse(f.read()))
        defined[os.path.relpath(path, pkg)] = names
    n_defs = Counter(n for names in defined.values() for n in names)
    dead = sorted(f"{rel}:{name}" for rel, names in defined.items()
                  if rel not in _DEAD_CODE_EXEMPT
                  for name in set(names) if uses[name] <= n_defs[name])
    assert not dead, f"module-level names never referenced: {dead}"
