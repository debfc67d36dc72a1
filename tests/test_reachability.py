"""No dead package code: every top-level function and class in
``arabicner_spark`` is reached from a root — the pipeline
(``run_pipeline``), the query registry (``QUERIES``), the entry points,
streaming, ``bench.py``, ``perfbench/`` or a tool — or is a reference
that tests of live code compare against, named in ``KEEP`` with its
reason.

Reachability is static: a definition reaches every package definition
its body names, directly or through an imported alias, and reaching a
definition runs its module's top-level statements.  Run this file as a
script to print the unreached set with line counts.
"""

from __future__ import annotations

import ast
import pathlib
from typing import Dict, Iterator, List, Set, Tuple

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "arabicner_spark"

# defined in the package, run by no root, kept for the tests named
KEEP = {
    "oracle.oracle_lsh_link": "serial MinHash-LSH linking reference of test_linking",
    "oracle.precision_recall": "serial P/R reference of test_oracle_parity",
    "operators.pq.pq_index_and_search_joins": "join twin test_pq compares pq_index_and_search with",
    "operators.pq.train_codebooks": "helper of the pq join twin",
    "operators.pq.pq_encode": "helper of the pq join twin",
    "operators.pq.adc_topk": "helper of the pq join twin",
    "operators.pq.subspace_ev": "helper of the pq join twin",
    "operators.pq._pq_assign": "helper of the pq join twin",
    "operators.tokencount.subword_counts": "mapInPandas reference of subword_counts_expr",
    "plans.testdata_queries.ivf_ranked_raw": "recall baseline of test_ann_quality",
    "operators.compact.file_ranges": "test_compaction's reader of the compacted layout",
    "sources.conll_spark.conll_segments": "test_sources_ops's segments over the CoNLL reader",
    "operators.metrics.triple_prf": "the acceptance bar's triple P/R, pinned by test_sources_ops",
}

# files whose every definition is a root
ROOT_DIRS = ("perfbench", "tools", f"{PKG}/streaming")
ROOT_FILES = [REPO / f for f in ("__spark_entry__.py", "bench.py")]
ROOT_FILES += [REPO / PKG / "plans" / f"{m}.py" for m in ("run", "infer", "evaluate")]
ROOT_FILES += [p for d in ROOT_DIRS for p in sorted((REPO / d).glob("*.py"))]
ROOT_DEFS = [f"{PKG}.plans.pipeline.run_pipeline", f"{PKG}.plans.testdata_queries.QUERIES"]

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module(path: pathlib.Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _top_defs(tree: ast.Module) -> Iterator[Tuple[str, ast.stmt]]:
    for node in tree.body:
        if isinstance(node, _DEFS):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            yield from ((t.id, node) for t in targets if isinstance(t, ast.Name))


def _aliases(tree: ast.Module, mod: str, is_pkg: bool) -> Dict[str, str]:
    """Every name an import in the file binds (nested imports too) ->
    the dotted name it stands for."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:  # ``import a.b`` binds ``a``
                bound = a.asname or a.name.split(".")[0]
                out[bound] = a.name if a.asname else bound
        elif isinstance(node, ast.ImportFrom):
            src = node.module or ""
            if node.level:
                base = mod.split(".")[: len(mod.split(".")) - node.level + is_pkg]
                src = ".".join(base + ([node.module] if node.module else []))
            for a in node.names:
                out[a.asname or a.name] = f"{src}.{a.name}"
    return out


def _chains(nodes: List[ast.AST]) -> Iterator[List[str]]:
    """Every name chain ``a.b.c`` in ``nodes``, as ["a", "b", "c"]."""
    for root in nodes:
        for node in ast.walk(root):
            parts = []
            while isinstance(node, ast.Attribute):
                parts.append(node.attr)
                node = node.value
            if isinstance(node, ast.Name):
                yield [node.id] + parts[::-1]


def unreached() -> Dict[str, int]:
    """Package functions and classes no root reaches -> their line counts."""
    files = dict.fromkeys(ROOT_FILES + sorted((REPO / PKG).rglob("*.py")))
    trees, aliases = {}, {}
    for p in files:
        m = _module(p)
        trees[m] = ast.parse(p.read_text(), str(p))
        aliases[m] = _aliases(trees[m], m, p.name == "__init__.py")
    defs = {f"{m}.{n}": node for m, t in trees.items() for n, node in _top_defs(t)}
    def_ids = {id(node) for node in defs.values()}

    def resolve(dotted: str) -> str | None:
        # the longest module prefix, then the definition right after it
        parts = dotted.split(".")
        for i in range(len(parts) - 1, 0, -1):
            if ".".join(parts[:i]) in trees:
                key = ".".join(parts[: i + 1])
                return key if key in defs else None
        return None

    def refs(mod: str, nodes: List[ast.AST]) -> Iterator[str]:
        for head, *rest in _chains(nodes):
            if head in aliases[mod]:
                key = resolve(".".join([aliases[mod][head]] + rest))
            else:
                key = f"{mod}.{head}" if f"{mod}.{head}" in defs else None
            if key:
                yield key

    todo = ROOT_DEFS + [k for p in ROOT_FILES for k in refs(_module(p), [trees[_module(p)]])]
    seen: Set[str] = set()
    imported: Set[str] = set()
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        mod = key.rsplit(".", 1)[0]
        todo.extend(refs(mod, [defs[key]]))
        if mod not in imported:  # importing a module runs its top-level statements
            imported.add(mod)
            todo.extend(refs(mod, [n for n in trees[mod].body if id(n) not in def_ids]))
    return {
        k[len(PKG) + 1 :]: n.end_lineno - n.lineno + 1
        for k, n in defs.items()
        if k.startswith(PKG + ".") and k not in seen and isinstance(n, _DEFS)
    }


def test_unreached_package_code_is_only_the_kept_references():
    dead = set(unreached())
    assert dead - set(KEEP) == set(), "dead package code: delete it or reach it from a root"
    assert set(KEEP) - dead == set(), "stale KEEP entry: the name is gone or now reached"


if __name__ == "__main__":
    dead = unreached()
    for k, n in sorted(dead.items()):
        print(f"{n:5d}  {k}{'' if k in KEEP else '  (not kept)'}")
    print(f"{len(dead)} definitions, {sum(dead.values())} lines")
