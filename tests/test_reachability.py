"""No dead package code and no unused options.

Every top-level function and class in ``arabicner_spark`` is reached
from a root — the pipeline (``run_pipeline``), the query registry
(``QUERIES``), the entry points, streaming, ``bench.py``,
``perfbench/`` or a tool — or is a reference that tests of live code
compare against, named in ``KEEP`` with its reason.

Reachability is static: a definition reaches every package definition
its body names, directly or through an imported alias, and reaching a
definition runs its module's top-level statements.

Every defaulted parameter of those functions is set by some call in
the repository (package, roots or tests), or is named in
``KEEP_OPTIONS`` with its reason: a parameter no call sets is a
configuration nothing runs, so it is a constant.  Partition width is
no option at all: operators read it from ``io.pin_width``.

Run this file as a script to print the unreached set with line counts
and the unset options.
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

# defaulted parameters no call sets, kept for the reason given
KEEP_OPTIONS = {
    "oracle.oracle_mentions(max_seq_len)": "serial reference: mirrors extract_mentions' signature",
    "oracle.oracle_triples(predicates)": "serial reference: mirrors extract_triples' signature",
    "oracle.oracle_triples(window)": "serial reference: mirrors extract_triples' signature",
    "operators.pq.pq_index_and_search_joins(id_col)": "join twin test_pq compares with; its helpers take id_col",
    "operators.pq.pq_index_and_search_joins(vec_col)": "join twin test_pq compares with",
    "plans.corpus.run_corpus_pipeline(input_snapshot)": "the resume contract (the input snapshot run_pipeline's callers set)",
    "plans.testdata_queries._flat_score_td(encs)": "encoder protocol signature, called through a variable",
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


def _chain(node: ast.AST) -> List[str] | None:
    """The name chain ``a.b.c`` that ``node`` is, as ["a", "b", "c"]."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    return [node.id] + parts[::-1] if isinstance(node, ast.Name) else None


def _chains(nodes: List[ast.AST]) -> Iterator[List[str]]:
    """Every name chain in ``nodes``."""
    for root in nodes:
        for node in ast.walk(root):
            chain = _chain(node)
            if chain:
                yield chain


class _Index:
    """Every parsed file (package, roots and tests), its import aliases
    and the top-level definitions of each module."""

    def __init__(self, files: List[pathlib.Path]):
        self.trees, self.aliases = {}, {}
        for p in files:
            m = _module(p)
            self.trees[m] = ast.parse(p.read_text(), str(p))
            self.aliases[m] = _aliases(self.trees[m], m, p.name == "__init__.py")
        self.defs = {f"{m}.{n}": node for m, t in self.trees.items() for n, node in _top_defs(t)}

    def resolve(self, dotted: str) -> str | None:
        # the longest module prefix, then the definition right after it
        parts = dotted.split(".")
        for i in range(len(parts) - 1, 0, -1):
            if ".".join(parts[:i]) in self.trees:
                key = ".".join(parts[: i + 1])
                return key if key in self.defs else None
        return None

    def ref(self, mod: str, chain: List[str]) -> str | None:
        head, *rest = chain
        if head in self.aliases[mod]:
            return self.resolve(".".join([self.aliases[mod][head]] + rest))
        return f"{mod}.{head}" if f"{mod}.{head}" in self.defs else None

    def refs(self, mod: str, nodes: List[ast.AST]) -> Iterator[str]:
        for chain in _chains(nodes):
            key = self.ref(mod, chain)
            if key:
                yield key


def _package_files() -> List[pathlib.Path]:
    return list(dict.fromkeys(ROOT_FILES + sorted((REPO / PKG).rglob("*.py"))))


def reached(ix: _Index) -> Set[str]:
    """Package and root definitions some root reaches."""
    def_ids = {id(node) for node in ix.defs.values()}
    todo = ROOT_DEFS + [k for p in ROOT_FILES for k in ix.refs(_module(p), [ix.trees[_module(p)]])]
    seen: Set[str] = set()
    imported: Set[str] = set()
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        mod = key.rsplit(".", 1)[0]
        todo.extend(ix.refs(mod, [ix.defs[key]]))
        if mod not in imported:  # importing a module runs its top-level statements
            imported.add(mod)
            todo.extend(ix.refs(mod, [n for n in ix.trees[mod].body if id(n) not in def_ids]))
    return seen


def unreached() -> Dict[str, int]:
    """Package functions and classes no root reaches -> their line counts."""
    ix = _Index(_package_files())
    seen = reached(ix)
    return {
        k[len(PKG) + 1 :]: n.end_lineno - n.lineno + 1
        for k, n in ix.defs.items()
        if k.startswith(PKG + ".") and k not in seen and isinstance(n, _DEFS)
    }


def _defaulted(fn: ast.FunctionDef) -> Iterator[Tuple[str, int | None]]:
    """(name, position or None for keyword-only) of each defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    for i in range(len(positional) - len(a.defaults), len(positional)):
        yield positional[i].arg, i
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield arg.arg, None


def unset_options() -> List[str]:
    """Defaulted parameters of the reached or kept top-level package
    functions that no call in the repository sets, as
    ``module.function(param)``.  A
    call resolving to the function sets a parameter it passes by
    keyword or by position, and sets every parameter when it passes
    ``*args`` or ``**kwargs``."""
    ix = _Index(_package_files() + sorted((REPO / "tests").glob("*.py")))
    live = reached(ix) | {f"{PKG}.{k}" for k in KEEP}
    set_by: Dict[str, Set[str]] = {}
    for mod, tree in ix.trees.items():
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            chain = _chain(call.func)
            key = ix.ref(mod, chain) if chain else None
            fn = ix.defs.get(key)
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            spread = any(isinstance(a, ast.Starred) for a in call.args)
            spread |= any(k.arg is None for k in call.keywords)
            names = {k.arg for k in call.keywords}
            set_by.setdefault(key, set()).update(
                p for p, i in _defaulted(fn) if spread or p in names or (i is not None and i < len(call.args))
            )
    return sorted(
        f"{k[len(PKG) + 1 :]}({p})"
        for k, fn in ix.defs.items()
        if k.startswith(PKG + ".") and k in live and isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for p, _ in _defaulted(fn)
        if p not in set_by.get(k, ())
    )


def test_unreached_package_code_is_only_the_kept_references():
    dead = set(unreached())
    assert dead - set(KEEP) == set(), "dead package code: delete it or reach it from a root"
    assert set(KEEP) - dead == set(), "stale KEEP entry: the name is gone or now reached"


def test_no_partition_width_option():
    from arabicner_spark.plans.corpus import CorpusConfig

    widths = [
        f"{_module(p)}.{getattr(fn, 'name', '<lambda>')}"
        for p in sorted((REPO / PKG).rglob("*.py"))
        for fn in ast.walk(ast.parse(p.read_text()))
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
        and "width" in {a.arg for a in ast.walk(fn.args) if isinstance(a, ast.arg)}
    ]
    assert widths == [], "operators read their width from io.pin_width"
    assert not [f for f in CorpusConfig.__dataclass_fields__ if "width" in f]


def test_unset_options_are_only_the_kept_ones():
    unset = set(unset_options())
    assert unset - set(KEEP_OPTIONS) == set(), "option no call sets: make it a constant"
    assert set(KEEP_OPTIONS) - unset == set(), "stale KEEP_OPTIONS entry: the option is gone or now set"


if __name__ == "__main__":
    dead = unreached()
    for k, n in sorted(dead.items()):
        print(f"{n:5d}  {k}{'' if k in KEEP else '  (not kept)'}")
    print(f"{len(dead)} definitions, {sum(dead.values())} lines")
    unset = unset_options()
    for k in unset:
        print(f"unset  {k}{'' if k in KEEP_OPTIONS else '  (not kept)'}")
    print(f"{len(unset)} unset options")
