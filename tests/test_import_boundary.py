"""Import boundary between the AquaCache package and the leftover
LLM-corpus dedup, ANN-search, web-crawl and media-decoding tier
modules, and the record of what the cuts toward the AquaCache surface
deleted.

Static AST scan, no Spark: the tier modules may be imported only by
the four query modules that host perfbench's batch probes and by each
other, and each of those query modules registers exactly one query
that reaches tier code: its probe. The lists may only shrink. Deleted
modules stay gone and deleted queries stay unregistered. Every
definition in the tier files, and in the library files listed in
``QUERY_REACHED``, must be reachable from a registered query (module
constants count as definitions; the walk follows plain names, imported
names and ``module.name`` attribute references), so dead code cannot
hide behind a live query.
"""

import ast
import functools
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "aquacache_spark"

TIER = {
    "aquacache_spark.operators.dedup",
    "aquacache_spark.operators.similarity",
    "aquacache_spark.operators.web",
    "aquacache_spark.functions.html",
    "aquacache_spark.functions.warc",
    "aquacache_spark.sources.warc",
    "aquacache_spark.operators.multimodal",
    "aquacache_spark.functions.jpeg",
}
GONE = {
    "aquacache_spark.operators.packing",
    "aquacache_spark.operators.rank",
    "aquacache_spark.operators.search",
    "aquacache_spark.functions.bpe",
    "aquacache_spark.functions.charset",
    "aquacache_spark.functions.gif",
    "aquacache_spark.functions.avi",
    "aquacache_spark.operators.funnel",
}
# Queries deleted with the generic-analytics, LLM-text and web-graph
# families: none of them may be registered again.
GONE_QUERIES = {
    "event_funnel", "event_cooccurrence_lift", "luhn_card_validation",
    "benford_digit_screen", "scd2_dimension_build", "table_profile",
    "source_drift_psi", "runs_randomness_test", "kmv_distinct_sample",
    "hilbert_layout_key", "zorder_layout_key", "verified_heavy_hitters",
    "hll_token_intersection", "model_quality_score",
    "model_quality_score_blas", "event_sessionization",
    "session_features", "token_entropy", "corpus_datacard",
    "code_quality_filters", "c4_line_filter", "gopher_quality_gate",
    "domain_quality_gate", "corpus_token_quantiles", "pmi_collocations",
    "bloom_decontamination", "retrieval_ranking_metrics",
    "host_pagerank", "host_link_stats", "incremental_pagerank",
}
# Each probe host's queries that reach tier code: perfbench's batch
# probe only.
TIER_QUERIES = {
    "aquacache_spark.queries.dedup": {"minhash_lsh_pairs"},
    "aquacache_spark.queries.ann": {"embedding_cosine_topk"},
    "aquacache_spark.queries.web": {"warc_crawl_corpus"},
    "aquacache_spark.queries.multimodal": {"jpeg_decode_features"},
}
# Tier files that only the probes keep: each top-level definition in
# them must be reached from a registered query.
PROBE_ONLY = (
    "aquacache_spark.operators.dedup",
    "aquacache_spark.operators.similarity",
    "aquacache_spark.operators.web",
    "aquacache_spark.functions.html",
    "aquacache_spark.functions.warc",
    "aquacache_spark.sources.warc",
    "aquacache_spark.operators.multimodal",
    "aquacache_spark.functions.jpeg",
)
# Library files whose every top-level definition must stay reached
# from a registered query.
QUERY_REACHED = (
    "aquacache_spark.operators.sketch",
    "aquacache_spark.operators.graph",
    "aquacache_spark.operators.vector",
)


def _modules() -> dict[str, Path]:
    out = {}
    for p in PKG.rglob("*.py"):
        parts = p.relative_to(PKG.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = p
    return out


MODULES = _modules()


def _from_base(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    """Absolute module name of a ``from ... import`` statement."""
    if not node.level:
        return node.module or ""
    parts = mod.split(".") if is_pkg else mod.split(".")[:-1]
    parts = parts[:len(parts) - node.level + 1]
    return ".".join(parts + ([node.module] if node.module else []))


def _imported(mod: str, is_pkg: bool, node: ast.AST) -> set[str]:
    """Package modules named by one import statement."""
    if isinstance(node, ast.Import):
        return {a.name for a in node.names if a.name in MODULES}
    if not isinstance(node, ast.ImportFrom):
        return set()
    base = _from_base(mod, is_pkg, node)
    out = {f"{base}.{a.name}" for a in node.names
           if f"{base}.{a.name}" in MODULES}
    if base in MODULES and len(out) < len(node.names):
        out.add(base)
    return out


def _imports(mod: str, tree: ast.AST) -> set[str]:
    is_pkg = MODULES[mod].name == "__init__.py"
    return set().union(*(_imported(mod, is_pkg, n) for n in ast.walk(tree)))


def test_removed_tier_modules_are_gone():
    assert not GONE & set(MODULES)
    for mod, path in MODULES.items():
        assert not _imports(mod, ast.parse(path.read_text())) & GONE, mod


def test_tier_modules_imported_only_by_probe_hosts_and_each_other():
    allowed = TIER | set(TIER_QUERIES)
    offenders = {}
    for mod, path in MODULES.items():
        if mod in allowed:
            continue
        hits = _imports(mod, ast.parse(path.read_text())) & TIER
        if hits:
            offenders[mod] = sorted(hits)
    assert offenders == {}


def _registered(fn: ast.FunctionDef) -> str | None:
    for dec in fn.decorator_list:
        if (isinstance(dec, ast.Call) and getattr(dec.func, "id", None)
                == "register"):
            return dec.args[0].value
    return None


def test_each_probe_host_registers_only_its_listed_tier_queries():
    for mod, listed in TIER_QUERIES.items():
        tree = ast.parse(MODULES[mod].read_text())
        funcs = {n.name: n for n in tree.body
                 if isinstance(n, ast.FunctionDef)}

        def reaches_tier(name: str, seen: set[str]) -> bool:
            if name in seen:
                return False
            seen.add(name)
            fn = funcs[name]
            if _imports(mod, fn) & TIER:
                return True
            return any(reaches_tier(n.id, seen) for n in ast.walk(fn)
                       if isinstance(n, ast.Name) and n.id in funcs)

        on_tier = {_registered(fn) for name, fn in funcs.items()
                   if _registered(fn) and reaches_tier(name, set())}
        assert on_tier == listed, mod


def _top_level_defs(tree: ast.Module) -> dict[str, ast.AST]:
    """Functions, classes and single-name module constants: a constant
    built at import (``_ZZ = _zigzag_order()``) reaches what it calls."""
    out = {}
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
            out[n.name] = n
        elif isinstance(n, ast.Assign) and isinstance(n.targets[0],
                                                      ast.Name):
            out[n.targets[0].id] = n
        elif isinstance(n, ast.AnnAssign) and isinstance(n.target,
                                                         ast.Name):
            out[n.target.id] = n
    return out


@functools.cache
def _reached_from_queries() -> frozenset:
    """(module, name) of every definition a registered query reaches."""
    trees = {m: ast.parse(p.read_text()) for m, p in MODULES.items()}
    defs = {m: _top_level_defs(t) for m, t in trees.items()}
    # module-level ``from x import name [as alias]`` -> (x, name)
    aliases = {
        m: {a.asname or a.name:
            (_from_base(m, MODULES[m].name == "__init__.py", n), a.name)
            for n in t.body if isinstance(n, ast.ImportFrom)
            for a in n.names}
        for m, t in trees.items()}

    def refs(mod: str, node: ast.AST) -> set:
        """(module, name) definitions one definition names or imports."""
        is_pkg = MODULES[mod].name == "__init__.py"
        names = dict(aliases[mod])
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.ImportFrom):
                base = _from_base(mod, is_pkg, n)
                out |= {(base, a.name) for a in n.names
                        if a.name in defs.get(base, {})}
                names.update({a.asname or a.name: (base, a.name)
                              for a in n.names})
        for n in ast.walk(node):
            if isinstance(n, ast.Attribute) and isinstance(n.value,
                                                           ast.Name):
                # ``X.lang_id`` after ``from ..functions import text as X``
                base, name = names.get(n.value.id, ("", ""))
                if f"{base}.{name}" in MODULES:
                    out.add((f"{base}.{name}", n.attr))
            elif isinstance(n, ast.Name):
                if n.id in defs[mod]:
                    out.add((mod, n.id))
                elif n.id in aliases[mod]:
                    out.add(aliases[mod][n.id])
        return out

    stack = [(m, name) for m in MODULES
             if m.startswith("aquacache_spark.queries.")
             for name, fn in defs[m].items()
             if isinstance(fn, ast.FunctionDef) and _registered(fn)]
    seen = set()
    while stack:
        mod, name = stack.pop()
        if (mod, name) in seen or name not in defs.get(mod, {}):
            continue
        seen.add((mod, name))
        stack.extend(refs(mod, defs[mod][name]))
    return frozenset(seen)


def _unreached(mods) -> list[str]:
    seen = _reached_from_queries()
    return sorted(
        f"{m}.{name}" for m in mods
        for name in _top_level_defs(ast.parse(MODULES[m].read_text()))
        if (m, name) not in seen)


def test_probe_only_tier_definitions_are_reached_from_queries():
    assert _unreached(PROBE_ONLY) == []


def test_listed_library_definitions_are_reached_from_queries():
    assert _unreached(QUERY_REACHED) == []


def test_deleted_queries_stay_unregistered():
    registered = {
        _registered(fn) for m, p in MODULES.items()
        if m.startswith("aquacache_spark.queries.")
        for fn in ast.parse(p.read_text()).body
        if isinstance(fn, ast.FunctionDef)}
    assert registered & GONE_QUERIES == set()
