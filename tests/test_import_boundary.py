"""Import boundary between the AquaCache package and the leftover
LLM-corpus dedup, ANN-search, web-crawl and media-decoding tier
modules.

Static AST scan, no Spark: the tier modules may be imported only by
the four query modules that host perfbench's batch probes and by each
other, and each of those query modules registers exactly one query
that reaches tier code: its probe. The lists may only shrink. Every
definition in the tier files must be reachable from a registered
query (module constants count as definitions), so dead tier code
cannot hide behind a live probe.
"""

import ast
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


def test_probe_only_tier_definitions_are_reached_from_queries():
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
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.ImportFrom):
                base = _from_base(mod, is_pkg, n)
                out |= {(base, a.name) for a in n.names
                        if a.name in defs.get(base, {})}
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
    unreached = sorted(f"{m}.{name}" for m in PROBE_ONLY
                       for name in defs[m] if (m, name) not in seen)
    assert unreached == []
