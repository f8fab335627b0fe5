"""Import boundary, package-wide reachability, and the record of what
the cuts toward the AquaCache surface deleted.

Static AST scan, no Spark:

- The leftover LLM-corpus dedup, ANN-search, web-crawl and
  media-decoding tier modules may be imported only by the four query
  modules that host perfbench's batch probes and by each other, and
  each of those query modules registers exactly one query that reaches
  tier code: its probe. The lists may only shrink. Deleted modules
  stay gone and deleted queries stay unregistered.
- Every definition in the tier files, and in the library files listed
  in ``QUERY_REACHED``, must be reachable from a registered query.
- Every top-level definition in the package (functions, classes and
  module constants) must be reachable from the library's entry points
  (``_library_roots``), or be listed in ``ALLOWED_UNREACHED`` with the
  reference file it serves. The walk follows plain names, imported
  names, re-exports and ``M.name`` after ``M`` names a module.
- Query modules import only what they use.
"""

import ast
import functools
import re
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
    "aquacache_spark.operators.skew",
    "aquacache_spark.operators.impute_pipeline",
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
    """Functions, classes and module constants (a tuple assignment
    defines each of its names): a constant built at import
    (``_ZZ = _zigzag_order()``) reaches what it calls."""
    out = {}
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
            out[n.name] = n
        for name in _assigned(n):
            out[name] = n
    return out


def _assigned(node: ast.AST) -> list[str]:
    """Names a module-level ``a = ...`` / ``a, b = ...`` defines."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [e.id for t in targets
            for e in (t.elts if isinstance(t, ast.Tuple) else [t])
            if isinstance(e, ast.Name)]


def _binds(mod: str, node: ast.AST) -> dict[str, tuple[str, str]]:
    """Name -> (module, name) that one import statement binds; an
    ``import a.b as M`` binds M to (a, b)."""
    if isinstance(node, ast.ImportFrom):
        is_pkg = mod in MODULES and MODULES[mod].name == "__init__.py"
        base = _from_base(mod, is_pkg, node)
        return {a.asname or a.name: (base, a.name) for a in node.names}
    if isinstance(node, ast.Import):
        return {a.asname: tuple(a.name.rpartition(".")[::2])
                for a in node.names if a.asname}
    return {}


@functools.cache
def _trees() -> dict[str, ast.Module]:
    return {m: ast.parse(p.read_text()) for m, p in MODULES.items()}


@functools.cache
def _defs() -> dict[str, dict[str, ast.AST]]:
    return {m: _top_level_defs(t) for m, t in _trees().items()}


@functools.cache
def _aliases() -> dict[str, dict[str, tuple[str, str]]]:
    """Module-level import bindings of each package module."""
    return {m: {k: v for n in t.body for k, v in _binds(m, n).items()}
            for m, t in _trees().items()}


def _refs(mod: str, node: ast.AST) -> set:
    """(module, name) of what one definition or statement uses: plain
    names, imported names and ``M.name`` after ``M`` names a module."""
    local = _defs().get(mod, {})
    names = dict(_aliases().get(mod, {}))
    for n in ast.walk(node):
        names.update(_binds(mod, n))
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
            base, name = names.get(n.value.id, ("", ""))
            if f"{base}.{name}" in MODULES:
                out.add((f"{base}.{name}", n.attr))
        elif isinstance(n, ast.Name):
            if n.id in local:
                out.add((mod, n.id))
            if n.id in names:
                out.add(names[n.id])
    return out


def _reach(roots) -> frozenset:
    """Every (module, name) definition reachable from ``roots``; a name
    a module only imports leads on to the definition it imports."""
    defs, aliases = _defs(), _aliases()
    stack, seen = list(roots), set()
    while stack:
        key = stack.pop()
        if key in seen:
            continue
        seen.add(key)
        mod, name = key
        if name in defs.get(mod, {}):
            stack.extend(_refs(mod, defs[mod][name]))
        elif name in aliases.get(mod, {}):
            stack.append(aliases[mod][name])
    return frozenset(k for k in seen if k[1] in defs.get(k[0], {}))


def _query_roots() -> set:
    return {(m, name) for m in MODULES
            if m.startswith("aquacache_spark.queries.")
            for name, fn in _defs()[m].items()
            if isinstance(fn, ast.FunctionDef) and _registered(fn)}


def _unreached(roots, mods=None) -> list[str]:
    """Definitions in ``mods`` (default: the whole package) that
    ``roots`` do not reach."""
    seen = _reach(roots)
    return sorted(f"{m}.{name}" for m in (mods or MODULES)
                  for name in _defs()[m] if (m, name) not in seen)


def test_probe_only_tier_definitions_are_reached_from_queries():
    assert _unreached(_query_roots(), PROBE_ONLY) == []


def test_listed_library_definitions_are_reached_from_queries():
    assert _unreached(_query_roots(), QUERY_REACHED) == []


def test_deleted_queries_stay_unregistered():
    registered = {
        _registered(fn) for m, p in MODULES.items()
        if m.startswith("aquacache_spark.queries.")
        for fn in ast.parse(p.read_text()).body
        if isinstance(fn, ast.FunctionDef)}
    assert registered & GONE_QUERIES == set()


# Package-wide reachability. The library's entry points: the registered
# queries; every module-level statement that is not a definition or an
# import (it runs at import); the public names of the modules below;
# every ``@register_source`` connector with the dispatch that calls them
# by name (the reference's ``source_fx``, getNewContinuous.R:481-486);
# and every package name the driver contract, bench CLI, scale check
# and perfbench import or reference.
PUBLIC = (
    "aquacache_spark.api",
    "aquacache_spark.daily_update",
    "aquacache_spark.session",
    "aquacache_spark.sources.store",
    "aquacache_spark.streaming",
)
DISPATCH = {("aquacache_spark.sources.registry", "dispatch"),
            ("aquacache_spark.sources.registry", "validate_contract")}
REPO = PKG.parent
DRIVERS = (REPO / "__spark_entry__.py", REPO / "bench.py",
           REPO / "scale_check.py", *sorted((REPO / "perfbench").glob("*.py")))
# Definitions no entry point reaches that stay because they re-express
# a reference function no query or connector calls yet; each value
# names the reference file or patch it serves. What they reach stays
# with them. The dict may only shrink.
ALLOWED_UNREACHED = {
    "aquacache_spark.sources.discrete.validate_batch":
        "R/getNewDiscrete.R:8-35 sample/result contract",
    "aquacache_spark.sources.discrete.map_parameters":
        "R/downloadEQWin.R:43 import_parameter_mappings",
    "aquacache_spark.sources.discrete.results_wide":
        "R/getNewDiscrete.R:8-35 results per sample",
    "aquacache_spark.operators.guidelines.validate_guideline_value_rule":
        "inst/patches/patch_55.R:849-1060 guideline_value_rules trigger",
    "aquacache_spark.operators.catalog_admin.insert_timeseries":
        "R/addACTimeseries.R insert after the validation ladder",
    "aquacache_spark.sources.raster.to_reference_and_tiles":
        "R/insertACRaster.R:4-8 rasters_reference + tiles",
    "aquacache_spark.sources.hydat.hydat_version_check":
        "R/hydat_check.R:13-72",
    "aquacache_spark.sources.hydat.update_hydat_datums":
        "R/update_hydat_datums.R:8-17 (a warning stub there too)",
    "aquacache_spark.operators.raster.export_geotiff":
        "R/writeRaster.R:330-361 terra::writeRaster GTiff",
    "aquacache_spark.sources.media.download_wsc_images":
        "R/downloadWSCImages.R",
    "aquacache_spark.sources.media.validate_boreholes":
        "R/insertACBorehole.R:60-128",
}
REFERENCE_CITE = re.compile(r"\w\.R\b|patch_\d+")


def _connector(fn: ast.AST) -> bool:
    return isinstance(fn, ast.FunctionDef) and any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None)
        == "register_source" for d in fn.decorator_list)


def _library_roots() -> set:
    roots = _query_roots() | DISPATCH
    for m, tree in _trees().items():
        public = m.startswith(PUBLIC)
        roots |= {(m, name) for name, fn in _defs()[m].items()
                  if _connector(fn) or (public and name[0] != "_")}
        for n in tree.body:
            if not (isinstance(n, (ast.FunctionDef, ast.ClassDef,
                                   ast.Import, ast.ImportFrom))
                    or _assigned(n)):
                roots |= _refs(m, n)
    for path in DRIVERS:
        roots |= {r for r in _refs(str(path), ast.parse(path.read_text()))
                  if r[0].startswith("aquacache_spark")}
    return roots


def _key(name: str) -> tuple[str, str]:
    return tuple(name.rsplit(".", 1))


def test_every_library_definition_is_reached_or_cites_the_reference():
    roots = _library_roots()
    allowed = {_key(k) for k in ALLOWED_UNREACHED}
    assert _unreached(roots | allowed) == []
    # each allowed entry is still unreached from the real entry points
    # (reach it, and it leaves the dict) ...
    assert sorted(set(ALLOWED_UNREACHED)
                  - set(_unreached(roots))) == []
    # ... and names the reference file or patch it serves
    assert [k for k, v in ALLOWED_UNREACHED.items()
            if not REFERENCE_CITE.search(v)] == []


def _unused_imports(scope: ast.AST) -> list[str]:
    """Names an import binds that its scope (the module, or the
    function holding a local import) never reads."""
    used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
    out, stack = [], list(ast.iter_child_nodes(scope))
    while stack:
        n = stack.pop()
        if isinstance(n, ast.FunctionDef):
            out += _unused_imports(n)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            if getattr(n, "module", None) == "__future__":
                continue
            bound = ((a.asname or a.name).split(".")[0] for a in n.names)
            out += [f"line {n.lineno}: {b}" for b in bound if b not in used]
        else:
            stack.extend(ast.iter_child_nodes(n))
    return out


def test_query_modules_import_only_what_they_use():
    unused = {m: _unused_imports(_trees()[m]) for m in MODULES
              if m.startswith("aquacache_spark.queries.")}
    assert {m: u for m, u in unused.items() if u} == {}
