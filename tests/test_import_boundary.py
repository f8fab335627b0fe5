"""Import boundary between the AquaCache package and the leftover
LLM-corpus dedup, ANN-search and web-crawl tier modules.

Static AST scan, no Spark: the tier modules may be imported only by
the three query modules that host perfbench's batch probes and by each
other, and each of those query modules registers exactly the listed
queries that reach tier code — its probe plus the tier queries not yet
cut. The lists may only shrink.
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
}
GONE = {
    "aquacache_spark.operators.packing",
    "aquacache_spark.operators.rank",
    "aquacache_spark.operators.search",
    "aquacache_spark.functions.bpe",
    "aquacache_spark.functions.charset",
}
# Each probe host's queries that reach tier code: perfbench's batch
# probe first, then the tier queries a later change still has to cut.
TIER_QUERIES = {
    "aquacache_spark.queries.dedup": {
        "minhash_lsh_pairs",
        "ann_lsh_topk", "asset_cross_modal_dedup",
        "audio_fingerprint_near_dup", "audio_spectral_near_dup",
        "bigram_surprisal", "cluster_safe_split", "corpus_curation",
        "curation_full_gate", "dedup_best_of_cluster", "dedup_clusters",
        "dedup_exact", "edit_verified_clusters", "edit_verified_pairs",
        "embedding_near_dup", "eval_decontamination",
        "hash_stratified_sample", "image_phash_near_dup",
        "incremental_lsh_parity", "incremental_paragraph_parity",
        "lsh_capped_pairs", "minhash_signatures", "ngram_jaccard_pairs",
        "paragraph_dedup", "per_language_curation", "simhash_capped_pairs",
        "simhash_near_pairs", "simhash_signatures", "stratified_split",
        "unigram_surprisal", "video_fingerprint_near_dup",
        "weighted_stratified_sample", "winnow_fingerprints",
    },
    "aquacache_spark.queries.ann": {
        "embedding_cosine_topk",
        "ann_ivf_topk", "ann_ivfpq_topk", "ann_pq_topk",
        "embedding_cosine_topk_blas", "embedding_int8_quantization",
        "embedding_ip_topk", "embedding_l2_topk", "hard_negative_mining",
        "ivf_kmeans_centroids", "matryoshka_truncated_topk",
        "semdedup_blas_prune", "semdedup_capped_prune", "semdedup_prune",
    },
    "aquacache_spark.queries.web": {
        "warc_crawl_corpus",
        "canonical_url_dedup", "crawl_frontier_priority",
        "html_main_text_extract", "provenance_curation_gate",
        "psl_wildcard_resolution", "robots_rules_parse",
        "robots_url_filter", "sitemap_url_ingest", "url_canonicalization",
        "url_domain_rollup", "url_domain_rollup_psl", "warc_record_ingest",
        "warc_robots_gated_corpus",
    },
}


def _modules() -> dict[str, Path]:
    out = {}
    for p in PKG.rglob("*.py"):
        parts = p.relative_to(PKG.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = p
    return out


MODULES = _modules()


def _imported(mod: str, is_pkg: bool, node: ast.AST) -> set[str]:
    """Package modules named by one import statement."""
    if isinstance(node, ast.Import):
        return {a.name for a in node.names if a.name in MODULES}
    if not isinstance(node, ast.ImportFrom):
        return set()
    if node.level:
        parts = mod.split(".") if is_pkg else mod.split(".")[:-1]
        parts = parts[:len(parts) - node.level + 1]
        base = ".".join(parts + ([node.module] if node.module else []))
    else:
        base = node.module or ""
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
