"""Query registry package: one module per query family, the shared
registry/fixture core in ``_common``. Importing this package registers
all 207 queries (each module registers into ``_common.QUERIES`` /
``_common.ORACLES`` at import time).

``core`` and ``hydrology`` hold the AquaCache surface. ``dedup``,
``ann``, ``web`` and ``multimodal`` hold text, trend, graph and
media-store queries plus what is left of the LLM-corpus dedup,
ANN-search, web-crawl and media-decoding tiers: one perfbench batch
probe each (``minhash_lsh_pairs``, ``embedding_cosine_topk``,
``warc_crawl_corpus``, ``jpeg_decode_features``; listed in
tests/test_import_boundary.py). Only these four modules may import
the tier modules (``operators/{dedup,similarity,web,multimodal}.py``,
``functions/{html,warc,jpeg}.py``, ``sources/warc.py``).

``from aquacache_spark import queries as Q`` keeps working: this
module re-exports QUERIES, ORACLES, and every name the original flat
module exposed.
"""

from ._common import *  # noqa: F401,F403
from . import _common as _c
from . import core, hydrology, dedup, ann, multimodal, web  # noqa: F401

QUERIES = _c.QUERIES
ORACLES = _c.ORACLES

# compatibility: the original flat module exposed every section-level
# symbol; keep them reachable (first definition wins, _common first)
for _m in (_c, core, hydrology, dedup, ann, multimodal, web):
    for _k, _v in vars(_m).items():
        if not _k.startswith("__") and _k not in globals():
            globals()[_k] = _v
del _m, _k, _v, _c
