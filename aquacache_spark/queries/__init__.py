"""Query registry package: one module per query family, the shared
registry/fixture core in ``_common``. Importing this package registers
all 177 queries (each module registers into ``_common.QUERIES`` /
``_common.ORACLES`` at import time).

``core`` and ``hydrology`` hold the AquaCache surface. ``dedup``,
``ann``, ``web`` and ``multimodal`` hold text, trend, spatial and
media-store queries plus what is left of the LLM-corpus dedup,
ANN-search, web-crawl and media-decoding tiers: one perfbench batch
probe each (``minhash_lsh_pairs``, ``embedding_cosine_topk``,
``warc_crawl_corpus``, ``jpeg_decode_features``; listed in
tests/test_import_boundary.py). Only these four modules may import
the tier modules (``operators/{dedup,similarity,web,multimodal}.py``,
``functions/{html,warc,jpeg}.py``, ``sources/warc.py``).

The package exports the registry (``QUERIES``, ``ORACLES``) and the
driver's flagship query (``flagship``); each module imports what it
uses.
"""

from . import core, hydrology, dedup, ann, multimodal, web  # noqa: F401
from ._common import ORACLES, QUERIES  # noqa: F401
from .core import flagship  # noqa: F401
