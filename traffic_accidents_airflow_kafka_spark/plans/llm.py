"""LLM-training-data pipeline queries over ``documents`` / ``embeddings``.

The north-star extension family (BASELINE.json; SURVEY.md §7 step 8):
deduplication (exact, line-level, MinHash-LSH, n-gram Jaccard, SimHash,
SymSpell edit distance), similarity search (brute-force cosine top-k,
hyperplane LSH, deterministic IVF/PQ/SQ8 tiers), text analysis (tokens,
quality, language ID, fingerprints), decontamination, curation
composites, and multimodal plumbing.

Oracle strategy: everything built on md5 / exact folds / double-precision
cosine has a full DuckDB oracle (md5 and sequential double arithmetic are
bit-identical across engines); seeded-plane and banding parity is spelled
out in SQL where needed, and planted fixtures pin semantics in
tests/test_llm_operators.py.

Since r10 this module is a FAÇADE over family segment modules (VERDICT
r9 #8: the 6.6k-line monolith was the one file where a mis-scoped edit
could take out dozens of oracles at once). Importing it imports every
segment in the ORIGINAL registration order, so the registry — and the
generated CATALOG.md — is identical to the pre-split catalog, and the
public surface (entry functions, DSIR_SELECT_CENTIBITS, the build-once
artifact memo API) is re-exported so ``from ...plans.llm import X``
keeps working for every existing caller.

Segments, in registration order:

- ``llm_dedup`` — exact/normalized/keeper, CCNet line-level, Jaccard,
  MinHash-LSH, SimHash, SymSpell d1/d2
- ``llm_ann`` — cosine top-k, hyperplane LSH (+multi-probe), the
  integer-lattice IVF/PQ tiers, cluster profiles, arrivals
- ``llm_text`` — corpus prep, quality, tokens, lang-ID, PII, fingerprints
- ``llm_multimodal`` — asset meta, header decode, FULL pixel decode, audio
- ``llm_graph`` — CC clusters, PageRank + rank audit over the shared pair graph
- ``llm_curation`` — quality scores, splits, sampling, shards, packing
- ``llm_filtering`` — decontamination (exact/semantic/LSH), filters, DSIR
- ``llm_pipeline`` — IVF-PQ, Bloom dedup, funnel, pair mining, span work
- ``llm_analysis`` — PQ rerank, excision, TF-IDF, PMI, drift, splits
- ``llm_retrieval`` — BM25, hybrid RRF, JL, repeated spans, arrivals
- ``llm_audits`` — recall curves/audits, quotas, bitext, SQ8, metrics

Shared engine-parity helpers and the artifact memo live in
``llm_shared`` (no registrations — import order there is not
load-bearing).
"""

from __future__ import annotations

from .llm_shared import (  # noqa: F401 — re-exported infra surface
    _NUM_HASHES,
    _SHINGLE_CTE,
    _artifact,
    _neardup_pairs,
    _sql_dot,
    _sql_fold_dot,
    _sql_vnorm,
    artifact_build_times,
    artifact_keys,
    evict_artifacts,
)

# Segment imports REGISTER the catalog entries — this order is
# load-bearing: registration order fills the driver-judged window and
# the generated docs, and it must stay byte-identical to the pre-split
# monolith.
from .llm_dedup import *  # noqa: E402,F401,F403
from .llm_ann import *  # noqa: E402,F401,F403
from .llm_text import *  # noqa: E402,F401,F403
from .llm_multimodal import *  # noqa: E402,F401,F403
from .llm_graph import *  # noqa: E402,F401,F403
from .llm_curation import *  # noqa: E402,F401,F403
from .llm_filtering import *  # noqa: E402,F401,F403
from .llm_pipeline import *  # noqa: E402,F401,F403
from .llm_analysis import *  # noqa: E402,F401,F403
from .llm_retrieval import *  # noqa: E402,F401,F403
from .llm_audits import *  # noqa: E402,F401,F403
