"""Workload definitions and the seed -> query order rule.

Every workload runs on the same committed test tables (``data/sf0.01``,
the deterministic seed-42 star schema plus documents/embeddings/events
that the repo's oracle gate uses). The tables are read-only, so the one
input property a seed can vary is the order of the queries inside each
pass; order matters because memos and cached frames are shared between
queries of one session.
"""

from __future__ import annotations

import random

# One query that is in no workload and touches no memo: it pays the
# session's first-touch costs (class loading, parquet footers) during
# set-up, untimed by the passes.
FIRST_TOUCH = "pricing_summary"

# Each workload's rationale is its ``why`` in BENCHMARK.json.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # One query per traced operator module; the unigram fit also calls
    # bpe's word-vocabulary helper.
    "iterative_reuse": (
        "nation_trade_pagerank",
        "docs_unigram_lm_vocab",
        "docs_image_dedup_components",
        "docs_exact_substring_dedup",
        "embedding_ivf_topk",
        "docs_quality_classifier",
    ),
    "streaming_drain": (
        "streaming_scd2_apply",
        "streaming_event_dedup_watermark",
        "streaming_user_cardinality_hll",
        "streaming_distinct_users",
        "streaming_merge_upsert",
        "streaming_quarantine",
    ),
}


def query_order(workload: str, seed: int) -> list[str]:
    """The workload's queries in the order the seed fixes."""
    names = list(WORKLOADS[workload])
    random.Random(seed).shuffle(names)
    return names
