import json
import os

from workloads import FIRST_TOUCH, WORKLOADS, query_order

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_same_order():
    for w in WORKLOADS:
        assert query_order(w, 7) == query_order(w, 7)


def test_seed_only_permutes():
    for w, queries in WORKLOADS.items():
        for seed in range(20):
            assert sorted(query_order(w, seed)) == sorted(queries)


def test_seeds_give_different_orders():
    w = max(WORKLOADS, key=lambda k: len(WORKLOADS[k]))
    assert len({tuple(query_order(w, s)) for s in range(20)}) > 1


def test_order_is_pinned():
    # The seed -> order map is part of the benchmark's definition: a
    # change here changes what every recorded seed measured.
    assert query_order("iterative_reuse", 1) == [
        "docs_image_dedup_components",
        "docs_exact_substring_dedup",
        "docs_quality_classifier",
        "nation_trade_pagerank",
        "embedding_ivf_topk",
        "docs_unigram_lm_vocab",
    ]


def test_workload_queries_exist_and_have_oracles():
    from pmp_analytics_spark.queries import all_oracles, all_queries

    registry = all_queries()
    names = {n for queries in WORKLOADS.values() for n in queries}
    assert names <= set(registry)
    assert FIRST_TOUCH in registry and FIRST_TOUCH not in names
    assert names <= set(all_oracles(names))


def test_benchmark_json_names_the_workloads():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
