"""The one session memo (``session.session_memo``): what it reuses, what
``release_session_memo`` frees, and that it stays the only memo."""

from __future__ import annotations

import importlib
import pkgutil
import re

import pandas as pd

from pmp_analytics_spark import session
from pmp_analytics_spark.session import release_session_memo


def _held_rdd_ids(spark) -> set[int]:
    """RDDs the block manager holds cached partitions for."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def _storage_rdd_id(df) -> int:
    """The RDD whose blocks hold ``df``: a cached frame's column buffers,
    or the checkpointed RDD behind a ``localCheckpoint`` frame."""
    qe = df._jdf.queryExecution()
    cached = qe.withCachedData()
    if cached.getClass().getSimpleName() == "InMemoryRelation":
        return cached.cacheBuilder().cachedColumnBuffers().id()
    return qe.logical().rdd().id()


def test_release_frees_checkpointed_edge_frame(spark, tmp_path):
    """The memoized co-purchase edge frame is a ``localCheckpoint``,
    which ``DataFrame.unpersist`` leaves held: release must free its
    checkpointed RDD, and the next call rebuilds row-identical edges."""
    from pmp_analytics_spark.queries.extended import _copurchase_edges

    sf = str(tmp_path)
    pd.DataFrame(
        {"l_orderkey": [1, 1, 1, 2, 2, 3, 3, 3], "l_partkey": [10, 11, 12, 10, 12, 11, 12, 13]}
    ).to_parquet(tmp_path / "lineitem.parquet")
    release_session_memo()
    first = _copurchase_edges(spark, sf)
    assert _copurchase_edges(spark, sf) is first
    rows = sorted(first.collect())
    rdd_id = _storage_rdd_id(first)
    assert rdd_id in _held_rdd_ids(spark)

    release_session_memo()
    assert session._SESSION_MEMO == {}
    assert rdd_id not in _held_rdd_ids(spark)
    rebuilt = _copurchase_edges(spark, sf)
    assert rebuilt is not first
    assert sorted(rebuilt.collect()) == rows
    assert len(rows) == 7  # one row per (order, u < v) pair
    release_session_memo()
    release_session_memo()  # idempotent on empty


def test_release_frees_cached_ingest_store(spark, tmp_path):
    """The ingest store's band-key frame is ``.cache()``d: release must
    unpersist it, and the next call rebuilds a row-identical store."""
    from pmp_analytics_spark.queries.llm import _neardup_ingest_store

    sf = str(tmp_path)
    texts = [f"document {i} about topic {i % 3} with some shared filler words" for i in range(10)]
    pd.DataFrame({"doc_id": range(1, 11), "text": texts}).to_parquet(tmp_path / "documents.parquet")
    release_session_memo()
    store = _neardup_ingest_store(spark, sf)
    assert _neardup_ingest_store(spark, sf) is store
    cut, _, _, keys_h = store
    rows = sorted(keys_h.collect())
    rdd_id = _storage_rdd_id(keys_h)
    assert rdd_id in _held_rdd_ids(spark)

    release_session_memo()
    assert rdd_id not in _held_rdd_ids(spark)
    cut2, _, _, keys_h2 = _neardup_ingest_store(spark, sf)
    assert cut2 == cut
    assert sorted(keys_h2.collect()) == rows
    release_session_memo()


def test_release_invalidates_every_merge_fit(spark, tmp_path):
    """After the corpus is rewritten, one release makes all three
    tokenizer fits (BPE, byte-level BPE, WordPiece) refit from the new
    data; until then every fit is served from the memo."""
    from pmp_analytics_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_learn_merges_bytes,
        wordpiece_learn_merges,
    )
    from pmp_analytics_spark.queries.pretrain import _BBPE_K, _BPE_K, _WP_K, _merge_fit

    arms = [
        (bpe_learn_merges, _BPE_K),
        (bpe_learn_merges_bytes, _BBPE_K),
        (wordpiece_learn_merges, _WP_K),
    ]
    sf_dir = str(tmp_path)
    path = tmp_path / "documents.parquet"

    def write(texts: list[str]) -> None:
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(path)

    def fits() -> list:
        return [_merge_fit(spark, sf_dir, learn, k)[0] for learn, k in arms]

    release_session_memo()
    write(["low lower lowest", "newer newest wider widest", "lower newer"] * 3)
    old = fits()
    write(["banana bandana cabana", "panama canal banal", "cabana banana"] * 3)
    assert fits() == old
    release_session_memo()
    new = fits()
    docs = spark.read.parquet(str(path))
    assert new == [learn(docs, "text", k).orderBy("rank").collect() for learn, k in arms]
    assert all(n != o for n, o in zip(new, old))
    release_session_memo()


def test_session_memo_is_the_only_memo():
    """No module keeps a memo dict of its own beside ``_SESSION_MEMO``."""
    import pmp_analytics_spark

    memo_name = re.compile(r"^_[A-Z0-9_]+_MEMO$")
    stray = []
    for info in pkgutil.walk_packages(pmp_analytics_spark.__path__, "pmp_analytics_spark."):
        mod = importlib.import_module(info.name)
        stray += [
            f"{info.name}.{name}"
            for name, obj in vars(mod).items()
            if memo_name.match(name) and isinstance(obj, dict) and obj is not session._SESSION_MEMO
        ]
    assert stray == []
