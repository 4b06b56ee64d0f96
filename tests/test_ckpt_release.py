"""Checkpoint lifetime (operators/ckpt.py) and the streaming worker-spawn
flake retry matcher. Loops release their own rounds; returned frames keep
their blocks until the ContextCleaner sees them unreachable, and
``local_checkpoint`` collects dropped frames once ``_SLACK`` of them pile
up, so any number of live results stays evaluable and a long session
stays bounded without the caller's help.
"""

from __future__ import annotations

import time

from corintick_spark.operators import ckpt


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _clean_slate(spark) -> int:
    """Collect what other tests dropped; the cleaner frees it
    asynchronously, so wait a moment before counting."""
    ckpt.collect_released(spark)
    time.sleep(0.5)
    return _persistent(spark)


def test_worker_spawn_flake_matcher():
    from corintick_spark.streaming.events_stream import _worker_spawn_flake

    assert _worker_spawn_flake(
        RuntimeError(
            "org.apache.spark.SparkException: Python worker failed to "
            "connect back."
        )
    )
    assert not _worker_spawn_flake(ValueError("division by zero"))
    assert not _worker_spawn_flake(RuntimeError("FileNotFoundException"))


def test_three_live_bfs_results_all_evaluate(spark):
    """Results of one operator stay evaluable however many are held:
    calling it again must not free an earlier result's blocks."""
    from corintick_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    results = [bfs_hops(edges, seeds) for _ in range(3)]
    expected = [(0, 0), (1, 1), (2, 2), (3, 3)]
    for r in results:
        assert sorted(tuple(row) for row in r.collect()) == expected


def test_long_session_checkpoint_leak_bounded(spark, sf_dir):
    """30 heavy query runs in ONE session with no GC and no release
    between them: the way a driver that builds its own session runs a
    sweep. Once returned frames are dropped, ``local_checkpoint`` gets
    their blocks collected, so the persistent-RDD count stays under a
    fixed bound instead of growing per pass.

    Round 11 measured ~1 GB of leaked localCheckpoint blocks per suite
    pass when returned frames' blocks were never freed (extras medians
    degraded 10-60x by pass 3)."""
    from corintick_spark.registry import load_all

    registry = load_all()
    # queries whose operators keep checkpoints alive in their returned
    # frames
    names = [
        "dedup_minhash", "dedup_ngram", "dedup_survivors",
        "dedup_clusters", "dedup_image_phash", "graph_pagerank",
        "graph_bfs", "sql_recursive", "agg_group_median",
        "text_heavyhitters",
    ]
    base = _clean_slate(spark)

    per_pass = []
    for _pass in range(3):
        counts = []
        for n in names:
            registry[n].spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            counts.append(_persistent(spark))
        per_pass.append(counts)
    # between collections dropped frames add at most the slack; the rest
    # is what the query just run still holds, what the SQL status store
    # still pins, and the cleaner's asynchronous lag
    assert max(map(max, per_pass)) <= base + ckpt._SLACK + 10, (base, per_pass)
    ckpt.collect_released(spark)
