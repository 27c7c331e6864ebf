"""The benchmark's workloads: fixed query mixes from the engine's registry.

Each workload is one single-client closed loop over its mix: the next query
starts when the previous one has returned. The mixes are subsets of the
engine's registry chosen so that one run (fresh process, set-up, cold first
pass, timed window) takes under about a minute on a 4-core machine at the
generated scale, with the shared cache's set-up alone taking about half of
that on ``dedup_batch_cached``; BENCHMARK.json gives the reason for each. Each
mix has an odd number of queries, so the median of a window of whole passes
falls on one query's executions rather than between two.

The micro-batch delta-dedup queries (``stream_delta_verified`` and the crawl
loops) are not in any mix: one execution takes about 5 s at this scale on 4
cores, and with two of them per window their run-to-run spread exceeded what
the benchmark's bounds allow.
"""

from __future__ import annotations

from dataclasses import dataclass

#: scale factor of the generated tables (see datagen.py); 0.01 is the scale
#: the engine's oracle gate runs at (60k lineitem rows, 500 documents)
SCALE = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    mix: tuple[str, ...]
    #: run ``cache.cache_shared_stages`` during set-up
    shared_cache: bool
    #: passes the latency figures are taken over: the first ``passes`` of the
    #: timed window, which runs at least these and at least ``--seconds``. The
    #: count is fixed, so the figures' ranks among the executions do not move
    #: with the program's speed. Three passes give fewer executions than the
    #: tail percentile needs (``stats.MIN_EXECUTIONS``), so the tail is the
    #: slowest query's median execution; the median of all executions is the
    #: middle query's. Either figure ignores one slowed execution per query
    passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "finance_dashboard",
            (
                # the risk dashboard's queries (``calculate_metrics``)
                "flagship_risk",
                "benchmark_ols",
                "cumulative_return",
                # not dashboard traffic: these two keep the streaming and sink
                # layers measured, as no workload runs the micro-batch dedup
                "stream_tumbling_counts",
                "sink_roundtrip",
            ),
            shared_cache=False,
            passes=3,
        ),
        Workload(
            "dedup_batch_cached",
            (
                "dedup_minhash_lsh",
                # the pq ranking calls into operators.similarity, so it
                # measures that layer too
                "ann_pq_topk",
                "kmeans_clusters",
            ),
            shared_cache=True,
            passes=3,
        ),
    )
}
