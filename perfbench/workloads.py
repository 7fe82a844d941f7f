"""Workload definitions and the seeded call sequence.

A workload is a fixed key list plus the fixture scale it reads. The seed
only permutes the key order of each pass; the fixtures never change, so
two seeds run the same calls in a different order.

Two workloads, not three: on a 4-core box each run costs a JVM start, a
cold warm pass of 15-35 s and 14-16 timed calls, and a separate
``python_io`` workload pushed a round of 4 + 22 x workloads runs past
its 3420 s budget. Its Python-worker, file-sink and streaming keys ride in
``iterative_io`` instead, beside the loop keys.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str  # fixture directory under perfbench/data
    keys: tuple[str, ...]
    warm_passes: int = 1  # untimed passes before the timed ones


WORKLOADS = {
    w.name: w
    for w in (
        # Short relational calls at sf0.1: construction, scan memo and
        # Catalyst planning are a visible share of each call. No loops,
        # no Python workers, no streams: loop and UDF work should leave
        # it flat. The keys take 0.3-0.8 s each, so the median and tail
        # fall among comparable calls; with 0.1 s keys in the mix they
        # jumped between keys from run to run. The JVM is still
        # warming after one pass: the first timed pass ran up to
        # 33% slower than the second (3.0-4.7 s a pass warm), so a second
        # untimed pass runs first.
        Workload(
            "relational",
            "sf0.1",
            (
                "q_agg_groupby", "q_agg_stats", "q_join_asof",
                "q_win_topk_group", "q_map_json", "q_sql_tpch3",
                "q_window_tumbling", "q_ct_moments",
            ),
            warm_passes=2,
        ),
        # Eager work during construction: loop rounds with checkpoints and
        # broadcasts, an availableNow stream-stream drain, plus Arrow
        # Python workers, an Avro decoder and a partitioned file sink.
        # Four of the keys take 0.6-1.0 s, so the median and tail fall
        # among comparable calls. q_dedup_clusters (3.7 s a call) is left
        # out: with it a run pair took up to 143 s on a contended 4-core
        # VM, which puts a round of 48 runs past 3420 s.
        # Read at sf0.01: these calls are dominated by per-job and
        # per-worker overhead (sf0.001 runs within 10% of sf0.01), while
        # one sf0.1 pass of the loop keys takes about 40 s on 4 cores.
        Workload(
            "iterative_io",
            "sf0.01",
            (
                "q_pagerank", "q_knn_lsh", "q_udaf_grouped",
                "q_multimodal_resize", "q_source_avro",
                "q_sink_partitioned", "q_stream_join",
            ),
        ),
    )
}


def pass_orders(keys: tuple[str, ...], seed: int):
    """Yield the key order of pass 0, 1, 2, ...: each a permutation of
    ``keys`` drawn from one RNG seeded by ``seed``. The warm passes come
    first."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(keys, len(keys))
