"""The benchmark's workloads and the fixture tables they read."""

from __future__ import annotations

import os
from dataclasses import dataclass

# The engine's sf0.001 fixture tables, as shipped with the benchmark. Every
# run reads the same input; the seed only orders queries and places the
# stream-replay cut points.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # one warm pass on a 4-core machine; sets how many passes a run times
    nominal_pass_s: float
    # untimed passes first: the JIT and the Python workers keep warming for
    # several passes (batch-heavy's CPU per pass falls by half over four)
    warmup_passes: int = 1
    # >0: streamed tables are replayed as this many micro-batch segments
    segments: int = 0
    # the tables the stream queries read through ``read_stream_table``
    stream_tables: tuple[str, ...] = ()


# Query sets are cut to what a run can warm and time in about a minute on
# 4 cores (see README.md); batch-light is not in BENCHMARK.json.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="batch-heavy",
            queries=(
                "dedup_prefix_filter_jaccard",
                "dedup_minhash_lsh",
                "mm_phash_neardup",
            ),
            nominal_pass_s=4.0,
            warmup_passes=2,
        ),
        Workload(
            name="batch-light",
            queries=(
                "q1_expensive_orders",
                "q2_order_projection",
                "q4_products_per_user_10s",
                "q5_paid_orders",
                "s2_latest_event_per_user",
                "agg_pricing_summary",
                "wf_top3_orders_per_customer",
                "sliding_window_event_counts",
                "json_props_extract",
                "join_left_interval_unpaid",
                "dedup_exact",
                "text_token_stats",
            ),
            nominal_pass_s=5.0,
        ),
        Workload(
            name="stream-replay",
            queries=(
                "stream_q1_expensive_orders",
                "stream_q4_products_per_user_10s",
            ),
            nominal_pass_s=9.0,
            # Spark drops a late row against the watermark of the batch
            # before last, so the third micro-batch is the first in which
            # the watermark check can fire
            segments=3,
            stream_tables=("orders", "events"),
        ),
    )
}
