"""Workload definitions: which registered queries each workload submits,
how many closed-loop clients submit them, and why the workload exists.

Every workload runs the registered builders (``plans.registry``) against
the staged sf0.1 fixtures. The cold pass submits the mix in its listed
order; the seed fixes the submission order of every steady pass. The
program receives the same staged inputs for every seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    clients: int
    passes: int  # fewest steady passes; more run while --seconds have not passed
    mix: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "warehouse_sf01",
            clients=4,
            passes=1,
            mix=(
                "flagship_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier_volume",
                "q6_forecast_revenue",
                "join_star_revenue",
                "window_topk_per_group",
                "events_sessionize",
                "events_tumbling_daily",
                "redshift_script_copy_unload",
                "stream_tumbling_watermark",
            ),
            why=(
                "BI tier: 4 clients submit relational queries beside one ETL script and one stream "
                "refresh; catalog loads, operators and Spark job scheduling do most of the work"
            ),
        ),
        Workload(
            "pipeline_sf01",
            clients=1,
            passes=2,
            mix=(
                "dedup_minhash_lsh",
                "sim_ann_lsh",
                "redshift_script_copy_unload",
                "source_csv_copy_roundtrip",
                "stream_tumbling_watermark",
            ),
            why=(
                "batch pipeline, 1 client: corpus kernels (MinHash, vector dot products, codegen), "
                "Redshift scripts, SQL front-end, COPY/UNLOAD files and stream micro-batches"
            ),
        ),
    )
}


def pass_order(mix: tuple[str, ...], seed: int, pass_index: int) -> list[str]:
    """The submission order of one pass: a permutation of the mix that
    depends only on (seed, pass_index)."""
    order = list(mix)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order
