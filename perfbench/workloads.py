"""Workload definitions, query-to-layer mapping and the seeded pass order.

Every workload is a fixed list of registered queries run as a closed loop
by one driver thread over the fixtures in ``fixtures/sf0.01``.  The seed
never changes the data; it only permutes the query order of each pass.
"""

from __future__ import annotations

import math
import random
from collections.abc import Callable

# Query layers: the package's top-level modules, with ``pipeline`` split by
# submodule because its families share nothing but the package name.
QUERY_LAYERS = (
    "operators", "streaming", "sources", "raster",
    "pipeline.dedup", "pipeline.similarity", "pipeline.text",
    "pipeline.graph", "pipeline.curation",
)
SETUP_LAYERS = ("session.get_spark_s", "io.load_all_s")

WORKLOADS: dict[str, dict] = {
    "sql_analyst": {
        "why": "short JVM-only multi-stage SQL jobs over the read path: "
               "operators and streaming scans do the work, no Python "
               "workers, sinks or driver loops",
        "queries": (
            "flagship_pricing_summary", "j2_orders_lineitem_join",
            "j3_star_join_revenue", "a4_grouped_metrics",
            "w1_topk_per_group", "w3_moving_average", "o1_global_sort",
            "t1_tumbling_window", "t3_session_window",
            "sql_q3_shipping_priority",
        ),
        "nominal_pass_s": 3.6,
    },
    "curate_write": {
        "why": "the Arrow/Python-worker boundary (similarity, raster), "
               "curation, the sink side of sources and a driver-coordinated "
               "label-propagation loop, next to sql_analyst's reads",
        "queries": (
            "x6_exact_dedup", "x9_word_count", "x8_knn_all",
            "pipeline_curation_end2end", "x3_linear_infer",
            "s5_parquet_roundtrip", "x65_lpa_communities",
        ),
        "nominal_pass_s": 5.8,
    },
}


def timed_passes(workload: str, seconds: float) -> int:
    """How many passes a run times: enough to fill ``seconds`` at the
    workload's nominal pass time, a fixed constant, and at least three, so
    that each query's median has three samples.  The count depends only on
    ``seconds``, so two commits compared at the same setting time the same
    passes, at the same points of the JVM's warm-up curve."""
    return max(3, math.ceil(seconds / WORKLOADS[workload]["nominal_pass_s"]))


def layer_of(fn: Callable) -> str:
    """The layer a registered query belongs to, from its module name:
    ``big_data_project_spark.pipeline.graph`` -> ``pipeline.graph``,
    ``big_data_project_spark.operators.joins`` -> ``operators``."""
    parts = fn.__module__.split(".")[1:]
    if not parts:
        raise ValueError(f"{fn.__module__} is not a package module")
    layer = ".".join(parts[:2]) if parts[0] == "pipeline" else parts[0]
    if layer not in QUERY_LAYERS:
        raise ValueError(f"{fn.__module__} maps to unknown layer {layer!r}")
    return layer


def pass_order(queries: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass)."""
    order = list(queries)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order
