"""The benchmark's workloads: a scale factor, a query list and the
number of untimed warm-up and timed passes each.

Every query is one registry key of ``parking_bigdata_spark.queries``;
the README says why each is in its list.

A run's cold pass is followed by ``warmup_passes`` untimed passes, so
that the JIT has compiled what the cold pass left interpreted, and then
by at least ``timed_passes`` timed ones (more only if ``--seconds`` has
not passed yet). The counts are what the run budget allows: on
``tabular_sf0.1`` the passes keep getting faster for five or more, on
``corpus_sf0.1`` the spread between runs of one pass falls over the
first three (README, warm-up curve); five corpus warm-up passes read no
steadier figures than three.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]
    warmup_passes: int
    timed_passes: int


WORKLOADS = {
    # JVM codegen, scans, shuffles, and the eager jobs and pins that the
    # rank, mixture and tree builders run inside the query function; no
    # Python workers
    "tabular_sf0.1": Workload(0.1, (
        "cheapest_supplier_per_part",
        "events_asof_purchase",
        "freq_table",
        "binned_part_sizes",
        "impute_constant",
        "mannwhitney_order_value",
        "gmm_order_value",
        "gbt_feature_importance",
    ), warmup_passes=1, timed_passes=2),
    # pandas-UDF/Arrow Python workers, NumPy kernels and text operators;
    # its passes are less than half as long, so it gets more of each
    "corpus_sf0.1": Workload(0.1, (
        "dedup_exact",
        "ann_ivf",
        "text_quality",
        "multimodal_features",
    ), warmup_passes=3, timed_passes=4),
}
