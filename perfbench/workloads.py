"""The benchmark's workloads: which registry keys or streaming drains
one pass runs, and why each workload exists.

Every batch key here has a DuckDB oracle in ``queries.oracle_sql()``.
Each list is a fixed subset of the family it stands for. A fresh
driver process pays about 11 s of set-up and 10-16 s of cold pass
before the first steady op, so one run takes about a minute, and a
regression check repeats every listed workload some twenty times
within one hour. That fits two workloads: BENCHMARK.json lists
``pipeline`` and ``stream``, which between them reach every layer. ``corpus`` and ``multipass`` run the
same way by hand (``--workload corpus``) when a change targets the
Arrow boundary or the eager builders.

``rf_holdout_metrics`` is never listed: it reads a driver-side model
memo that ``spark.catalog.clearCache()`` cannot evict, so a repeat
would time a memo hit.
"""

from __future__ import annotations

#: The reference R chain re-expressed as Spark operators: Catalyst,
#: codegen, joins, aggregations and windows, driver-side fixed cost per
#: query. ``ols_normal_eq`` is its fused XᵀX aggregate with a driver
#: solve and ``stepwise_aic_selection`` its builder-heavy model search.
#: ``wilcoxon_signed_rank`` (a MULTIPASS key) stands in for the rank
#: tests, so the eager ``stats.pin`` builders are measured in a workload
#: BENCHMARK.json lists. Six ops keep a warm pass near 4 s, so a run
#: holds 4-5 steady passes and the per-op medians sit past the steepest
#: part of the JIT warm-up.
PIPELINE = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "topk_orders_per_customer",
    "ols_normal_eq",
    "stepwise_aic_selection",
    "wilcoxon_signed_rank",
]

#: LLM-data operators: the pandas-UDF/Arrow boundary in
#: operators/{similarity,dedup,text,multimodal}, plus signature shuffles.
CORPUS = [
    "dedup_minhash",
    "dedup_embedding",
    "ann_ivf",
    "text_quality",
    "multimodal_features",
]

#: Builders that launch eager Spark jobs before the action: the
#: ``stats.pin`` rank and survival family, the GK bracket quantiles,
#: and the connected-components and PageRank iterations.
MULTIPASS = [
    "wilcoxon_signed_rank",
    "kaplan_meier_retention",
    "winsorized_approx_price_stats",
    "dedup_clusters",
    "pagerank_suppliers",
]

#: Streaming drains over the events table split into time-ordered
#: part-files; each drain reads 4 files per trigger.
STREAM = [
    "windowed_counts",
    "foreach_batch_sink",
    "sessionize",
]

BATCH = {"pipeline": PIPELINE, "corpus": CORPUS, "multipass": MULTIPASS}
WORKLOADS = (*BATCH, "stream")
