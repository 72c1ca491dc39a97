"""The benchmark's workloads: which catalog pipelines each pass runs, and why.

Every pipeline is an entry of the program's query catalog
(``ssis_to_pyspark_agent_spark.queries.QUERIES``) with a DuckDB oracle in
``ORACLES``. A pass runs each pipeline of its workload once, in an order
shuffled by the seed. perfbench/README.md gives the layers each workload
loads and bypasses, and the pipelines left out to fit the run budget.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    pipelines: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_read",
            (
                "q01_agg_pricing_summary",
                "q03_lookup_chain",
                "q05_merge_join_full",
                "q08_join_theta_range",
                "q15_topk_per_group",
                "q22_data_conversion_script",
                "q42_sessionization",
                "q45_fuzzy_lookup",
                "q57_bigjoin_revenue",
            ),
            "SSIS read-side components with small results, so per-job, "
            "per-stage and shuffle cost dominate; no sinks, streaming or "
            "curation kernels",
        ),
        Workload(
            "etl_load",
            (
                "q09_conditional_split_route",
                "q46_merge_sorted",
                "q78_stream_stream_join",
            ),
            "rows leave through file and jdbc sinks and streaming state, "
            "then are re-read; shows write and commit cost that etl_read "
            "does not reach",
        ),
        Workload(
            "llm_curation",
            (
                "q31_dedup_ngram_cluster",
                "q37_ann_topk",
            ),
            "north-star dedup and vector-similarity kernels: eager operator "
            "work and Arrow/pandas batches the etl workloads never reach",
        ),
    )
}
