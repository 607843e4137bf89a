"""The benchmark's workloads: which registered queries each one runs.
README.md says why each exists.

Every workload runs over the committed sf0.1 fixtures (seed 42; see
``fixtures/``). The run seed only permutes the order of the queries
within each pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: queries that run before the others in every pass, as a pipeline
    #: runs the stage that derives a shared table before its consumers;
    #: the seed permutes the rest
    first: tuple[str, ...] = ()

    def order(self, rng) -> list[str]:
        rest = [q for q in self.queries if q not in self.first]
        return [*self.first, *rng.sample(rest, len(rest))]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "mr_tpch_fixed_cost",
            (
                "wc",
                "mr_wc",
                "streaming_word_counts",
                "crash_data",
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q6_forecast_revenue",
                "hourly_event_counts",
            ),
        ),
        Workload(
            "llm_dedup_pipeline",
            (
                "ngram_jaccard_pairs",
                "near_dup_survivors",
                "near_dup_components",
                "embedding_cosine_pairs",
            ),
            first=("ngram_jaccard_pairs",),
        ),
        Workload(
            "stream_state_drain",
            (
                "streaming_hourly_counts",
                "streaming_sessionize",
                "streaming_stream_join",
                "streaming_dedup_events",
                "state_store_audit",
            ),
        ),
    )
}
