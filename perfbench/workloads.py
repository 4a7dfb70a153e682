"""The benchmark's workloads: which registry queries one pass calls, on
which data.  NOTES.md says why each workload and query is here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

#: The repository's sf0.01 test tables (60,000 lineitem rows, seed 42),
#: copied byte for byte.  The run's ``--seed`` sets the query order; the
#: data stay fixed so oracle hashes are computed once.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: query whose ``count()`` vs ``noop`` gap the traced run records
    gap_query: str
    #: wall time of one warm pass on a 4-core machine, garbage collection
    #: between calls included.  ``--seconds`` over this fixes how many warm
    #: passes a run makes, so every run of a workload makes the same number:
    #: the JVM keeps warming up for several passes, and a median over a
    #: varying number of passes would move with it.
    nominal_pass_s: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            (
                "q01_pricing_summary",
                "q05_local_supplier_volume",
                "q06_forecast_revenue",
                "resample_hourly_events",
                "asof_join_click_purchase",
            ),
            gap_query="q01_pricing_summary",
            nominal_pass_s=3.2,
        ),
        Workload(
            "curation",
            (
                "dedup_exact_clusters",
                "multimodal_decode_features",
                "kmeans_embedding_clusters",
                "text_quality_by_source",
                "stream_dedup_event_keys",
                "schema_evolution_roundtrip",
            ),
            gap_query="text_quality_by_source",
            nominal_pass_s=6.5,
        ),
    )
}
