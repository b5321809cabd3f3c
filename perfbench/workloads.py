"""The benchmark's workloads.  README.md records why each was chosen."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: scale factor of the generated tables (6M lineitem rows per unit)
    sf: float
    #: catalog queries whose result is collected and checked
    queries: tuple[str, ...]
    #: catalog queries whose result is loaded twice through
    #: ``sources.sinks.append_if_absent`` into an empty directory
    loads: tuple[str, ...] = ()

    def ops(self) -> tuple[tuple[str, str], ...]:
        """One pass: (kind, query) pairs, kind ``collect`` or ``load``."""
        return tuple(("collect", q) for q in self.queries) + tuple(
            ("load", q) for q in self.loads
        )


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "catalog",
            0.001,
            (
                "s1_discover", "b1_bucketed_join", "g2_full_graph_parity",
                "v1_brute_force_top_k", "v7_kmeans_clusters", "st2_session_windows",
                "f9_html_extract",
            ),
        ),
        Workload(
            "heavy",
            0.005,
            ("dd4_ngram_jaccard", "gr1_pagerank", "mm8_jpeg_roundtrip"),
            loads=("f6_edge_builder",),
        ),
    )
}
