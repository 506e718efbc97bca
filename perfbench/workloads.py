"""Workload definitions: which registered queries each workload runs, on
which data set, and why. The query lists are the workloads' definitions;
README.md records the measurements behind each choice."""

from __future__ import annotations

import random
from dataclasses import dataclass

#: committed base tables (the sf0.001 synthetic star schema + events,
#: documents and embeddings); the directory name doubles as the artifact
#: tag the engine keys its ``.scratch/<artifact>_<tag>`` dirs by
BASE = "pb_sf0.001"
#: BASE replicated 26x by ``scripts/make_sf1.py`` (salted replicas, keys
#: shifted per replica); generated once per checkout, outside set-up
SCALED = "pb_x26"
SCALED_COPIES = 26


@dataclass(frozen=True)
class Workload:
    name: str
    #: (query, data set) in definition order; the seed shuffles each pass
    queries: tuple[tuple[str, str], ...]
    why: str

    @property
    def datasets(self) -> list[str]:
        return sorted({d for _, d in self.queries})


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "iterative_build",
            (
                ("graph_pagerank_topk", BASE),
                ("vec_knn_index_kmeans_build", BASE),
            ),
            "driver-iterative builds (PageRank fixed point; k-means training "
            "and IVF artifact publish): construction dominates",
        ),
        Workload(
            "scan_text_serve",
            (
                ("pricing_summary", SCALED),
                ("join_lookup", SCALED),
                ("pipeline_council_e2e", BASE),
                ("dedup_exact", BASE),
                ("vec_knn_index_serve", BASE),
            ),
            "scan/join on 26 copies of sf0.001, the council text DAG, exact "
            "dedup and kNN served from a published ANN artifact: about half action",
        ),
    )
}


def pass_orders(queries: tuple, seed: int, n_passes: int) -> list[list]:
    """The query order of each timed pass, drawn from ``seed`` alone. (The
    warm-up pass runs in definition order, so the JIT state the timed passes
    start from does not depend on the seed.)"""
    rng = random.Random(f"perfbench:{seed}")
    orders = []
    for _ in range(n_passes):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders
