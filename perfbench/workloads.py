"""Workload definitions and the seeded request plans.

Pure Python (no Spark import): the query lists, the service job mix,
and the functions that turn a workload seed into the exact sequence of
operations a run issues. The program only ever sees the generated
operations, never the seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# Scans, joins and shuffles; driver-side build, the artifact store and
# cached blocks do almost nothing here.
RELATIONAL = [
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_region_revenue",
    "q8_market_share",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "top_order_per_customer",
    "orders_quarter_range_join",
]

# Driver-side build with eager Spark jobs and localCheckpoint gates
# (curation_funnel: quality, classifier, Bloom decontamination and
# dedup tiers), persisted intermediates (tfidf), and store-served
# trained artifacts (IVF centroids, the logistic classifier).
CURATION = [
    "curation_funnel",
    "tfidf_top_terms",
    "ann_ivf",
    "quality_classifier_scores",
]

QUERY_WORKLOADS = {"relational": RELATIONAL, "curation": CURATION}

# Service job kinds: (kind, REST path). In each round of the service
# workload every client submits every kind once, in seeded order.
SERVICE_KINDS = [
    ("extract_documents", "/api/extract/documents"),
    ("extract_pdf", "/api/extract/pdf"),
    ("analyze_corpus", "/api/analyze/corpus"),
    ("query_q3", "/api/query/q3_top_unshipped_orders"),
    ("query_tfidf", "/api/query/tfidf_top_terms"),
]
SERVICE_CLIENTS = 2
EXTRACT_DOCS = 500
PDF_DOCS = 200
QUERY_LIMIT = 20

WORKLOADS = ["relational", "curation", "service_etl"]


def query_order(names: list[str], seed: int, pass_idx: int) -> list[str]:
    """The query order of one pass: a seeded shuffle per pass."""
    order = list(names)
    random.Random(f"{seed}:{pass_idx}").shuffle(order)
    return order


@dataclass
class JobRequest:
    kind: str
    path: str
    body: dict = field(default_factory=dict)


def service_round(seed: int, round_idx: int, data_dir: str) -> list[list[JobRequest]]:
    """One round of the service workload, one request list per client.

    Every client submits every kind once per round, in its own seeded
    order, so the clients carry the same work and finish a round close
    together; the seed sets only the orders (and so which jobs overlap)
    and each extract request's sampling seed. Each client's request
    sequence is a function of the seed alone. Every job writes to its
    own output subdirectory, because the sinks skip files that already
    exist.
    """
    rng = random.Random(f"{seed}:service:{round_idx}")
    plans = []
    for c in range(SERVICE_CLIENTS):
        kinds = list(SERVICE_KINDS)
        rng.shuffle(kinds)
        reqs = []
        for i, (kind, path) in enumerate(kinds):
            body: dict = {"sf_dir": data_dir}
            subdir = f"r{round_idx}-c{c}-{i}-{kind}"
            if kind == "extract_documents":
                body.update(
                    num_docs=EXTRACT_DOCS, seed=rng.randrange(1, 1 << 20), subdir=subdir
                )
            elif kind == "extract_pdf":
                body.update(limit=PDF_DOCS, subdir=subdir)
            elif kind.startswith("query_"):
                body.update(limit=QUERY_LIMIT)
            reqs.append(JobRequest(kind, path, body))
        plans.append(reqs)
    return plans
