"""The benchmark's workloads: which engine calls one pass makes.

Every workload reads the sf0.1 tables vendored in ``data/sf0.1`` (byte
copies of the repo's sf0.1 test tables), and every query result has a
DuckDB-oracle golden hash in ``golden.json``. See README.md for why each
workload was chosen and what it measured when it was sized.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.1")

# Connected-components and label-propagation rounds, eager lineage
# barriers and persist: the mechanism iterative-operator changes target.
# corpus_curation_full is left out: with it one warm-up plus one timed
# pass took ~66 s on a 4-core host, over the per-run budget (README.md).
ITERATIVE_DEDUP = [
    "near_dup_cluster_size_histogram",
    "lpa_purchasing_communities",
]

# pinterest_daily's five reference queries: plans.pinterest_queries
# builder → the registered query whose oracle verifies its result.
PINTEREST_QUERIES = {
    "q1": "pinterest_q1_top_category_per_country",
    "q2": "pinterest_q2_top_category_per_year",
    "q3a": "pinterest_q3_top_user_per_country",
    "q4": "pinterest_q4_top_category_per_age_group",
    "q5": "pinterest_q5_users_joined_per_year",
}

PINTEREST_TABLES = ("pin", "geo", "user")

WORKLOADS = {
    "pinterest_daily": list(PINTEREST_QUERIES),
    "iterative_dedup": ITERATIVE_DEDUP,
}


def golden_name(workload: str, query: str) -> str:
    """The registered query whose DuckDB oracle verifies ``query``."""
    if workload == "pinterest_daily":
        return PINTEREST_QUERIES[query]
    return query


def pinterest_builder(query: str):
    """``(tables) -> DataFrame`` for one of pinterest_daily's queries,
    over the curated pin/geo/user tables read back from disk."""
    from pinterest_data_pipeline_spark.plans import pinterest_queries as pq

    return {
        "q1": lambda t: pq.q1_top_category_per_country(t["pin"], t["geo"]),
        "q2": lambda t: pq.q2_top_category_per_year(t["pin"], t["geo"]),
        "q3a": lambda t: pq.q3a_top_user_per_country(
            t["pin"], t["geo"], t["user"]
        ),
        "q4": lambda t: pq.q4_top_category_per_age_group(t["pin"], t["user"]),
        "q5": lambda t: pq.q5_users_joined_per_year(t["user"]),
    }[query]
