"""Fixture-query plan registry.

``QUERIES`` maps fixture-query name → callable(spark, sf_dir) → DataFrame
(the Spark plan); ``ORACLE`` maps the same name → ANSI SQL that DuckDB
runs over identically named views of the same parquet (the driver's
correctness gate). Names without an ORACLE entry get the weaker
rows-only check (nondeterministic outputs: uuid, LSH internals).

The external correctness check hashes the FIRST 50 entries of
``QUERIES`` per round and commits the result as
``CORRECTNESS_r<N>.json`` at the repo root. The registry order is
derived from those files (:func:`derived_order`), so the window
rotates without hand upkeep.
"""

import json
import re
from pathlib import Path

from nextbus2pg_spark.plans.registry import ORACLE, QUERIES, ROWS_ONLY, fixture

# Importing the modules populates the registry.
from nextbus2pg_spark.plans import fixtures as _fixtures  # noqa: F401,E402
from nextbus2pg_spark.plans import northstar as _northstar  # noqa: F401,E402
from nextbus2pg_spark.plans import extended as _extended  # noqa: F401,E402
from nextbus2pg_spark.plans import relational as _relational  # noqa: F401,E402
from nextbus2pg_spark.plans import tpch_full as _tpch_full  # noqa: F401,E402
from nextbus2pg_spark.plans import curation as _curation  # noqa: F401,E402
from nextbus2pg_spark.plans import textstats as _textstats  # noqa: F401,E402
from nextbus2pg_spark.plans import spatial as _spatial  # noqa: F401,E402
from nextbus2pg_spark.plans import graph as _graph  # noqa: F401,E402
from nextbus2pg_spark.plans import timeseries as _timeseries  # noqa: F401,E402

#: Queries whose operator changed since their last green CORRECTNESS row.
#: Add a query here in the change that touches its operator; drop it
#: once a newer CORRECTNESS file shows it green.
TOUCHED = (
    "q_pq_assign", "q_pq_topk", "q_ivfpq_seeded", "q_ivfpq_topk",
    "q_semantic_dedup", "q_hits", "q_ivf_topk",
    "q_pagerank", "q_pagerank_personalized", "q_label_propagation",
    "q_bfs_hops", "q_kcore", "q_modularity", "q_triangle_count",
    "q_assortativity", "q_link_prediction",
    "q_dedup_clusters", "q_corpus_dedup", "q_dedup_keep_best",
    "q_embedding_clusters", "q_crawl_to_corpus", "q_corpus_assembly",
    "q_curation_pipeline",
    "q_bpe_merges", "q_bpe_token_count", "q_tokenizer_fertility",
    "q_quality_classifier", "q_hll_estimate", "q_lm_logprob",
    "q_dsir_sample", "q_pca_project", "q_chi_squared",
)

_REPO_ROOT = Path(__file__).resolve().parents[2]


def last_green_rounds(root) -> "dict[str, int]":
    """Query name → the last round N whose ``CORRECTNESS_r<N>.json``
    under ``root`` has a green row for it (``rows_match`` and
    ``hash_match`` both true; failed or errored rows do not count)."""
    last: "dict[str, int]" = {}
    for path in Path(root).glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        for name, row in (json.loads(path.read_text()) if m else {}).items():
            if row.get("rows_match") and row.get("hash_match"):
                last[name] = max(int(m.group(1)), last.get(name, 0))
    return last


def derived_order(names, oracle, root, touched=TOUCHED) -> "list[str]":
    """Order ``names`` for the first-50 correctness window: oracle-backed
    queries with no green row (registration order), then ``touched``,
    then everyone else stalest green row first, ties by name, rows-only
    queries last (the check can only record ``no_oracle`` for them).
    Without CORRECTNESS files under ``root`` (an installed package) the
    oracle-backed queries keep registration order."""
    last = last_green_rounds(root)
    lead = [n for n in names if n in oracle and n not in last]
    lead += [n for n in touched if n in names and n not in lead]
    rest = sorted(
        (n for n in names if n not in lead),
        key=lambda n: (n not in oracle, last.get(n, 0), n),
    )
    return lead + rest


for _n in derived_order(list(QUERIES), ORACLE, _REPO_ROOT):
    QUERIES[_n] = QUERIES.pop(_n)

__all__ = [
    "QUERIES", "ORACLE", "ROWS_ONLY", "fixture",
    "TOUCHED", "derived_order", "last_green_rounds",
]
