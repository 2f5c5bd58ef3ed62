"""Workload definitions: which registry queries each pass runs, over
which tables, into which sink.

Every workload reads the sf0.01 fixture tables committed under
``perfbench/data`` (a byte copy of the seed-42 fixtures the oracle gate
checks), so a run needs nothing outside the checkout. Why each workload
exists is recorded in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # Tables loaded during set-up; every query reads only these, so no
    # table is first resolved inside a timed build.
    tables: tuple[str, ...]
    # "noop" materializes through Spark's noop sink; "files" writes with
    # sources.writers and reads the export back with sources.readers.
    sink: str = "noop"
    # Queries (files sink only) exported as JSON instead of parquet.
    json_queries: tuple[str, ...] = ()
    # Above 1, the tables are tiled this many times (perfbench/tiles.py).
    copies: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        # The paper's daily content pipeline: keyword extraction and the
        # Markov session twin (both carry the `arrow` trait), tagging,
        # near-dup fingerprints, language id, and BPE merge induction, a
        # fixed-point loop whose cacheutil checkpoints launch Spark jobs
        # at build time under AQE.
        Workload(
            name="content_batch",
            queries=(
                "rake_topk",
                "stream_markov_batch_twin",
                "article_tagging_pipeline",
                "simhash_fingerprints",
                "doc_lang_id",
                "bpe_merge_induction",
            ),
            tables=("documents", "events"),
        ),
        # Exec-bound SQL/window/events queries with no Python workers and
        # no build-time jobs; the only workload on the write path.
        Workload(
            name="relational_export",
            queries=(
                "q3_shipping_priority",
                "q13_customer_distribution",
                "window_running_total",
                "events_tumbling_hourly",
            ),
            tables=("customer", "orders", "lineitem", "events"),
            sink="files",
            json_queries=("q13_customer_distribution",),
            copies=10,
        ),
    )
}
