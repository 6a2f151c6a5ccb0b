"""The benchmark's workloads: which queries run, on which inputs.

Each query key is one ``registry.QUERIES`` entry with a DuckDB oracle
that matches on the workload's inputs, so a run checks all its results.
A workload is kept small enough that one run (set-up, a cold pass, the
timed window and the oracle check) ends in about a minute.
"""

from __future__ import annotations

from dataclasses import dataclass

import datagen


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    copies: int = 1  # curation corpus copies (datagen.build_replica)

    def inputs(self, out_dir: str, seed: int) -> str:
        """This workload's data dir for ``seed``: the fixture tables, or a
        replica of them written under ``out_dir``."""
        if self.copies == 1:
            return datagen.FIXTURES
        return datagen.build_replica(datagen.FIXTURES, out_dir, seed, self.copies)


# Short star-schema queries: relational reads, where plan construction
# and per-job/per-task fixed cost decide the time, plus the reference's
# ETL write path (sources.parquet_io) and one stateful micro-batch
# stream (streaming.stream_ops) on the same tables.
SQL_STAR = Workload(
    name="sql_star",
    queries=(
        "q_b17_pricing_summary",  # aggregates
        "q_b164_tpch_q3",  # tpch
        "q_b165_tpch_q5",
        "q_b166_tpch_q10",
        "q_b3_partitioned_write",  # filters: the ETL write
        "q_b49_stream_dedup",  # stream_queries
    ),
)

# Tier C curation operators on a seeded 2x replica of documents +
# embeddings: the functions.* text and vector kernels (Python UDFs) and
# the shuffles around them keep the executors several times busier than
# in sql_star.
CURATION_X2 = Workload(
    name="curation_x2",
    queries=(
        "q_c8_minhash_bands",  # dedup
        "q_c17_knn_ivf",  # similarity
        "q_c12_fingerprint",  # text_analysis
    ),
    copies=2,
)

WORKLOADS = {w.name: w for w in (SQL_STAR, CURATION_X2)}


def families(registry) -> list[str]:
    """Operator families (``operators.<module>``) of every workload's
    queries: each workload reports per-layer time for all of them, 0 for
    the ones it does not run, so every run prints the same names."""
    return sorted({
        registry.QUERIES[k].__module__.rsplit(".", 1)[-1]
        for w in WORKLOADS.values()
        for k in w.queries
    })
