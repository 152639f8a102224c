"""The benchmark's workloads: which operations a pass runs, over which inputs.

Each workload stresses different layers of the program (see README.md):

* ``relational`` -- TPC-H joins and a window query over a lineitem large
  enough that every scan runs on all cores. Build jobs are 0; the engine
  does the work; no Python workers are involved.
* ``llm_ingest`` -- a checkpoint loop from ``operators.text`` (tens of tiny
  jobs inside ``fn()``, under 0.1 s of execution) and a
  ``sol_spark.streaming.pipelines`` query replaying deterministic micro-batch
  files into Python keyed state (Python workers, state store, WAL).
* ``stream_twins`` -- every stream pipeline the benchmark drives, including
  the MinHash ingest twin with its ``foreachBatch`` parquet sink; run by
  ``--smoke`` and by hand, not listed in BENCHMARK.json.

``smoke`` sizes run every code path and correctness check in a short run.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # TPC-H scale of the relational tables and ``events``
    docs: int
    vecs: int
    ops: tuple[str, ...]
    batches: int = 0  # micro-batch files of the events replay
    doc_batches: int = 0  # micro-batch files of the document ingest


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational", sf=0.1, docs=500, vecs=500,
            ops=("tpch_q3", "tpch_q9", "win_rank_topk_per_group"),
        ),
        Workload(
            "llm_ingest", sf=0.01, docs=500, vecs=500, batches=2,
            ops=("text_bpe_train", "running_user_totals"),
        ),
        # Not in BENCHMARK.json, to keep an evaluation under an hour: every
        # stream pipeline of the ingest path, each checked against batch mode.
        Workload(
            "stream_twins", sf=0.01, docs=500, vecs=500, batches=3, doc_batches=2,
            ops=("tumbling_counts", "purchases_with_recent_view", "running_user_totals",
                 "minhash_ingest"),
        ),
        # Not timed by BENCHMARK.json: the two queries whose results depend
        # on float summation order, at 8x the relational scale, where the
        # strict compare is expected to show the differing cells.
        Workload(
            "relational_known_defects", sf=0.8, docs=500, vecs=500,
            ops=("tpch_q1", "tpcds_q67"),
        ),
    )
}
SMOKE = {
    name: Workload(**{**w.__dict__, "sf": 0.001, "docs": 200, "vecs": 200})
    for name, w in WORKLOADS.items()
}
