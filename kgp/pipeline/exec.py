"""In-memory pipeline executor with branch-level job overlap.

`run_pipeline` (run.py) is the durable path: every stage commits a snapshot,
strictly sequential.  `build_graph` here is the hot path used by the bench
harnesses and ad-hoc queries: no snapshot writes, and the two independent
DAG branches —

    transcripts ─ S1 order ─ S2 extract ──┐
                                          ├─ S5 materialize
    vocab ─ S3 link ─ S4 CC ─ entity map ─┘

— are submitted concurrently from two driver threads (Spark job scheduling
is thread-safe; on a cluster this is the standard FAIR-scheduler pattern).
The linking/CC branch is latency-bound (iterative tiny jobs with
checkpoint barriers), the extraction branch is throughput-bound; run
serially they add, overlapped they hide the CC latency entirely.

The extraction branch is pinned with an eager localCheckpoint so both
branches make progress simultaneously and the final materialize join reads
the extracted rows from block storage instead of recomputing the lineage.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from .cc import SMALL_GRAPH_EDGES
from .extract import extract, raw_triples_view
from .link import link_entities
from .materialize import materialize
from .order import order_turns


def collect_surface_rows(vocab: DataFrame) -> list[tuple[str, int, str]]:
    return [
        (r["surface"], int(r["entity_id"]), r["entity_type"])
        for r in vocab.selectExpr(
            "entity_id", "entity_type",
            "explode(concat(array(canonical_name), aliases)) as surface").collect()
    ]


def build_graph(spark: SparkSession, transcripts: DataFrame, vocab: DataFrame,
                overlap: bool = True, cc_threshold: int | None = None) -> dict:
    """S1..S5 in memory; returns dict with ordered/extracted/entity_map/
    triples/nodes/edges DataFrames (edges/triples not yet materialized).

    The extraction output is checkpointed so the downstream consumers
    (triples, nodes, edges, mention views) share one extraction pass.
    ``overlap`` runs the linking branch on a second driver thread (see the
    module docstring).  ``cc_threshold`` overrides the connected-components
    small-graph short-circuit (pass 0 to force the distributed
    large-star/small-star loop — the scaling bench uses this to exercise
    the at-scale CC path).
    """
    def linking_branch() -> DataFrame:
        thr = SMALL_GRAPH_EDGES if cc_threshold is None else cc_threshold
        return link_entities(vocab, small_graph_threshold=thr)

    def extraction_branch() -> tuple[DataFrame, DataFrame]:
        ordered = order_turns(transcripts)
        return ordered, extract(ordered, collect_surface_rows(vocab)).localCheckpoint(eager=True)

    if overlap:
        with ThreadPoolExecutor(max_workers=1) as pool:
            f_emap = pool.submit(linking_branch)
            ordered, extracted = extraction_branch()
            emap = f_emap.result()
    else:
        ordered, extracted = extraction_branch()
        emap = linking_branch()

    raw = raw_triples_view(extracted)
    triples, nodes, edges = materialize(raw, ordered, emap, vocab)
    return dict(ordered=ordered, extracted=extracted, entity_map=emap,
                raw_triples=raw, triples=triples, nodes=nodes, edges=edges)
