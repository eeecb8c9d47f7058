"""The benchmark's workloads: one timed rep and one traced, staged rep each.

A timed rep is what a user of the in-memory hot path runs: read the input
parquet, ``build_graph`` with branch overlap on, force the edges (and on
``link_heavy`` the entity map) with one digest action.  The staged rep
calls every layer's public function in sequence, forcing each output
before the next call, inside a span of that layer; on ``batch_build`` it
also writes the stage outputs through ``TableIO``, crashes and resumes
``run_pipeline``, and drains the same corpus as a file stream.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from kgp import schemas
from kgp.io import TableIO
from kgp.pipeline import (connected_components, entity_map_from_edges, extract,
                          link_candidate_edges, materialize, order_turns, run_pipeline)
from kgp.pipeline.cc import SMALL_GRAPH_EDGES
from kgp.pipeline.exec import build_graph, collect_surface_rows
from kgp.pipeline.extract import raw_triples_view
from kgp.pipeline.run import InjectedFailure
from kgp.streaming import read_transcript_stream, run_to_table, streaming_triples

from gate import EDGE_COLS, ENTITY_MAP_COLS, RAW_TRIPLE_COLS, Digest, digest
from inputs import Inputs, Sizes
from tracing import Tracer

STAGE_TABLES = ("ordered", "extracted", "entity_map", "triples", "nodes", "edges")
RESUMED_TABLES = ("triples", "nodes", "edges", "errors")
STREAM_FILES_PER_TRIGGER = 2


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sizes: Sizes
    tiny: Sizes                  # self-test size
    cc_threshold: int | None     # build_graph's public CC short-circuit override
    check_entity_map: bool       # gate the entity map as well as the edges
    storage_passes: bool         # traced rep also drives TableIO, resume and stream
    # Timed reps per run, whatever --seconds says: the first rep after the
    # warm-up still runs 10-25% slow by an amount that varies from run to
    # run, and a second rep halves its weight in the median.  link_heavy's
    # reps are longer, and a second one did not pay for its run time.
    min_reps: int


WORKLOADS = {
    w.name: w for w in (
        Workload(
            "batch_build",
            "1200-conversation corpus, 200-entity vocab: S1 order, S2 extract and S5 "
            "materialize dominate (the nightly in-memory hot path); S3/S4 changes "
            "should not move it",
            Sizes(convs=1200, entities=200, stream_files=8),
            Sizes(convs=60, entities=40, stream_files=4),
            cc_threshold=None, check_entity_map=False, storage_passes=True, min_reps=2),
        Workload(
            "link_heavy",
            "100 conversations, 300 alias-chained entities, distributed CC forced "
            "(cc_threshold=0): S3 link and S4 cc dominate; S2 changes should not move it",
            Sizes(convs=100, entities=300, alias_chains=True),
            Sizes(convs=20, entities=40, alias_chains=True),
            cc_threshold=0, check_entity_map=True, storage_passes=False, min_reps=1),
    )
}


@dataclass
class Context:
    spark: SparkSession
    inputs: Inputs
    work_dir: str
    out_partitions: int          # materialize repartitions edges to defaultParallelism

    def read_inputs(self):
        # input is read from parquet inside every rep, as kgp.job does
        return (self.spark.read.schema(schemas.TRANSCRIPTS).parquet(self.inputs.transcripts_path),
                self.spark.read.schema(schemas.ENTITY_VOCAB).parquet(self.inputs.vocab_path))

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def timed_rep(ctx: Context, wl: Workload) -> tuple[float, dict[str, Digest]]:
    """One closed-loop rep: input parquet -> complete, digested result."""
    t0 = time.perf_counter()
    transcripts, vocab = ctx.read_inputs()
    g = build_graph(ctx.spark, transcripts, vocab, cc_threshold=wl.cc_threshold)
    got = {"edges": digest(g["edges"], EDGE_COLS, ctx.out_partitions)}
    if wl.check_entity_map:
        got["entity_map"] = digest(g["entity_map"], ENTITY_MAP_COLS)
    return time.perf_counter() - t0, got


def _pin(df):
    return df.localCheckpoint(eager=True)


def staged_rep(ctx: Context, wl: Workload, tracer: Tracer) -> tuple[dict, dict[str, Digest]]:
    """Every layer called on its own, output forced, inside a span.

    Returns (counts, digests); the counts are taken between spans, so the
    work of counting is the rep span's self time, not a layer's.
    """
    c: dict = {}
    got: dict[str, Digest] = {}
    with tracer.span("staged_rep", "rep", rep_id="traced"):
        transcripts, vocab = ctx.read_inputs()
        c["order.rows_in"] = transcripts.count()
        with tracer.span("order_turns", "order"):
            ordered = _pin(order_turns(transcripts))
        c["order.rows_out"] = ordered.count()

        with tracer.span("extract", "extract"):
            surface_rows = collect_surface_rows(vocab)
            extracted = _pin(extract(ordered, surface_rows))
        ex = extracted.agg(F.count("*"), F.sum(F.size("mentions")), F.sum(F.size("triples"))).first()
        c["extract.turns"], c["extract.mentions"], c["extract.raw_triples"] = (int(v or 0) for v in ex)

        with tracer.span("link_candidate_edges", "link"):
            cand = _pin(link_candidate_edges(vocab))
        c["link.surfaces"] = len(surface_rows)
        c["link.edges"] = c["cc.edges_in"] = cand.count()

        thr = SMALL_GRAPH_EDGES if wl.cc_threshold is None else wl.cc_threshold
        with tracer.span("connected_components", "cc"):
            assign = _pin(connected_components(cand, small_graph_threshold=thr))
        cc = assign.agg(F.count("*"), F.countDistinct("canonical_id")).first()
        c["cc.nodes"], c["cc.components"] = int(cc[0]), int(cc[1])

        with tracer.span("entity_map_from_edges", "link"):
            emap = _pin(entity_map_from_edges(vocab, assign))

        with tracer.span("materialize", "materialize"):
            triples, nodes, edges = (_pin(df) for df in materialize(
                raw_triples_view(extracted), ordered, emap, vocab))
        got["edges"] = digest(edges, EDGE_COLS, ctx.out_partitions)
        got["entity_map"] = digest(emap, ENTITY_MAP_COLS)
        c["materialize.triples"] = triples.count()
        c["materialize.edges"] = got["edges"].rows
        c["materialize.partition_skew"] = got["edges"].partition_skew()

        if wl.storage_passes:
            stage_out = dict(zip(STAGE_TABLES, (ordered, extracted, emap, triples, nodes, edges)))
            io_counts, snapshots = _io_pass(ctx, tracer, stage_out)
            c.update(io_counts)
            c.update(_resume_pass(ctx, tracer, transcripts, vocab, snapshots))
            got["stream_triples"], stream_counts = _stream_pass(ctx, tracer, surface_rows)
            c.update(stream_counts)
    return c, got


def _io_pass(ctx: Context, tracer: Tracer, stage_out: dict) -> tuple[dict, dict[str, str]]:
    """Write every stage output through TableIO and read it back in full;
    returns the counts and each table's committed snapshot id."""
    wh = ctx.fresh_dir("staged_warehouse")
    io = TableIO(wh)
    snaps = {}
    for name, df in stage_out.items():
        with tracer.span(f"TableIO.write:{name}", "io"):
            snaps[name] = io.write(df, name, input_fingerprint=name)["snapshot_id"]
        with tracer.span(f"TableIO.read:{name}", "io"):
            io.read(ctx.spark, name).write.format("noop").mode("overwrite").save()
    written = sum(os.path.getsize(os.path.join(d, f))
                  for d, _, files in os.walk(wh) for f in files)
    return {"io.bytes_written": written,
            "io.write_amp": written / ctx.inputs.input_bytes,
            "io.tables_committed": sum(io.is_committed(n) for n in stage_out)}, snaps


def _resume_pass(ctx: Context, tracer: Tracer, transcripts, vocab,
                 staged_snapshots: dict[str, str]) -> dict:
    """run_pipeline killed after entity_map (public fail_after), then rerun;
    the resumed tables must carry the staged rep's snapshot ids."""
    wh = ctx.fresh_dir("resume_warehouse")
    with tracer.span("run_pipeline:crash", "run"):
        try:
            run_pipeline(ctx.spark, transcripts, vocab, wh, "kgbench", fail_after="entity_map")
        except InjectedFailure:
            pass
        else:
            raise RuntimeError("run_pipeline(fail_after='entity_map') did not fail")
    with tracer.span("run_pipeline:resume", "run") as sp:
        res = run_pipeline(ctx.spark, transcripts, vocab, wh, "kgbench")
    io = TableIO(wh)
    resumed = {n: io.manifest(n)["snapshot_id"] for n in STAGE_TABLES}
    if resumed != staged_snapshots or sorted(res["recomputed"]) != sorted(RESUMED_TABLES):
        raise RuntimeError(f"resume mismatch: recomputed={res['recomputed']}, "
                           f"snapshots {resumed} != staged {staged_snapshots}")
    return {"run.recomputed_stages": len(res["recomputed"]), "run.resume_s": sp.duration}


def _stream_pass(ctx: Context, tracer: Tracer, surface_rows) -> tuple[Digest, dict]:
    """Drain the transcript drops with streaming_triples -> run_to_table
    (availableNow, fixed maxFilesPerTrigger); digest what was committed."""
    wh = ctx.fresh_dir("stream_warehouse")
    with tracer.span("streaming_triples+run_to_table", "stream"):
        stream = read_transcript_stream(ctx.spark, ctx.inputs.drops_path,
                                        max_files_per_trigger=STREAM_FILES_PER_TRIGGER)
        q = run_to_table(streaming_triples(stream, surface_rows), wh, "triples_stream",
                         os.path.join(wh, "_checkpoint"))
        q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    io = TableIO(wh)
    batches = sorted(n for n in os.listdir(wh) if n.startswith("triples_stream_batch"))
    with tracer.span("TableIO.read:triples_stream", "io"):
        landed = reduce(DataFrame.unionByName, (io.read(ctx.spark, n) for n in batches))
        got = digest(landed, RAW_TRIPLE_COLS)

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in progress)

    trigger = [p["durationMs"]["triggerExecution"] for p in progress]
    return got, {
        "stream.batches": len(progress),
        "stream.rows": sum(p["numInputRows"] for p in progress),
        "stream.microbatch_ms": statistics.median(trigger),
        "stream.microbatch_ms_p75": statistics.quantiles(trigger, n=4)[2] if len(trigger) > 1 else trigger[0],
        "stream.add_batch_ms": med("addBatch"),
        "stream.planning_ms": med("queryPlanning"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.latest_offset_ms": med("latestOffset"),
    }
