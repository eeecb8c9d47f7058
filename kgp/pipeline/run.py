"""Pipeline runner: stage orchestration + snapshot-based idempotent resume.

Each stage writes a committed TableIO snapshot whose manifest records the
input fingerprint (upstream snapshot ids chained).  A rerun reads any stage
whose snapshot is committed against the same input — the reference's
skip-existing resume (extract_paragraphs_faster.py:20-26 etc.) promoted to
atomic snapshot semantics.  ``fail_after`` injects a crash for the
kill-and-rerun test (FIXTURES.md §5 resume row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import TableIO
from .exec import collect_surface_rows
from .extract import extract, mentions_view, raw_triples_view
from .link import link_entities
from .materialize import materialize, unmatched_surfaces
from .order import order_turns, validation_errors


class InjectedFailure(RuntimeError):
    pass


def run_pipeline(spark: SparkSession, transcripts: DataFrame, vocab: DataFrame,
                 out_root: str, input_fingerprint: str, *,
                 fail_after: str | None = None, force: bool = False) -> dict:
    """Run (or resume) S1..S5; returns {'io': TableIO, 'recomputed': [...],
    '<table>': DataFrame for each committed table}."""
    io = TableIO(out_root)
    recomputed: list[str] = []

    def stage(name: str, fingerprint: str, compute) -> tuple[DataFrame, str]:
        if not force and io.is_committed(name, fingerprint):
            return io.read(spark, name), io.manifest(name)["snapshot_id"]
        manifest = io.write(compute(), name, input_fingerprint=fingerprint)
        recomputed.append(name)
        if fail_after == name:
            raise InjectedFailure(f"injected failure after committing stage {name!r}")
        return io.read(spark, name), manifest["snapshot_id"]

    ordered, snap1 = stage("ordered", input_fingerprint, lambda: order_turns(transcripts))
    # surface rows are collected inside the stage's compute: only extract
    # consumes them, and a fully-committed resume must not pay a
    # vocabulary-sized driver collect for data it never uses
    extracted, snap2 = stage(
        "extracted", f"{input_fingerprint}/{snap1}",
        lambda: extract(ordered, collect_surface_rows(vocab)),
    )
    emap, snap3 = stage("entity_map", input_fingerprint, lambda: link_entities(vocab))

    raw_triples = raw_triples_view(extracted)
    fp_mat = f"{input_fingerprint}/{snap2}/{snap3}"
    mat_out: list[tuple[DataFrame, DataFrame, DataFrame] | None] = [None]

    def _mat(idx: int):
        # materialize() is derived ONCE and shared by whichever of
        # triples/nodes/edges turn out to be uncommitted — a partial resume
        # (e.g. killed after 'triples') must not rebuild the corpus-scale
        # resolve joins independently per output table
        def compute() -> DataFrame:
            if mat_out[0] is None:
                mat_out[0] = materialize(raw_triples, ordered, emap, vocab)
            return mat_out[0][idx]
        return compute

    triples, _ = stage("triples", fp_mat, _mat(0))
    nodes, _ = stage("nodes", fp_mat, _mat(1))
    edges, _ = stage("edges", fp_mat, _mat(2))

    # D4 failure ledger: validation rejects + unmatched surfaces, written
    # as a committed table like any other stage output (reference
    # get_files.py:86-102 bad_files → errors table)
    errors, _ = stage(
        "errors", fp_mat,
        lambda: validation_errors(transcripts).union(unmatched_surfaces(raw_triples, emap)),
    )

    return dict(
        io=io, recomputed=recomputed,
        ordered=ordered, extracted=extracted,
        mentions=mentions_view(extracted), raw_triples=raw_triples,
        entity_map=emap, triples=triples, nodes=nodes, edges=edges,
        errors=errors, metrics=io.metrics_df(spark),
    )
