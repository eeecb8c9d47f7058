"""Seeded synthetic inputs and the pandas oracle's reference tables.

Inputs are generated with ``kgp.synth`` from the workload seed and written
to parquet under the run's work directory; the pipeline only ever sees
those files.  The oracle (``kgp.oracle``) runs once per invocation, before
Spark starts and outside every timing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kgp import oracle, synth


@dataclass(frozen=True)
class Sizes:
    convs: int
    entities: int
    alias_chains: bool = False  # deepen the vocabulary with synth.extend_alias_chains
    stream_files: int = 0       # transcript drops written for the traced stream pass


@dataclass
class Inputs:
    transcripts_path: str
    vocab_path: str
    drops_path: str
    transcripts: pd.DataFrame
    vocab: pd.DataFrame
    turns: int
    entities: int
    input_bytes: int


def _write(df: pd.DataFrame, path: str) -> int:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")
    return os.path.getsize(path)


def make_inputs(sizes: Sizes, seed: int, work_dir: str) -> Inputs:
    vocab = synth.gen_entity_vocab(sizes.entities, seed)
    if sizes.alias_chains:
        vocab = synth.extend_alias_chains(vocab, seed)
    transcripts = synth.gen_transcripts_pandas(sizes.convs, vocab, seed)

    # tz-aware UTC on disk: Spark reads it as TimestampType with the same
    # wall time the oracle sees as a naive timestamp (sessions pin UTC)
    on_disk = transcripts.assign(ts=transcripts["ts"].dt.tz_localize("UTC"))
    t_dir, v_dir, d_dir = (os.path.join(work_dir, n) for n in ("transcripts", "vocab", "drops"))
    for d in (t_dir, v_dir, d_dir):
        os.makedirs(d, exist_ok=True)
    nbytes = _write(on_disk, os.path.join(t_dir, "part-0.parquet"))
    nbytes += _write(vocab, os.path.join(v_dir, "part-0.parquet"))
    for i in range(sizes.stream_files):
        _write(on_disk.iloc[i::sizes.stream_files], os.path.join(d_dir, f"drop-{i:04d}.parquet"))
    return Inputs(t_dir, v_dir, d_dir, transcripts, vocab,
                  turns=len(transcripts), entities=len(vocab), input_bytes=nbytes)


def oracle_tables(inputs: Inputs) -> dict[str, pd.DataFrame]:
    """The oracle's ``edges`` and ``entity_map`` for the batch pipeline."""
    ref = oracle.run_pipeline(inputs.transcripts, inputs.vocab)
    return {"edges": ref["edges"], "entity_map": ref["entity_map"]}


def oracle_stream_triples(inputs: Inputs) -> pd.DataFrame:
    """Raw triples the stream must land: extraction over every valid turn.

    The stream has no S1 (no ordering, dedup or boilerplate census), so
    its reference is the oracle extractor over the rows the stream's
    validation gate keeps — null ordering keys and blank texts dropped.
    """
    t = inputs.transcripts
    valid = t[t["conv_id"].notna() & t["turn_idx"].notna()
              & (t["text"].fillna("").str.strip(" ").str.len() > 0)]
    matcher = oracle.GazetteerMatcher(synth.vocab_surface_rows(inputs.vocab))
    return oracle.extract(valid, matcher)[1]
