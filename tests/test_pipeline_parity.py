"""Spark pipeline vs pandas oracle — the BASELINE.json correctness gates.

- per-turn text equality under stable (conv_id, turn_idx, ts) ordering
- mention-set equality
- distinct-triple precision/recall >= 0.95 (observed: 1.0)
- entity_map / nodes exact equality
- the in-memory build_graph path: edges + entity_map exact equality with
  both CC forms (driver union-find and the distributed loop)
"""

import pandas as pd
import pytest


def _pdf(df, keys):
    p = df.toPandas().sort_values(keys).reset_index(drop=True)
    return p


def test_per_turn_text_equality(small_run, small_oracle):
    sp = _pdf(small_run["ordered"].select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    op = small_oracle["ordered"][["conv_id", "turn_idx", "text"]].sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, op)


def test_ordered_clustered_by_conversation(small_run):
    """S1 output is conv-clustered and turn-sorted within partitions."""
    from pyspark.sql import functions as F

    df = small_run["ordered"].withColumn("pid", F.spark_partition_id())
    # each conversation lives in exactly one partition
    assert df.groupBy("conv_id").agg(F.countDistinct("pid").alias("n")).filter("n > 1").count() == 0


def test_mentions_equal(small_run, small_oracle):
    keys = ["conv_id", "turn_idx", "sent_idx", "mention"]
    sp = _pdf(small_run["mentions"], keys)
    op = small_oracle["mentions"].sort_values(keys).reset_index(drop=True)[sp.columns.tolist()]
    pd.testing.assert_frame_equal(sp, op)


def test_triple_precision_recall(small_run, small_oracle):
    st = set(map(tuple, small_run["triples"].select("subj", "pred", "obj").distinct()
                 .toPandas().itertuples(index=False)))
    ot = set(map(tuple, small_oracle["triples"][["subj", "pred", "obj"]]
                 .drop_duplicates().itertuples(index=False)))
    inter = len(st & ot)
    precision, recall = inter / len(st), inter / len(ot)
    assert precision >= 0.95, f"precision {precision:.4f}"
    assert recall >= 0.95, f"recall {recall:.4f}"


def test_entity_map_exact(small_run, small_oracle):
    keys = ["surface", "entity_id"]
    sp = _pdf(small_run["entity_map"], keys)
    op = small_oracle["entity_map"].sort_values(keys).reset_index(drop=True)[sp.columns.tolist()]
    pd.testing.assert_frame_equal(sp, op)


def test_nodes_exact(small_run, small_oracle):
    sp = _pdf(small_run["nodes"], ["canonical_id"])
    op = small_oracle["nodes"].sort_values(["canonical_id"]).reset_index(drop=True)[sp.columns.tolist()]
    pd.testing.assert_frame_equal(sp, op)


def test_edges_match(small_run, small_oracle):
    keys = ["conv_id", "src", "dst", "pred", "ts"]
    sp = _pdf(small_run["edges"], keys)[keys]
    op = small_oracle["edges"][keys].sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, op)


def test_metrics_lineage_rows(small_run):
    m = small_run["metrics"].toPandas()
    assert set(m["stage"].unique()) >= {"ordered", "extracted", "entity_map", "triples", "nodes", "edges"}
    assert (m["output_rows"] >= 0).all()
    assert m["snapshot_id"].notna().all()


@pytest.mark.parametrize("cc_threshold", [None, 0], ids=["union_find", "distributed_cc"])
def test_build_graph_matches_oracle(spark, small_spark_inputs, small_vocab, small_oracle,
                                    cc_threshold):
    from kgp.pipeline.exec import build_graph
    from kgp.synth import vocab_surface_rows

    t, v = small_spark_inputs
    g = build_graph(spark, t, v, vocab_surface_rows(small_vocab), cc_threshold=cc_threshold)
    keys = ["conv_id", "src", "dst", "pred", "ts"]
    sp = _pdf(g["edges"], keys)[keys]
    op = small_oracle["edges"][keys].sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, op)
    keys = ["surface", "entity_id"]
    sp = _pdf(g["entity_map"], keys)
    op = small_oracle["entity_map"].sort_values(keys).reset_index(drop=True)[sp.columns.tolist()]
    pd.testing.assert_frame_equal(sp, op)
