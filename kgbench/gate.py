"""Correctness gate: order-insensitive content digests of pipeline outputs.

A digest is ``(rows, checksum)`` where the checksum is the sum of
``xxhash64`` over every row's columns cast to string.  It does not depend
on row order or partitioning, so the Spark output of a rep and the pandas
oracle (loaded into the same session once) digest equal exactly when the
two row multisets are equal.  The per-partition row counts fall out of
the same single aggregate, which is how the timed rep forces its result.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

EDGE_COLS = ("src", "dst", "pred", "conv_id", "ts")
ENTITY_MAP_COLS = ("surface", "entity_id", "canonical_id")
RAW_TRIPLE_COLS = ("conv_id", "turn_idx", "subj", "pred", "obj", "ts")


@dataclass(frozen=True)
class Digest:
    rows: int
    checksum: int
    partition_rows: tuple[int, ...] = ()

    def key(self) -> tuple[int, int]:
        return self.rows, self.checksum

    def partition_skew(self) -> float:
        """max / mean rows per output partition (1.0 = perfectly even)."""
        parts = self.partition_rows
        if not parts or not self.rows:
            return 1.0
        return max(parts) / (self.rows / len(parts))


def digest(df: DataFrame, cols: tuple[str, ...], n_partitions: int = 0) -> Digest:
    """One Spark action over every row of ``df``; returns its content digest.

    ``n_partitions`` is the partition count ``df`` is known to have, so
    that empty partitions count in the skew; 0 counts only non-empty ones.
    """
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("␀")) for c in cols])
    per_part = (
        df.select(F.spark_partition_id().alias("_pid"), h.cast("decimal(38,0)").alias("_h"))
        .groupBy("_pid")
        .agg(F.count("*").alias("n"), F.sum("_h").alias("s"))
        .collect()
    )
    counts = {int(r["_pid"]): int(r["n"]) for r in per_part}
    checksum = sum(int(r["s"] or 0) for r in per_part)
    n = max(n_partitions, max(counts, default=-1) + 1) if n_partitions else 0
    parts = tuple(counts.get(i, 0) for i in range(n)) if n else tuple(counts.values())
    return Digest(sum(counts.values()), checksum, parts)


def reference_digest(spark: SparkSession, pdf, cols: tuple[str, ...]) -> Digest:
    """Digest of a pandas oracle table, computed by the same expression."""
    return digest(spark.createDataFrame(pdf[list(cols)]), cols)


def mismatches(got: dict[str, Digest], want: dict[str, Digest]) -> list[str]:
    """Names of the outputs whose digest differs from the reference."""
    return [name for name, ref in want.items()
            if name not in got or got[name].key() != ref.key()]
