"""Per-partition checkpoint ledger — the engine's resumability substrate.

Reference semantics reproduced (SURVEY.md §2.1 S9, §2.6 U4): deep-reason
resumes by content-hash cache probes (md5 of the serialized stage input,
``kg_agent/utils.py:101-172``) and by anti-joining new questions against a
JSONL answer cache (``rag/pipeline.py:507-545``). Our engine's unit of
resume is an explicit *bucket*: ``pmod(xxhash64(repo), n_buckets)`` — the
same co-location key the chunker shuffles by, so checkpoint slices align
with input slices (SURVEY.md §4 item 3).

Mechanics:
- stage outputs are parquet tables partitioned by ``bucket``; writes use
  dynamic partition overwrite, so re-processing a bucket is idempotent
  (re-running replaces exactly that bucket's files);
- after each bucket set commits, one ledger row per bucket records
  (stage, bucket, input_hash, rows_out, wall_ms, committed_at) — the
  lineage/metrics record the north rule asks for (FIXTURES.md F8);
- resume = LEFT ANTI JOIN of input buckets against the ledger's committed
  buckets for that stage.

On a real cluster the ledger lives in the same Iceberg catalog as the data;
here it is a parquet directory (append-only, one file per commit — no
read-modify-write races).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LEDGER_SCHEMA = (
    "stage string, bucket int, input_hash string, rows_out bigint, "
    "wall_ms bigint, committed_at timestamp"
)


def bucket_col(repo_col: str = "repo", n_buckets: int = 32):
    return F.pmod(F.xxhash64(repo_col), F.lit(n_buckets)).cast("int")


class CheckpointLedger:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "_ledger")

    def committed_buckets(self, stage: str) -> DataFrame:
        """→ DataFrame(bucket int) of buckets already committed for stage."""
        try:
            ledger = self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        except Exception:  # first run: no ledger yet
            return self.spark.createDataFrame([], "bucket int")
        return ledger.where(F.col("stage") == stage).select("bucket").distinct()

    def commit(self, stage: str, rows: list[tuple[int, str, int, int]]) -> None:
        """Append ledger rows: (bucket, input_hash, rows_out, wall_ms)."""
        if not rows:
            return
        df = self.spark.createDataFrame(
            [(stage, b, h, int(r), int(w)) for b, h, r, w in rows],
            "stage string, bucket int, input_hash string, rows_out bigint, wall_ms bigint",
        ).withColumn("committed_at", F.current_timestamp())
        # one new file per commit; append-only
        df.coalesce(1).write.mode("append").parquet(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)


def write_partitioned(
    df: DataFrame, path: str, partition_col: str = "bucket", align: bool = True
) -> None:
    """Idempotent per-bucket write: dynamic partition overwrite replaces only
    the buckets present in ``df`` (re-runs of a bucket are exactly-once).
    This is the triples stage's resume writer, and the only in-place
    overwrite left: buckets absent from ``df`` SURVIVE, so a table whose
    every run must replace it whole (the graph tables) never comes here —
    those stage, then swap, through ``kg_pipeline.run_write_wave``.

    ``align=True`` hash-repartitions on the partition column first so each
    task owns whole buckets — without that, every task can emit a file into
    every bucket (tasks × buckets small files: 4096 for a 64×64 local run,
    millions on a cluster) and the commit protocol becomes the bottleneck.
    Pass ``align=False`` when the frame is ALREADY bucket-aligned (e.g. the
    extraction path repartitions its input once, before chunking) to avoid
    shuffling the data a second time."""
    out = df.repartition(partition_col) if align else df
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    # storage under `path` changed: memoized byte estimates keyed on a
    # plan-identical scan of it are now stale (VERDICT r4 #3)
    from deep_reason_spark.functions.broadcast import bump_estimate_epoch
    bump_estimate_epoch()


def stage_input_hash(df: DataFrame, cols: list[str]) -> str:
    """Content hash of a stage input (the reference's md5-of-input cache key,
    kg_agent/utils.py:114) — order-insensitive xor-style aggregate of row
    hashes, computed distributed."""
    row = df.select(
        # decimal sum: overflow-proof under ANSI mode (Spark 4 default)
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"{row['s']}:{row['n']}"


def now_ms() -> int:
    return int(time.monotonic() * 1000)
