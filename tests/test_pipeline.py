"""End-to-end pipeline tests — graph table contracts, sha256 invariant
through the full path, and kill/resume idempotence (FIXTURES.md F6/F8)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from deep_reason_spark.datagen import alias_dict_df, generate_repo_files
from deep_reason_spark.plans.kg_pipeline import (
    run_graph_stage,
    run_kg_pipeline,
    run_triples_stage,
)
from deep_reason_spark.sources.checkpoint import CheckpointLedger


@pytest.fixture()
def out_dir(tmp_path):
    d = str(tmp_path / "kg_out")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_end_to_end_graph_contract(spark, out_dir):
    rf = generate_repo_files(spark, 120)
    metrics = run_kg_pipeline(spark, rf, alias_dict_df(spark), out_dir, n_buckets=8)
    assert metrics.triples_out > 100
    assert metrics.extract_errors == 0

    nodes = spark.read.parquet(f"{out_dir}/nodes")
    edges = spark.read.parquet(f"{out_dir}/edges")
    # F6 column contract
    assert {"id", "title", "type", "description", "frequency", "degree"} <= set(nodes.columns)
    assert {"id", "human_readable_id", "source", "target", "description",
            "weight", "combined_degree", "text_unit_ids"} <= set(edges.columns)
    # every edge endpoint is a node
    n_ids = nodes.select(F.col("id").alias("source"))
    assert edges.join(n_ids, "source", "left_anti").count() == 0
    assert edges.join(n_ids.withColumnRenamed("source", "target"),
                      "target", "left_anti").count() == 0
    # canonicalization collapsed alias surfaces: one node titled Ada Lovelace,
    # none titled bare "Ada"
    titles = {r.title for r in nodes.select("title").collect()}
    assert "Ada" not in titles

    # the pipeline emits the GraphRAG-consumed community tables from its
    # OWN edges (gen_agent/sampling.py:357,390-393) — self-contained
    comm = spark.read.parquet(f"{out_dir}/communities")
    reps = spark.read.parquet(f"{out_dir}/community_reports")
    assert {"community_id", "entity_ids", "n_members"} <= set(comm.columns)
    assert {"community_id", "title", "n_members", "n_internal_edges",
            "total_weight", "top_members", "rating"} <= set(reps.columns)
    # every graph node is in exactly one community; label = min member id
    members = comm.select(
        "community_id", F.explode("entity_ids").alias("id"))
    assert members.select("id").distinct().count() == nodes.count()
    assert members.groupBy("community_id").agg(
        F.min("id").alias("m")).where(
        F.col("m") != F.col("community_id")).count() == 0
    assert "graph.communities" in metrics.wall_ms


def test_sha256_invariant_survives_pipeline(spark, out_dir):
    rf = generate_repo_files(spark, 60).cache()
    run_triples_stage(spark, rf, out_dir, n_buckets=4)
    triples = spark.read.parquet(f"{out_dir}/triples")
    expected = rf.select(
        F.concat_ws(":", "repo", "path").alias("document_id"),
        F.sha2("content", 256).alias("content_sha256"),
    )
    mismatched = triples.select("document_id", "content_sha256").distinct().join(
        expected, ["document_id", "content_sha256"], "left_anti"
    )
    assert mismatched.count() == 0


def test_resume_after_partial_failure_is_idempotent(spark, out_dir, tmp_path):
    """FIXTURES.md F8: run fully; then delete half the output buckets AND
    their ledger rows (simulated mid-run kill); resume; final table equals
    the single-run output exactly."""
    import os

    from deep_reason_spark.plans.kg_pipeline import PipelineMetrics
    from deep_reason_spark.sources.checkpoint import bucket_col

    rf = generate_repo_files(spark, 100).cache()
    full = run_triples_stage(spark, rf, out_dir, n_buckets=8, resume=False)
    baseline = full.toPandas().sort_values(
        ["document_id", "order_id", "subject", "predicate", "object"]
    ).reset_index(drop=True)

    populated = sorted(
        r[0] for r in rf.select(bucket_col("repo", 8).alias("b")).distinct().collect()
    )
    assert len(populated) >= 2
    killed = populated[: len(populated) // 2]
    survivors = populated[len(populated) // 2:]

    # simulate kill: wipe the killed buckets' outputs and ALL ledger rows,
    # then re-commit ledger rows only for the surviving buckets
    ledger = CheckpointLedger(spark, out_dir)
    for b in killed:
        shutil.rmtree(os.path.join(out_dir, "triples", f"bucket={b}"),
                      ignore_errors=True)
    shutil.rmtree(ledger.path, ignore_errors=True)
    ledger.commit("triples", [(b, "xx", 0, 0) for b in survivors])

    metrics_holder = PipelineMetrics()
    resumed = run_triples_stage(spark, rf, out_dir, n_buckets=8, resume=True,
                                metrics=metrics_holder)
    assert metrics_holder.buckets_skipped == len(survivors)
    assert metrics_holder.buckets_processed == len(killed)

    after = resumed.toPandas().sort_values(
        ["document_id", "order_id", "subject", "predicate", "object"]
    ).reset_index(drop=True)
    assert len(after) == len(baseline)
    assert (after.values == baseline.values).all()


def test_second_run_is_noop(spark, out_dir):
    from deep_reason_spark.plans.kg_pipeline import PipelineMetrics
    from deep_reason_spark.sources.checkpoint import bucket_col

    rf = generate_repo_files(spark, 40).cache()
    populated = rf.select(bucket_col("repo", 4).alias("b")).distinct().count()
    run_triples_stage(spark, rf, out_dir, n_buckets=4)
    m = PipelineMetrics()
    run_triples_stage(spark, rf, out_dir, n_buckets=4, metrics=m)
    assert m.buckets_skipped == populated
    assert m.buckets_processed == 0


def test_worklist_side_job_error_surfaces_when_nothing_to_do(spark, out_dir):
    """The worklist hash runs as a side job next to the main write; its
    error must surface on EVERY path — including the resume that finds
    every bucket committed and writes nothing, where the side job's result
    used to be dropped unread."""
    from pyspark.errors import AnalysisException

    rf = generate_repo_files(spark, 40).cache()
    run_triples_stage(spark, rf, out_dir, n_buckets=4)
    # every bucket is committed, so no file is processed; the worklist
    # hash reads `commit`, absent here, so only the side job fails
    with pytest.raises(AnalysisException, match="commit"):
        run_triples_stage(spark, rf.drop("commit"), out_dir, n_buckets=4)


def test_broadcast_guard_is_byte_aware(spark):
    from deep_reason_spark.plans.kg_pipeline import (
        broadcast_if_small,
        estimate_bytes,
    )
    small = spark.createDataFrame([(i, "x" * 10) for i in range(100)],
                                  "id bigint, s string")
    est = estimate_bytes(small)
    assert 100 * 18 <= est <= 100 * 18 + 10  # 8B id + 10B string per row

    # wide rows: few rows but big payload → must NOT broadcast
    wide = spark.createDataFrame([(i, "y" * 100_000) for i in range(50)],
                                 "id bigint, s string")
    assert estimate_bytes(wide) > (1 << 20)
    hinted = broadcast_if_small(small, max_bytes=1 << 20)
    not_hinted = broadcast_if_small(wide, max_bytes=1 << 20)
    # over the byte gate the frame comes back UNHINTED — the join strategy
    # is then Catalyst/AQE's call, not a forced executor-wide broadcast
    assert not_hinted is wide
    assert hinted is not small  # hint applied below the gate
    probe = spark.range(10).withColumnRenamed("id", "id2")
    p1 = probe.join(hinted, probe.id2 == hinted.id)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in p1


def test_estimate_bytes_memoized_per_plan(spark):
    """VERDICT r3 task 6: one agg job per distinct gated plan — a second
    gate call on a semantically-equal frame must be a cache hit."""
    from deep_reason_spark.functions import broadcast as bc

    base = spark.createDataFrame([(i, "x" * 8) for i in range(50)],
                                 "id bigint, s string")
    # two semantically-equal builds of the same plan (fresh objects)
    a = base.select("id", "s").where(F.col("id") >= 0)
    b = base.select("id", "s").where(F.col("id") >= 0)
    before = bc.ESTIMATE_JOBS
    ea = bc.estimate_bytes(a)
    mid = bc.ESTIMATE_JOBS
    eb = bc.estimate_bytes(b)
    after = bc.ESTIMATE_JOBS
    assert ea == eb
    assert mid == before + 1   # first call runs the agg
    assert after == mid        # second call is a cache hit
    assert bc.estimate_bytes(b, use_cache=False) == eb  # forced fresh job
    assert bc.ESTIMATE_JOBS == after + 1


def test_triples_out_counts_latest_commit_only(spark, out_dir):
    """r4 review: the ledger is append-only — a resume=False re-run into
    the same out_dir re-commits every bucket, and the metric must sum the
    LATEST row per bucket, not double-count."""
    rf = generate_repo_files(spark, 40).cache()
    m1 = run_kg_pipeline(spark, rf, alias_dict_df(spark), out_dir, n_buckets=4)
    m2 = run_kg_pipeline(spark, rf, alias_dict_df(spark), out_dir,
                         n_buckets=4, resume=False)
    assert m1.triples_out > 0
    assert m2.triples_out == m1.triples_out
