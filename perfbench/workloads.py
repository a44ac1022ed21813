"""The benchmark's workloads. Each one stages seeded inputs in ``setup``,
times one engine operation per ``op`` call and checks that operation's
output in ``check``. ``attach`` re-binds the workload to a new Spark session
(the traced half of a ``--trace 1`` run uses a fresh session with the event
log on), so every DataFrame is re-read from the staged parquet.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from contextlib import nullcontext

from checks import check_build, check_fold, count_rows, graph_digest
from inputs import (
    FILES_SCHEMA,
    TRIPLES_SCHEMA,
    as_triples,
    dir_bytes,
    generate,
    golden_set,
    window_start,
    write_parquet,
)
from layers import (
    QUERY_SPANS,
    QueryRequests,
    Tracer,
    extraction_legs,
    graph_legs,
    stage_query_tables,
)


class _Workload:
    def __init__(self, spark, work: str, seed: int) -> None:
        self.work, self.seed, self.n_ops = work, seed, 0
        self.attach(spark)

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def _read(self, name: str):
        return self.spark.read.parquet(self._path(name))


class Build(_Workload):
    """``run_kg_pipeline`` over the saturated-vocabulary corpus: the only
    workload that runs the chunker and the extractor."""

    name = "build"
    N_FILES = 1000

    def attach(self, spark) -> None:
        from deep_reason_spark.datagen import alias_dict_df, entity_types_df

        self.spark = spark
        self.alias_dict = alias_dict_df(spark)
        self.entity_types = entity_types_df(spark)

    def _pipeline(self, files: str, out_dir: str):
        from deep_reason_spark.plans.kg_pipeline import run_kg_pipeline

        return run_kg_pipeline(
            self.spark, self._read(files), self.alias_dict, out_dir,
            resume=False, entity_types=self.entity_types)

    def setup(self) -> None:
        lo = window_start(self.seed, self.N_FILES)
        # warm-up: one untimed build of the same size over the next window.
        # The first builds in a JVM run on a warm-up slope (a build after a
        # tiny warm-up pipeline still ran ~15% slower than the next one), so
        # the timed build is the second of its size.
        warm, _ = generate(lo + self.N_FILES, self.N_FILES)
        write_parquet(self._path("warm_files"), warm, FILES_SCHEMA)
        self._pipeline("warm_files", self._path("warm_out"))
        shutil.rmtree(self._path("warm_out"))
        files, golden = generate(lo, self.N_FILES)
        write_parquet(self._path("files"), files, FILES_SCHEMA)
        self.golden = golden_set(golden)
        self.sizes = {"files": self.N_FILES, "golden_triples": len(self.golden)}

    def op(self, tracer: Tracer | None = None) -> float:
        """One timed build into a fresh output directory → seconds."""
        self.n_ops += 1
        self.out_dir = self._path(f"out{self.n_ops}")
        t0, w0 = time.monotonic(), time.time() * 1000
        self.metrics = self._pipeline("files", self.out_dir)
        wall = time.monotonic() - t0
        if tracer is not None:
            # stage boundaries from the pipeline's own laps, anchored at the
            # call's start and end
            w1 = time.time() * 1000
            tracer.spans.append(("op", w0, w1))
            tracer.spans.append(("kg_pipeline.triples_stage", w0,
                                 w0 + self.metrics.wall_ms["triples"]))
            tracer.spans.append(("kg_pipeline.graph_stage",
                                 w1 - self.metrics.wall_ms["graph"], w1))
        return wall

    def check(self) -> list[str]:
        from deep_reason_spark.plans.kg_pipeline import GRAPH_TABLE_DIRS

        errors = check_build(self.out_dir, self.golden,
                             self.metrics.triples_out, GRAPH_TABLE_DIRS)
        self.sizes.update(
            triples=self.metrics.triples_out,
            entities=count_rows(os.path.join(self.out_dir, "nodes")),
            edges=count_rows(os.path.join(self.out_dir, "edges")))
        return errors

    def out_bytes(self) -> int:
        return dir_bytes(self.out_dir)

    def drop_output(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def layer_legs(self, tracer: Tracer, outcome) -> dict[str, float]:
        triples = extraction_legs(tracer, self._read("files"))
        graph_legs(tracer, self.spark, triples, self.alias_dict,
                   self.entity_types)
        return {}


class Fold(_Workload):
    """Fold the seed's 1% batch into a growth-regime graph
    (``run_incremental_kg_update(refresh_derived=False)``), then roll up
    the derived tables (``refresh_derived_tables``). No extraction runs:
    the triples are the corpus's golden triples in the extractor's
    schema."""

    name = "fold"
    N_FILES = 1000
    BATCH_SHARE = 0.01  # of the triples; whole documents in seeded order
    QUERIES_PER_KIND = 3

    def attach(self, spark) -> None:
        from deep_reason_spark.datagen import alias_dict_df

        self.spark = spark
        self.alias_dict = alias_dict_df(spark)

    def setup(self) -> None:
        from deep_reason_spark.plans.incremental_kg import init_incremental_state
        from deep_reason_spark.plans.kg_pipeline import (
            GRAPH_TABLE_DIRS,
            run_graph_stage,
        )

        n = self.N_FILES
        files, golden = generate(window_start(self.seed, n), n,
                                 extra_entities=8 * n)
        write_parquet(self._path("files"), files, FILES_SCHEMA)
        triples = as_triples(golden)
        batch_docs = _batch_documents(triples, self.seed, self.BATCH_SHARE)
        batch = [t for t in triples if t["document_id"] in batch_docs]
        write_parquet(self._path("base"), [
            t for t in triples if t["document_id"] not in batch_docs],
            TRIPLES_SCHEMA)
        write_parquet(self._path("batch"), batch, TRIPLES_SCHEMA)
        base = self._read("base")
        # the prior state (kept pristine; each op folds into a copy) and the
        # full rebuild over base ∪ batch that the folded state must equal
        run_graph_stage(self.spark, base, self.alias_dict, self._path("prior"))
        init_incremental_state(self.spark, base, self.alias_dict,
                               self._path("prior"))
        run_graph_stage(self.spark, base.unionByName(self._read("batch")),
                        self.alias_dict, self._path("rebuild"))
        self.expected = graph_digest(self._path("rebuild"), GRAPH_TABLE_DIRS)
        shutil.rmtree(self._path("rebuild"))
        self.batch_bytes = dir_bytes(self._path("batch"))
        self.sizes = {
            "files": n, "triples": len(triples), "batch_triples": len(batch),
            "entities": count_rows(self._path("prior/entity_mapping")),
            "edges": count_rows(self._path("prior/edges")),
        }

    def op(self, tracer: Tracer | None = None) -> float:
        """Copy the pristine prior state (untimed), then time fold + rollup
        → seconds."""
        from deep_reason_spark.plans.incremental_kg import (
            refresh_derived_tables,
            run_incremental_kg_update,
        )

        self.n_ops += 1
        self.state = self._path(f"state{self.n_ops}")
        shutil.copytree(self._path("prior"), self.state)
        before = _file_ids(self.state)
        t0 = time.monotonic()
        with _maybe_span(tracer, "op"):
            with _maybe_span(tracer, "incremental_kg.fold"):
                run_incremental_kg_update(self.spark, self._read("batch"),
                                          self.alias_dict, self.state,
                                          refresh_derived=False)
            with _maybe_span(tracer, "incremental_kg.rollup"):
                refresh_derived_tables(self.spark, self.state)
        wall = time.monotonic() - t0
        self.written = _written(before, _file_ids(self.state))
        return wall

    def check(self) -> list[str]:
        return check_fold(self.state, self.expected)

    def out_bytes(self) -> int:
        return dir_bytes(self.state)

    def drop_output(self) -> None:
        shutil.rmtree(self.state, ignore_errors=True)

    def layer_legs(self, tracer: Tracer, outcome) -> dict[str, float]:
        """Graph legs over the batch (the scale of the fold's batch-side
        work), then the query requests over the prior state."""
        graph_legs(tracer, self.spark, self._read("batch"), self.alias_dict,
                   None)
        out = {
            "fold.write_amp": self.written["bytes"] / self.batch_bytes,
            "fold.buckets_written_frac": self.written["buckets_frac"],
        }
        with tracer.span("query.stage"):
            paths = stage_query_tables(self.spark, self._path("prior"),
                                       self._read("files"),
                                       self._path("query"))
        requests = QueryRequests(self.spark, paths)
        rng = random.Random(self.seed)
        try:
            for kind in QUERY_SPANS:
                lat = []
                for _ in range(self.QUERIES_PER_KIND):
                    ms, ok = requests.run(tracer, kind, rng)
                    lat.append(ms)
                    outcome.record([] if ok else [f"{kind} answer differs "
                                                  "from DuckDB"])
                out[f"{kind}.p50_ms"] = statistics.median(lat)
        finally:
            requests.close()
        return out


WORKLOADS = {w.name: w for w in (Build, Fold)}


def _batch_documents(triples: list[dict], seed: int, share: float) -> set[str]:
    """Whole documents, taken in a seeded hash order until they hold
    ``share`` of the triples: every seed folds a batch of the same size."""
    per_doc: dict[str, int] = {}
    for t in triples:
        per_doc[t["document_id"]] = per_doc.get(t["document_id"], 0) + 1
    order = sorted(per_doc, key=lambda d: hashlib.md5(
        f"{seed}:{d}".encode()).digest())
    chosen, n = set(), 0
    for d in order:
        if n >= share * len(triples):
            break
        chosen.add(d)
        n += per_doc[d]
    return chosen


def _maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _file_ids(root: str) -> dict[str, tuple[int, int]]:
    """relative path → (inode, size) of every regular file under root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_ino, st.st_size)
    return out


def _written(before: dict, after: dict) -> dict[str, float]:
    """Bytes of new or replaced files, and the fraction of the edges/nodes
    ``bucket=`` partitions whose file set changed."""
    new = {p: v for p, v in after.items() if before.get(p) != v}
    buckets, touched = set(), set()
    for p in set(before) | set(after):
        parts = p.split(os.sep)
        if len(parts) >= 3 and parts[0] in ("edges", "nodes") \
                and parts[1].startswith("bucket="):
            buckets.add((parts[0], parts[1]))
            if p in new or p not in after:
                touched.add((parts[0], parts[1]))
    return {"bytes": sum(size for _ino, size in new.values()),
            "buckets_frac": len(touched) / len(buckets) if buckets else 0.0}
