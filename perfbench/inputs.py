"""Seeded benchmark inputs, written as parquet without Spark.

The engine only ever sees these generated tables. The seed picks the
file-id window of the datagen corpus (``datagen._build_file`` is a pure
function of the file id), so two seeds give two different corpora with the
same shape: a hub repo with ~10x the files of any other repo, and the hub
entity in ~30% of the project facts.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

FILES_SCHEMA = pa.schema([(c, pa.string()) for c in
                          ("repo", "path", "commit", "lang", "content")])
# the extractor's output schema (operators/extractor.py TRIPLES_SCHEMA)
TRIPLES_SCHEMA = pa.schema([
    ("subject", pa.string()), ("predicate", pa.string()),
    ("object", pa.string()), ("document_id", pa.string()),
    ("order_id", pa.int32()), ("repo", pa.string()),
    ("content_sha256", pa.string()),
])
GOLDEN_KEY = ("subject", "predicate", "object", "document_id", "order_id")
PARQUET_PARTS = 8  # datagen's default partition count at these sizes


def window_start(seed: int, n_files: int) -> int:
    """First file id of the seed's window; windows never overlap."""
    return (seed % 100_000) * 10 * n_files


def generate(lo: int, n_files: int,
             extra_entities: int = 0) -> tuple[list[dict], list[dict]]:
    """(repo_files rows, golden triple rows) for file ids [lo, lo + n)."""
    from deep_reason_spark.datagen import _build_file

    rows, golden = [], []
    for i in range(lo, lo + n_files):
        row, triples = _build_file(i, n_files, extra_entities)
        rows.append(row)
        golden.extend(triples)
    return rows, golden


def write_parquet(path: str, rows: list[dict], schema: pa.Schema) -> None:
    """``rows`` → ``PARQUET_PARTS`` parquet files under ``path``."""
    os.makedirs(path)
    step = max(1, -(-len(rows) // PARQUET_PARTS))
    for part, start in enumerate(range(0, max(len(rows), 1), step)):
        pq.write_table(
            pa.Table.from_pylist(rows[start:start + step], schema=schema),
            os.path.join(path, f"part-{part:05d}.parquet"))


def golden_set(golden: list[dict]) -> set[tuple]:
    return {tuple(t[k] for k in GOLDEN_KEY) for t in golden}


def as_triples(golden: list[dict]) -> list[dict]:
    """Golden triple rows in the extractor's output schema (the repo is the
    document id's prefix)."""
    return [{**t, "repo": t["document_id"].split(":", 1)[0]} for t in golden]


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
