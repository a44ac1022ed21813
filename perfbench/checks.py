"""Output checks, run untimed after each timed operation.

They read the engine's parquet output with pyarrow, so they submit no
Spark job and never share a code path with what they check. Each check
returns a list of failure messages; an empty list means it passed.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.dataset as ds

from inputs import GOLDEN_KEY

MIN_PRECISION = MIN_RECALL = 0.95


def _table(path: str):
    """A stored table with the physical ``bucket`` layout column dropped."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return t.drop_columns([c for c in ("bucket",) if c in t.column_names])


def count_rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def check_build(out_dir: str, golden: set[tuple], ledger_triples: int,
                table_dirs: tuple[str, ...]) -> list[str]:
    """Triples P/R against the golden set, every graph table non-empty, and
    the ledger's triple count equal to the rows under ``triples/``."""
    errors = []
    triples = os.path.join(out_dir, "triples")
    got = set(zip(*(_table(triples).column(k).to_pylist()
                    for k in GOLDEN_KEY)))
    tp = len(got & golden)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(golden) if golden else 0.0
    if precision < MIN_PRECISION or recall < MIN_RECALL:
        errors.append(f"triples precision {precision:.4f} / recall "
                      f"{recall:.4f} below {MIN_PRECISION}")
    for name in table_dirs:
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path) or count_rows(path) == 0:
            errors.append(f"graph table {name} missing or empty")
    stored = count_rows(triples)
    if stored != ledger_triples:
        errors.append(f"ledger counts {ledger_triples} triples, "
                      f"{stored} rows stored")
    return errors


def table_digest(path: str) -> str:
    """Order-independent digest of a stored table: the sorted per-row
    hashes of its rows (columns in name order, arrays in stored order)."""
    if not os.path.isdir(path):
        return "missing"
    t = _table(path)
    cols = sorted(t.column_names)
    rows = zip(*(t.column(c).to_pylist() for c in cols)) if cols else []
    h = hashlib.sha256()
    for row_hash in sorted(hashlib.md5(repr(r).encode()).digest()
                           for r in rows):
        h.update(row_hash)
    return f"{t.num_rows}:{h.hexdigest()}"


def graph_digest(out_dir: str, table_dirs: tuple[str, ...]) -> dict[str, str]:
    return {name: table_digest(os.path.join(out_dir, name))
            for name in table_dirs}


def check_fold(state_dir: str, expected: dict[str, str]) -> list[str]:
    """Every graph table equals the full rebuild's, by digest."""
    got = graph_digest(state_dir, tuple(expected))
    return [f"table {name} diverged from the full rebuild"
            for name in expected if got[name] != expected[name]]
