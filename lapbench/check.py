"""Output check: the published target tables and the ``upload_stats`` rows
of one apply, compared with what the generator built.

Tables are compared by an order-independent digest (row count plus the
wrapping sum and xor of a per-row hash), computed batch by batch so the
check never holds a whole table in memory.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from linz_bde_uploader_spark.sinks.target import DatasetManifest


def _normal(batch: pa.RecordBatch | pa.Table, columns: list[str]) -> pd.DataFrame:
    """One canonical type per kind of column, so a digest does not depend
    on how a writer chose int32/int64 or a timestamp unit."""
    out = {}
    for name in columns:
        col = batch.column(batch.schema.get_field_index(name))
        t = col.type
        if pa.types.is_integer(t):
            col = pc.cast(col, pa.int64())
        elif pa.types.is_floating(t):
            col = pc.cast(col, pa.float64())
        elif pa.types.is_timestamp(t):
            col = pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64())
        out[name] = col.to_pandas()
    return pd.DataFrame(out)


def digest(batches, columns: list[str]) -> tuple[int, int, int]:
    """(rows, sum, xor) of the per-row hashes of ``batches``."""
    n, total, mixed = 0, 0, 0
    for b in batches:
        if b.num_rows == 0:
            continue
        h = pd.util.hash_pandas_object(_normal(b, columns), index=False).to_numpy()
        n += len(h)
        total = (total + int(h.sum(dtype=np.uint64))) % 2**64
        mixed ^= int(np.bitwise_xor.reduce(h))
    return n, total, mixed


def table_digest(table: pa.Table) -> tuple[int, int, int]:
    return digest(table.to_batches(max_chunksize=65536), table.column_names)


def published(target_root: str) -> dict[str, str]:
    """table name → directory of the version the dataset manifest publishes."""
    current = DatasetManifest(os.path.join(target_root, "_manifest")).current()
    return {os.path.basename(p): os.path.join(p, v) for p, v in current.items()}


def check_tables(target_root: str, expected: dict[str, dict]) -> list[str]:
    """``expected``: table → {"columns": [...], "digest": [rows, sum, xor]}."""
    problems = []
    versions = published(target_root)
    for table, want in sorted(expected.items()):
        path = versions.get(table)
        if path is None:
            problems.append(f"{table}: no published version")
            continue
        data = ds.dataset(path, format="parquet")
        if sorted(data.schema.names) != sorted(want["columns"]):
            problems.append(f"{table}: columns {data.schema.names} != {want['columns']}")
            continue
        got = digest(data.to_batches(batch_size=65536), want["columns"])
        if list(got) != list(want["digest"]):
            problems.append(f"{table}: digest {got} != expected {tuple(want['digest'])}")
    return problems


def recorded_stats(meta_root: str) -> dict[tuple[str, str], tuple[int, int, int, int]]:
    """(table, dataset) → counters of the most recent upload's stats rows."""
    uploads = pq.read_table(os.path.join(meta_root, "upload.parquet")).to_pylist()
    last = max(u["id"] for u in uploads)
    names = {r["id"]: r["table_name"] for r in
             pq.read_table(os.path.join(meta_root, "upload_table.parquet")).to_pylist()}
    out = {}
    for r in pq.read_table(os.path.join(meta_root, "upload_stats.parquet")).to_pylist():
        if r["upl_id"] == last:
            out[(names[r["tbl_id"]], r["dataset"])] = (
                r["ninsert"], r["nupdate"], r["nnullupdate"], r["ndelete"])
    return out


def check_stats(meta_root: str, expected: dict[tuple[str, str], tuple]) -> list[str]:
    got = recorded_stats(meta_root)
    problems = []
    for key in sorted(set(got) | set(expected)):
        want, have = expected.get(key), got.get(key)
        if want is None or have is None or tuple(want) != tuple(have):
            problems.append(f"upload_stats {key}: recorded {have} != expected {want}")
    return problems
