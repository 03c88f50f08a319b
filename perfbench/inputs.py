"""The benchmark's input tables: the engine's sf 0.01 fixtures, and the x N tier.

``fixtures/`` holds a copy of the engine's sf 0.01 test tables (see
TESTDATA.md: deterministic synthetic star schema plus ``events``,
``documents`` and ``embeddings``, generator seed 42), so a run measures
the work the registry does on the inputs its correctness gate uses. They
are read, never changed.

``prepare`` writes a run's input directory. With ``copies == 1`` the
tables are copied as they are. With ``copies > 1`` the fact tables
(``lineitem``, ``orders``, ``events``) are replicated with their keys
shifted per copy, so each copy is a disjoint set of orders, line items,
events and users, while the dimensions and the text and vector corpora
stay as they are. The seed decides the order in which the copies are
laid out in the files, so the same seed gives the same bytes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
# fact table -> the key columns a replica shifts; each key is dense from 0
REPLICATED_KEYS = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id", "user_id"),
}
# key column -> the (table, column) whose range is the key's per-copy stride
_KEY_DOMAIN = {
    "o_orderkey": ("orders", "o_orderkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
}


def table_names() -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(FIXTURES) if f.endswith(".parquet"))


def replicate(tables: dict[str, pa.Table], copies: int, seed: int) -> dict[str, pa.Table]:
    """The x ``copies`` tier of ``tables``: each fact table is copied
    ``copies`` times, copy ``c`` with its keys shifted by ``c`` times the
    key's range, laid out in a seed-chosen copy order."""
    stride = {k: int(pc.max(tables[t][c]).as_py()) + 1 for k, (t, c) in _KEY_DOMAIN.items()}
    order = np.random.default_rng(seed).permutation(copies)
    out = dict(tables)
    for name, keys in REPLICATED_KEYS.items():
        parts = []
        for c in order:
            part = tables[name]
            for col in keys:
                shifted = pc.add(part[col], pa.scalar(int(c) * stride[col], pa.int64()))
                part = part.set_column(part.schema.get_field_index(col), col, shifted)
            parts.append(part)
        out[name] = pa.concat_tables(parts)
    return out


def prepare(copies: int, seed: int, out_dir: str) -> dict[str, int]:
    """Write the run's ``<name>.parquet`` files to ``out_dir``; returns
    the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    names = table_names()
    if copies == 1:
        for name in names:
            shutil.copyfile(os.path.join(FIXTURES, f"{name}.parquet"),
                            os.path.join(out_dir, f"{name}.parquet"))
        return {n: pq.read_metadata(os.path.join(out_dir, f"{n}.parquet")).num_rows
                for n in names}
    tables = replicate({n: pq.read_table(os.path.join(FIXTURES, f"{n}.parquet"))
                        for n in names}, copies, seed)
    for name, table in tables.items():
        # one row group per table, the layout of the engine's fixtures
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", row_group_size=table.num_rows or 1)
        os.replace(path + ".tmp", path)
    return {n: t.num_rows for n, t in tables.items()}
