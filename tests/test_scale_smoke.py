"""The scale runner's replica build (tools/scale_smoke.py), DuckDB only.

`build_scaled_dir` is what every SCALE.md section measures against, so
its contract is pinned here: a replicated table has factor x the rows,
the original schema and still-unique keys; every other table is the
original file; and a query the runner has no table list for replicates
every table it knows how to shift, embeddings included.
"""

from __future__ import annotations

import filecmp
import importlib.util
import os
import shutil

import duckdb
import pytest

from .conftest import REPO_ROOT, SF_SMALL

FACTOR = 3
KEYS = {"events": "event_id", "embeddings": "vec_id"}


def _runner():
    spec = importlib.util.spec_from_file_location(
        "scale_smoke", os.path.join(REPO_ROOT, "tools", "scale_smoke.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def scaled_dir():
    out = _runner().build_scaled_dir(SF_SMALL, FACTOR, set(KEYS))
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _scan(path: str) -> str:
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return f"read_parquet('{path}')"


@pytest.mark.parametrize("table", sorted(KEYS))
def test_replicated_table_rows_schema_and_keys(scaled_dir, table):
    con = duckdb.connect()
    src = _scan(os.path.join(SF_SMALL, f"{table}.parquet"))
    dst_path = os.path.join(scaled_dir, f"{table}.parquet")
    assert os.path.isdir(dst_path)  # written multi-file
    dst = _scan(dst_path)
    n_src = con.execute(f"SELECT COUNT(*) FROM {src}").fetchone()[0]
    n_dst, n_keys = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT {KEYS[table]}) FROM {dst}"
    ).fetchone()
    assert n_src > 0
    assert n_dst == FACTOR * n_src
    assert n_keys == n_dst
    assert (
        con.execute(f"DESCRIBE SELECT * FROM {dst}").fetchall()
        == con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    )


def test_other_tables_are_the_original_files(scaled_dir):
    others = sorted(
        f for f in os.listdir(SF_SMALL)
        if f.endswith(".parquet") and f[: -len(".parquet")] not in KEYS
    )
    assert others
    for f in others:
        dst = os.path.join(scaled_dir, f)
        assert os.path.isfile(dst), f
        assert filecmp.cmp(os.path.join(SF_SMALL, f), dst, shallow=False), f


def test_unlisted_query_replicates_every_shiftable_table():
    mod = _runner()
    tables = mod.scaled_tables(["a_query_with_no_needs_row"])
    assert tables == set(mod._REPLACE)
    assert "embeddings" in tables
    assert mod.scaled_tables(["ann_ivf_index_upsert"]) == {"embeddings"}
    assert mod.scaled_tables(
        ["manifest_dv_delete", "ann_ivf_index_upsert"]
    ) == {"events", "embeddings"}
