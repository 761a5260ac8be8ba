"""The one row-group write loop (engine._rowgroups): every encode driver
sizes row groups by `target_raw_bytes` and numbers them by row offset."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tokenc.datagen import TOKENS_ARROW_SCHEMA
from tokenc.schema import specs_from_arrow_schema

SPECS = specs_from_arrow_schema(TOKENS_ARROW_SCHEMA)
TARGET = 64 << 10  # far below one input batch (~1 MB and more)


def _uniform_rows(n: int) -> pa.Table:
    """64-token docs with fixed-width ids: every row has the same size."""
    return pa.table({
        "doc_id": [f"d{i:07d}" for i in range(n)],
        "tokens": pa.array(np.arange(n * 64, dtype=np.int32).reshape(n, 64)
                           .tolist(), pa.list_(pa.int32())),
        "n_tok": pa.array([64] * n, pa.int32()),
        "source": ["s"] * n,
    }).cast(TOKENS_ARROW_SCHEMA)


def _groups(driver, spark, tbl, tmp_path):
    """(rg_part, rg_idx, n_rows) per row group the driver writes."""
    path = str(tmp_path / "src.parquet")
    pq.write_table(tbl, path)
    cols = ["rg_part", "rg_idx", "n_rows"]
    if driver == "write_table":
        from tokenc.local import write_table

        write_table(tbl, str(tmp_path / "enc"), specs=SPECS,
                    target_raw_bytes=TARGET)
        return pq.read_table(str(tmp_path / "enc"), columns=cols).to_pylist()
    if driver == "encode_df":
        from tokenc.engine import encode_df

        enc = encode_df(spark.read.parquet(path), SPECS,
                        target_raw_bytes=TARGET)
    else:
        from tokenc.files import encode_files

        enc = encode_files(spark, [path], SPECS, target_raw_bytes=TARGET)
    return [r.asDict() for r in enc.select(*cols).collect()]


@pytest.mark.parametrize("driver", ["encode_df", "encode_files",
                                    "write_table"])
def test_one_sizing_and_numbering_policy(spark, tmp_path, driver):
    """Each row group holds about `target_raw_bytes` however the driver's
    input is batched (Spark Arrow batches, 8192-row parquet reads, one
    whole table), and its rg_idx is the number of rows before it in its
    partition or file."""
    tbl = _uniform_rows(12_000)
    row_bytes = tbl.nbytes / tbl.num_rows
    groups = sorted(_groups(driver, spark, tbl, tmp_path),
                    key=lambda g: (g["rg_part"], g["rg_idx"]))
    assert sum(g["n_rows"] for g in groups) == tbl.num_rows
    assert len(groups) > 1
    for g in groups:
        assert g["n_rows"] * row_bytes <= 1.1 * TARGET, (g, row_bytes)
    before: dict = {}
    for g in groups:
        assert g["rg_idx"] == before.get(g["rg_part"], 0), g
        before[g["rg_part"]] = g["rg_idx"] + g["n_rows"]
