"""r15 optimization-round pins.

Each test pins an invariant an r15 rewrite depends on (same discipline as
test_r14_opt.py): value equality old-vs-new where a plan was restructured,
and behavioral pins for the new size-gated broadcast helper.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from process_nwb_spark.relational import core
from process_nwb_spark.relational.core import T, dim_broadcast

SF_DIR = "/root/testdata/sf0.001"


def _has_hint(df) -> bool:
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


class TestDimBroadcastGate:
    def test_hints_below_gate(self, spark):
        core._TABLE_BYTES.clear()
        c = T(spark, SF_DIR, "customer")
        assert _has_hint(dim_broadcast(c, SF_DIR, "customer"))

    def test_unhinted_above_gate(self, spark, monkeypatch):
        # a microscopic gate stands in for "the table outgrew the cap":
        # the helper must return the frame UNHINTED so AQE picks the
        # strategy instead of a forced broadcast that would hard-fail
        # past 8 GB at 100 TB inputs
        monkeypatch.setenv("SPARK_GRAFT_BCAST_GATE_MB", "0.000001")
        core._TABLE_BYTES.clear()
        c = T(spark, SF_DIR, "customer")
        out = dim_broadcast(c, SF_DIR, "customer")
        assert not _has_hint(out)
        core._TABLE_BYTES.clear()

    def test_gate_sums_all_named_tables(self, spark, monkeypatch):
        # joint frames (e.g. supplier JOIN nation) gate on the SUM of
        # their source footprints — one table under the gate must not
        # sneak a two-table frame through
        c = T(spark, SF_DIR, "customer")
        sz = core._table_bytes(SF_DIR, "customer")
        monkeypatch.setenv("SPARK_GRAFT_BCAST_GATE_MB",
                           str(1.5 * sz / (1024 * 1024)))
        core._TABLE_BYTES.clear()
        assert _has_hint(dim_broadcast(c, SF_DIR, "customer"))
        assert not _has_hint(
            dim_broadcast(c, SF_DIR, "customer", "customer"))
        core._TABLE_BYTES.clear()

    def test_gated_face_output_unchanged(self, spark, monkeypatch):
        # join_inner_broadcast must produce identical rows hinted and
        # unhinted — the gate changes strategy selection only, never
        # results
        reg = core.all_queries()
        base = reg["join_inner_broadcast"].fn(spark, SF_DIR)
        rows_hinted = sorted(map(tuple, base.collect()))
        monkeypatch.setenv("SPARK_GRAFT_BCAST_GATE_MB", "0.000001")
        core._TABLE_BYTES.clear()
        rows_unhinted = sorted(map(tuple,
                                   reg["join_inner_broadcast"]
                                   .fn(spark, SF_DIR).collect()))
        assert rows_hinted == rows_unhinted
        core._TABLE_BYTES.clear()


def _write_zeros(path: str, n: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": np.arange(n, dtype=np.int64) % 7}), path,
                   use_dictionary=False, compression="zstd")


def test_table_bytes_reads_uncompressed_size_from_footers(tmp_path):
    """The gate input is the size before compression: a repetitive
    PLAIN-encoded column compresses to a few KB on disk but holds 8 bytes
    a row uncompressed."""
    _write_zeros(str(tmp_path / "dim.parquet"), 1_000_000)
    core._TABLE_BYTES.clear()
    got = core._table_bytes(str(tmp_path), "dim")
    assert got >= 8_000_000, got
    assert os.path.getsize(tmp_path / "dim.parquet") * 10 < got
    assert core._table_bytes(str(tmp_path), "missing") == 0
    core._TABLE_BYTES.clear()


def test_table_bytes_resizes_a_regenerated_table(tmp_path):
    """A table rewritten at the same path (a new mtime) is re-sized, not
    served from the cache."""
    path = str(tmp_path / "dim.parquet")
    _write_zeros(path, 1000)
    core._TABLE_BYTES.clear()
    small = core._table_bytes(str(tmp_path), "dim")
    _write_zeros(path, 1_000_000)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10 ** 9))
    big = core._table_bytes(str(tmp_path), "dim")
    assert big > 100 * small, (small, big)
    core._TABLE_BYTES.clear()
