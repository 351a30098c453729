"""The resident base-table pin (``registry.pin_balanced``) and its
between-run reset (``registry.reset_caches``): a table's slice count
follows its on-disk bytes, a re-pin re-slices the disk scan instead of
the previous pin, and a table missing from the sf dir is skipped while
the others pin."""

from __future__ import annotations

import base64
import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from data_iceberg_sandbox_spark.sources.registry import (
    PIN_SLICE_BYTES,
    TABLES,
    is_pinned,
    load_table,
    pin_balanced,
    reset_caches,
)
from tests.conftest import SF_SMOKE


def _sf_dir(tmp_path, tables) -> str:
    """A scratch sf dir holding copies of the named sf0.001 tables."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in tables:
        shutil.copy(os.path.join(SF_SMOKE, f"{t}.parquet"), sf / f"{t}.parquet")
    return str(sf)


def _unpin(spark, sf: str) -> None:
    for t in TABLES:
        if is_pinned(spark, sf, t):
            load_table(spark, sf, t).unpersist(True)


def test_slices_follow_on_disk_bytes(spark, tmp_path, monkeypatch):
    """100 rows of incompressible text over 4 × PIN_SLICE_BYTES pin to
    min(cpus, ceil(bytes / PIN_SLICE_BYTES)) slices, not one slice per
    5,000 rows."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    sf = tmp_path / "sf"
    sf.mkdir()
    path = sf / "documents.parquet"
    text = [base64.b64encode(os.urandom(6_000)).decode() for _ in range(100)]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(100), pa.int64()), "text": text}), path
    )
    size = os.path.getsize(path)
    assert size > 4 * PIN_SLICE_BYTES
    try:
        (docs,) = pin_balanced(spark, str(sf))
        assert docs.rdd.getNumPartitions() == min(4, math.ceil(size / PIN_SLICE_BYTES))
        assert load_table(spark, str(sf), "documents") is docs
    finally:
        _unpin(spark, str(sf))


def test_repin_reslices_the_disk_scan(spark, tmp_path):
    """Two resets that had to re-pin leave the pinned frame one
    repartition over the disk scan, not one per re-pin."""
    sf = _sf_dir(tmp_path, ("region", "nation", "customer"))
    try:
        pin_balanced(spark, sf)
        for _ in range(2):
            spark.range(5).cache().count()  # a query's cache: forces a re-pin
            reset_caches(spark, sf)
        customer = load_table(spark, sf, "customer")
        assert is_pinned(spark, sf, "customer")
        assert customer.storageLevel.useMemory
        plan = customer._jdf.queryExecution().analyzed().toString()
        assert plan.count("Repartition") == 1, plan
    finally:
        _unpin(spark, sf)


def test_missing_table_is_skipped_and_the_rest_pin(spark, tmp_path, capsys):
    sf = _sf_dir(tmp_path, ("region", "nation"))
    try:
        pinned = pin_balanced(spark, sf)
        out = capsys.readouterr().out
        assert len(pinned) == 2
        assert is_pinned(spark, sf, "region") and is_pinned(spark, sf, "nation")
        for t in set(TABLES) - {"region", "nation"}:
            assert f"pin_balanced: cannot load {t}:" in out
            assert not is_pinned(spark, sf, t)
    finally:
        _unpin(spark, sf)
