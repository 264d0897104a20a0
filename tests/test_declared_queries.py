"""Every declared query in the registry runs against its DuckDB oracle
(the local mirror of the driver's t2 gate). Rows-only queries (oracle
None) must at least execute and return a stable schema.
"""

from __future__ import annotations

import os

import pytest

from sora_spark.queries import REGISTRY
from tests.oracle_utils import compare

if os.environ.get("SORA_UNCALIBRATED_SF_OK") == "1":
    # the env escape was removed in r11 (the bypass is now scoped
    # inside bench/scale entrypoints); a leftover export in a
    # hash-gated run is exactly the leak the r10 ADVICE warned about —
    # fail the whole module loudly instead of running with a stale
    # assumption
    raise RuntimeError(
        "SORA_UNCALIBRATED_SF_OK is set: unset it — oracle runs must "
        "never bypass the sf-calibration guard (bench.py/scale_probe.py "
        "scope the escape internally via graph_q.allow_uncalibrated_sf)"
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_declared_query(name, spark, duck, sf_dir):
    q = REGISTRY[name]
    df = q.spark_fn(spark, sf_dir)
    if q.oracle is None:
        assert df.columns, f"{name}: no output columns"
        assert df.count() >= 0
    else:
        compare(df, duck, q.oracle, name=name)


@pytest.mark.parametrize("name", [
    "qup8_merge_pruned", "qup21_log_checkpoint", "qix9_text_index_append",
])
def test_table_writing_query_reruns(name, spark, sf_dir):
    """A table- or index-writing query starts from an emptied scratch
    directory, so a second run in the same process returns the rows of
    the first (an append or a version-exclusive create would otherwise
    meet the first run's files)."""
    fn = REGISTRY[name].spark_fn
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    second = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert first and first == second


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 9
