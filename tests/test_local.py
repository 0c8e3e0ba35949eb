"""The bounded local-path probe every driver twin goes through, and
the set of environment variables the package reads."""

from __future__ import annotations

import pathlib
import re

from data_mining_map_reduce_spark.operators._local import bounded_rows

PKG = pathlib.Path(__file__).resolve().parent.parent / "data_mining_map_reduce_spark"


def test_bounded_rows_cap(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x int")
    assert sorted(r.x for r in bounded_rows(df, 3)) == [1, 2, 3]
    assert bounded_rows(df, 2) is None
    assert bounded_rows(df, 0) is None


def test_env_knob_set_is_pinned():
    """Every ``SPARK_GRAFT_*`` variable the package reads. Adding an
    option means editing this set."""
    read = re.compile(
        r"""(?:environ\.get\(|environ\[|getenv\()\s*["'](SPARK_GRAFT_[A-Z_]+)["']"""
    )
    found = {
        m.group(1).removeprefix("SPARK_GRAFT_")
        for path in PKG.rglob("*.py")
        for m in read.finditer(path.read_text())
    }
    assert found == {
        "CPUS",
        "DRIVER_MEM",
        "ITEMSET_SUPPORT",
        "ITEMSET_SUPPORT_FRAC",
        "LSH_VERIFY_BUDGET",
        "EXACT_PAIRS_MAX",
    }
