"""The shared timing method (bench.timed_noop) and the A/B runner built
on it (tools/ab.py)."""

from __future__ import annotations

import os
import re
import sys
import time

import pytest
from pyspark import StorageLevel

import bench
from airflow_postgres_to_s3_pipeline_spark import cache, registry

sys.path.insert(0, os.path.join(bench.REPO, "tools"))
import ab  # noqa: E402

LINE = re.compile(
    r"(\S+) +(current|old|conf) +cold= *([\d.]+) min= *([\d.]+) runs=\[([\d., ]+)\]"
)


@pytest.mark.parametrize("variant", [None, "conf", "old"])
def test_ab_prints_one_line_per_variant(spark, sf_dir, capsys, variant):
    name = "pricing_summary"
    fn = registry.QUERIES[name]
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    kwargs = {}
    if variant == "conf":
        kwargs["confs"] = {key: "3"}
    elif variant == "old":
        kwargs["old"] = ab.load_module(sys.modules[fn.__module__].__file__)
        assert getattr(kwargs["old"], fn.__name__) is not fn
    ab.ab(spark, sf_dir, [name], 1, **kwargs)
    lines = capsys.readouterr().out.splitlines()
    parsed = [LINE.fullmatch(line) for line in lines]
    assert all(parsed), lines
    expected = ["current"] + ([variant] if variant else [])
    assert [(m[1], m[2]) for m in parsed] == [(name, v) for v in expected]
    for m in parsed:
        runs = [float(r) for r in m[5].split(",")]
        assert len(runs) == 1
        assert float(m[3]) == float(m[4]) == runs[0] > 0
    assert spark.conf.get(key) == before  # conf variant restored


def test_timed_noop_times_build_and_releases_its_persists(spark):
    held = []

    def build():
        time.sleep(0.2)  # build-layer time must be inside the timed span
        df = cache.tracked_persist(spark.range(10))
        held.append(df)
        return df

    cache.release_persisted()
    assert bench.timed_noop(spark, build) >= 0.2
    assert held[0].storageLevel == StorageLevel.NONE
    assert cache.tracked_alive() == []
