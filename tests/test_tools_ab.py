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
    r"(\S+) +(current|old|conf) +median= *([\d.]+) min= *([\d.]+) "
    r"runs=\[([\d., ]+)\]"
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


def test_ab_runs_each_variant_once_untimed_first(spark, sf_dir, capsys,
                                                 monkeypatch):
    """Every variant runs once before the timed rounds and that run is
    left out, so ``current`` (first in each round) does not absorb the
    entry's first-run cost; the median is over the timed runs only."""
    calls = []

    def fake_timed_noop(spark, build):
        calls.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return float(len(calls))

    monkeypatch.setattr(ab, "timed_noop", fake_timed_noop)
    name = "pricing_summary"
    ab.ab(spark, sf_dir, [name], 2, confs={"spark.sql.shuffle.partitions": "3"})
    assert calls == [f"current: {name}", f"conf: {name}"] * 3
    parsed = [LINE.fullmatch(line)
              for line in capsys.readouterr().out.splitlines()]
    assert [(m[2], float(m[3]), m[5]) for m in parsed] == [
        ("current", 4.0, "3.0, 5.0"), ("conf", 5.0, "4.0, 6.0")
    ]


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
