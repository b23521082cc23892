"""Time registry entries with bench.py's method (``bench.timed_noop``:
noop sink, clock around build and write, tracked persists released and
the cache cleared between runs), optionally as an interleaved
same-session A/B.

    python tools/ab.py [--old FILE | --conf "k=v;..."] sf_dir name [name ...]

With no flag each entry runs as one variant, ``current``.  ``--old FILE``
adds variant ``old``: the function of the same name in FILE, a copy of
the module that defines the entry (e.g. ``git show HEAD:path/to/module.py
> /tmp/old.py``).  ``--conf`` adds variant ``conf``: the entry with the
given SQL confs set around each of its runs.  Variants interleave per
round, ``current`` first; the first round is an untimed warm-up, so no
variant absorbs the entry's first-run cost (persist builds, Python-worker
forks).  One line per variant per entry: name, variant, median and min
of the timed runs, and the timed runs.  Timed runs per variant:
SPARK_GRAFT_BENCH_RUNS (default 3).  Cross-session comparisons need
bench.py's idle gate.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import statistics
import sys
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import session_confs, timed_noop, warm_up  # noqa: E402


def load_module(path: str):
    """Execute the module file at ``path`` as a private module."""
    spec = importlib.util.spec_from_file_location("_ab_old", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def ab(spark, sf_dir: str, names: list[str], n_runs: int,
       old=None, confs: dict[str, str] | None = None) -> None:
    """Run each registry entry once untimed and then ``n_runs`` times
    timed per variant, and print one line per variant.  ``old`` is a
    module from :func:`load_module` whose same-named function is variant
    ``old``; ``confs`` run variant ``conf``.  Variant ``current`` is the
    working tree at the session's confs."""
    from airflow_postgres_to_s3_pipeline_spark import registry

    for name in names:
        fn = registry.QUERIES[name]
        variants = {"current": (fn, {})}
        if old is not None:
            variants["old"] = (getattr(old, fn.__name__), {})
        if confs:
            variants["conf"] = (fn, confs)
        runs = {v: [] for v in variants}
        for _ in range(1 + n_runs):
            for v, (f, c) in variants.items():
                spark.sparkContext.setJobDescription(f"{v}: {name}")
                with session_confs(spark, c):
                    runs[v].append(
                        round(timed_noop(spark, partial(f, spark, sf_dir)), 3)
                    )
        for v, r in runs.items():
            r = r[1:]  # drop the warm-up round
            print(f"{name:36s} {v:7s} median={statistics.median(r):7.3f} "
                  f"min={min(r):7.3f} runs={r}", flush=True)


def main() -> int:
    from airflow_postgres_to_s3_pipeline_spark import registry

    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    variant = parser.add_mutually_exclusive_group()
    variant.add_argument("--old", metavar="FILE",
                         help="module file whose functions are variant old")
    variant.add_argument("--conf", metavar="k=v;...",
                         help="SQL confs of variant conf")
    parser.add_argument("sf_dir", help="testdata directory (parquet tables)")
    parser.add_argument("names", nargs="+", help="registry entry names")
    opts = parser.parse_args()
    unknown = [n for n in opts.names if n not in registry.QUERIES]
    if unknown:
        parser.error(f"not registry entries: {unknown}")
    confs = None
    if opts.conf:
        confs = dict(kv.split("=", 1) for kv in opts.conf.split(";") if kv)
    old = load_module(opts.old) if opts.old else None

    from airflow_postgres_to_s3_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, opts.sf_dir)
    ab(spark, opts.sf_dir, opts.names,
       int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")), old=old, confs=confs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
