"""Measure the per-task Python floor of a local Spark session.

Run as: python scripts/python_task_floor.py [--runs N] [--cores C]
(from the repo root, or with the repo on PYTHONPATH). Prints the median
over N runs of four figures, in ms:

- ``jvm_collect``: a JVM-only ``spark.range(3).collect()``;
- ``noop_python_job``: a no-op 3-task ``mapInPandas`` job, run after the
  probe job below, so its reused workers hold the zip-directory guard
  as an engine task's workers do;
- ``worker_invalidate_unguarded``: one in-worker
  ``importlib.invalidate_caches()`` without the guard, i.e. what
  pyspark's worker pays at the start of each task on CPython < 3.12
  before the package is imported;
- ``worker_invalidate_guarded``: the same call once the package is
  imported (its guard installed and the archives' stamps recorded).

The in-worker figures are medians over every probe task (3 per run);
``zip_importers`` is the number of cached zip importers a probe task
saw. On CPython >= 3.12 the two in-worker figures are both small.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe(batches):
    """One task: time importlib.invalidate_caches() unguarded, then
    guarded (importing the package installs the guard in a task)."""
    import importlib
    import zipimport

    import pandas as pd

    for _ in batches:
        pass

    def timed_ms() -> float:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        return (time.perf_counter() - t0) * 1e3

    cls = zipimport.zipimporter
    current = cls.invalidate_caches
    cls.invalidate_caches = getattr(current, "__wrapped__", current)
    unguarded = timed_ms()
    cls.invalidate_caches = current
    import lucene_solr_spark  # noqa: F401 (installs the guard in a task)

    timed_ms()  # a fresh guard reads each archive once
    guarded = timed_ms()
    n_zip = sum(isinstance(i, zipimport.zipimporter)
                for i in sys.path_importer_cache.values())
    yield pd.DataFrame({"unguarded": [unguarded], "guarded": [guarded],
                        "zip_importers": [n_zip]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from lucene_solr_spark.session import get_spark

    spark = get_spark(app_name="python-task-floor", cores=args.cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    schema = "unguarded double, guarded double, zip_importers int"
    rows3 = spark.range(0, 3, 1, 3)
    samples: dict[str, list[float]] = {
        "jvm_collect": [], "noop_python_job": [],
        "worker_invalidate_unguarded": [], "worker_invalidate_guarded": []}
    n_zip = set()
    for _ in range(args.runs):
        t0 = time.perf_counter()
        spark.range(3).collect()
        samples["jvm_collect"].append((time.perf_counter() - t0) * 1e3)
        for r in rows3.mapInPandas(probe, schema).collect():
            samples["worker_invalidate_unguarded"].append(r["unguarded"])
            samples["worker_invalidate_guarded"].append(r["guarded"])
            n_zip.add(r["zip_importers"])
        t0 = time.perf_counter()
        rows3.mapInPandas(lambda it: it, "id long").collect()
        samples["noop_python_job"].append((time.perf_counter() - t0) * 1e3)
    out = {k: round(statistics.median(v), 2) for k, v in samples.items()}
    out.update(runs=args.runs, zip_importers=sorted(n_zip),
               python=sys.version.split()[0])
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
