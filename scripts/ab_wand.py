"""Pinned A/B measurement of the WAND query path between two trees.

Run as: PYTHONPATH=<tree> python scripts/ab_wand.py <label>
Reads the SHARED cached bench index (/tmp/bench_wandidx_v18_40000 and
the 500k big-segment index) so only query-side code differs between
runs. Prints one JSON line with min-of-N per query.

Protocol (BENCH/BASELINE.md drift note): alternate the two trees in
ONE session, both orders, so scheduler/VM drift hits both equally.
"""
from __future__ import annotations

import json
import os
import sys
import time

TRIALS = int(os.environ.get("AB_TRIALS", "5"))
QS = {
    "w_term_high": "t000000",
    "w_and3": "t000000 AND t000010 AND t000050",
    "w_or2": "t000001 OR t000002",
    "w_or3": "t000000 OR t000111 OR t004999",
}
BATCH = {
    "w_term_high": "t000000",
    "w_term_med": "t000400",
    "w_term_low": "t004999",
    "w_and2": "t000001 AND t000002",
    "w_and3": "t000000 AND t000010 AND t000050",
    "w_or2": "t000001 OR t000002",
    "w_or3": "t000000 OR t000111 OR t004999",
}


def main() -> None:
    label = sys.argv[1]
    from lucene_solr_spark.index.segments import SegmentIndex
    from lucene_solr_spark.search.wand import WandSearcher
    from lucene_solr_spark.session import get_spark

    spark = get_spark(app_name=f"ab-{label}", cores=32,
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"label": label, "trials": TRIALS}
    ws = WandSearcher(SegmentIndex(path="/tmp/bench_wandidx_v18_40000",
                                   spark=spark))
    t0 = time.time()
    ws.search("t000001", k=10).collect()
    out["warmup"] = round(time.time() - t0, 3)
    for name, q in QS.items():
        best = float("inf")
        for _ in range(TRIALS):
            t0 = time.time()
            ws.search(q, k=10).collect()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    best = float("inf")
    for _ in range(TRIALS):
        t0 = time.time()
        ws.search_many(BATCH, k=10).collect()
        best = min(best, time.time() - t0)
    out["w_batched_all"] = round(best, 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
