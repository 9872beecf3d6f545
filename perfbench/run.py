"""Layered benchmark of the lucene_solr_spark engine: one workload per
invocation.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its corpus and
queries from ``--seed``, builds the index with the code under test,
measures for ``--seconds`` seconds and checks every answer against the
numpy oracle. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, taken from Spark job-group
accounting, the Spark event log and direct calls to public kernel,
codec and analysis functions. Lines before it carry the host
fingerprint and a readable summary. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


class Context:
    def __init__(self, root: Path, args):
        self.root = root
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        import host

        self.cores = host.nproc()
        self.work = HERE / ".work" / f"run-{os.getpid()}"
        self.events = self.work / "events"
        self.spark = None
        self.t0 = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, name: str) -> None:
        """Record the run's elapsed seconds at the end of a phase."""
        self.phases[name] = round(time.perf_counter() - self.t0, 1)

    def error(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr)

    def start_spark(self):
        import host

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            self.events.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = host.start_spark(self.cores, conf)
        return self.spark


def metric_specs(root: Path) -> dict:
    with open(root / "BENCHMARK.json") as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "lucene_solr_spark" / "__init__.py").is_file():
        print("perfbench: lucene_solr_spark/ not found; run from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2
    specs = metric_specs(root)
    if args.workload not in {w["name"] for w in specs["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, str(root))
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    ctx = Context(root, args)
    os.environ["TMPDIR"] = str(ctx.work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(ctx.work / "spark-local")
    (ctx.work / "tmp").mkdir(parents=True, exist_ok=True)

    import host
    import workloads

    try:
        print(json.dumps({"fingerprint": host.fingerprint(root),
                          "workload": args.workload, "seed": args.seed,
                          "seconds": args.seconds, "trace": args.trace}),
              flush=True)
        try:
            result = workloads.WORKLOADS[args.workload](ctx)
        finally:
            if ctx.spark is not None:
                host.stop_spark(ctx.spark)
        if ctx.trace:
            import eventlog

            result.per_layer.update(workloads.event_metrics(
                result.windows, ctx.cores, eventlog.load(ctx.events)))
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)

    if ctx.trace:
        metrics = {m["name"]: {"value": float(result.per_layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in specs["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(result.end_to_end[m["name"]]),
                               "unit": m["unit"]} for m in specs["end_to_end"]}
    failed_ratio = result.failed / max(result.attempted, 1)
    ctx.mark("end")
    print(json.dumps({"summary": {
        **{k: round(v["value"], 4) for k, v in metrics.items()},
        **result.notes, "failed_ratio": failed_ratio,
        "elapsed_s": ctx.phases}}))
    print(json.dumps({"correct": result.failed == 0,
                      "attempted": result.attempted,
                      "failed": result.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
