"""Round-6 optimization measurement harness (bench.py is FROZEN — this file
carries the extra measurements the optimization round needs).

Per-query noop-sink timing (guide §1.4) + formatted-explain capture for the
declared bench queries, at any SF.  Usage:

    python bench_extra.py [--sf DIR] [--tag NAME] [--queries a,b,c]
                          [--repeats N] [--explain-dir plans/r06] [--suffix _before]

Prints one JSON line {"sf":..., "queries": {name: sec}} and appends it to
BENCH/r06_runs.jsonl with the tag, so before/after evidence accumulates.
Explains are written to <explain-dir>/<query><suffix>.txt when --explain-dir
is given.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from bench import BENCH_QUERIES, SF_DIR  # noqa: E402 — after the sys.path insert


def formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--tag", default="run")
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    names = [q for q in args.queries.split(",") if q] or BENCH_QUERIES

    from mysql_cdc_rs_spark.queries import QUERIES
    from mysql_cdc_rs_spark.session import build_session

    spark = build_session(
        "bench_extra",
        master=f"local[{args.cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.explain_dir:
        os.makedirs(os.path.join(REPO, args.explain_dir), exist_ok=True)

    out: dict = {
        "tag": args.tag,
        "sf": args.sf,
        "load_at_start": [round(x, 2) for x in os.getloadavg()],
        "queries": {},
        "queries_load1": {},
    }
    for name in names:
        spark.sparkContext.setJobDescription(f"r06:{args.tag}:{name}")
        df = QUERIES[name](spark, args.sf)
        if args.explain_dir:
            with open(
                os.path.join(REPO, args.explain_dir, f"{name}{args.suffix}.txt"),
                "w",
            ) as f:
                f.write(formatted(spark, df))
        df.write.format("noop").mode("overwrite").save()  # warm
        times = []
        for _ in range(args.repeats):
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.monotonic() - t0)
        out["queries"][name] = round(min(times), 3)
        out["queries_load1"][name] = round(os.getloadavg()[0], 2)
        print(f"  {name}: {out['queries'][name]}s (load1 {out['queries_load1'][name]})", file=sys.stderr)
    spark.stop()

    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/r06_runs.jsonl", "a") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
