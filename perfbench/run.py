#!/usr/bin/env python3
"""Benchmark of the decode -> enrich -> route -> aggregate engine.

    python3 perfbench/run.py --workload {route,curate} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  One driver process runs the package at
local[nproc] as a closed loop with one client: each pass starts when the
previous one has completed.  The input is a window, picked by ``--seed``,
of a pool of generated pages (see inputs.py), materialised to parquet
before anything is timed.

--trace 0 prints the end-to-end metrics; --trace 1 runs the layer ledger
(see ledger.py) with the Spark event log on and prints the per-layer
metrics.  The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
records the host context.  Spans, host context and metrics are also
written to ``.perfbench/runs/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# pages per input.  On a 4-core host a warm pass costs a fixed 2.5 s of
# per-pass jobs plus 16 us a page (route), or 2.4 s plus 150 us a page
# (curate), so at these sizes the per-page work is about half of a pass.
# Larger inputs would not fit the run budget.
PAGES = {"route": 160_000, "curate": 20_000}
WARMUP_PASSES = 2
# the page pool holds this many times the largest input
POOL_FACTOR = 2
# pages generated into the noop sink to time generation in a traced run
GEN_PAGES = 10_000
# the JVM heap, pinned through the engine's own setting (its default is 8g)
DRIVER_MEM = "3g"
PASS_TIMEOUT_S = 60.0
# no timed pass starts after this much wall time, so a run ends in time
# even on a slow host
RUN_DEADLINE_S = 130.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PAGES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # testing hooks: a tiny input, and a reference made wrong on purpose so
    # the smoke test can see a failing check counted
    p.add_argument("--pages", type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--corrupt-reference", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # the package is measured from the checkout's source, never from an
    # installed copy
    if not os.path.isdir(os.path.join(ROOT, "mysql_cdc_rs_spark")):
        print(f"perfbench: no mysql_cdc_rs_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, Java and Python write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None
    try:
        result, record = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(base, "runs"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(base, "runs", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"host": record["host"]}))
    print(json.dumps(result), flush=True)
    return 0


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.n = args.pages or PAGES[args.workload]
        self.t_start = time.monotonic()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self):
        import host

        args = self.args
        self.ctx = ctx = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "pages": self.n,
            "nproc": host.nproc(),
            "load_start": host.loadavg(),
            "git_commit": host.git_commit(ROOT),
            "python": sys.version.split()[0],
        }
        ctx["canary"] = host.decode_canary()

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # with only a cap, G1 grew the heap differently from run to run
            # and peak RSS with it; the initial heap equals the cap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.environ['TMPDIR']}"
                " -XX:-UsePerfData"
            ),
        }
        if args.trace:
            from ledger import event_log_conf

            conf.update(event_log_conf(os.path.join(self.work, "eventlog")))

        from mysql_cdc_rs_spark.session import build_session

        t0 = time.monotonic()
        spark = build_session(
            "perfbench", master=f"local[{ctx['nproc']}]", extra_conf=conf
        )
        build_s = time.monotonic() - t0
        self.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        try:
            import pyspark

            ctx["pyspark"] = pyspark.__version__
            ctx["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
            metrics, spans = self._session_body(spark, ctx, build_s)
        finally:
            _stop(spark)
        ctx["load_end"] = host.loadavg()
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        record = {"host": ctx, "result": result, "failures": self.failures, "spans": spans}
        return result, record

    def _session_body(self, spark, ctx, build_s):
        from workloads import WORKLOADS

        pages = self._pages(self.args.workload)
        ctx["input_bytes"] = _du(os.path.join(self.work, f"pages-{self.args.workload}"))
        wl = WORKLOADS[self.args.workload](spark, pages, self.n, self.work)

        warm = [self._pass(spark, wl) for _ in range(WARMUP_PASSES)]
        setup_s = build_s + sum(w[0] for w in warm)
        ctx["warmup_pass_s"] = [w[0] for w in warm]
        wl.compute_reference()
        if self.args.corrupt_reference and wl.reference is not None:
            wl.reference = _corrupt(wl.reference)

        if self.args.trace:
            return self._traced(spark, pages, ctx, build_s)
        return self._timed(spark, wl, setup_s), []

    def _pages(self, workload: str):
        """The workload's input for this seed: a window of the page pool,
        which the first run in a checkout generates (see inputs.py)."""
        import inputs

        n = self.args.pages or PAGES[workload]
        size = POOL_FACTOR * (self.args.pages or max(PAGES.values()))
        t0 = time.monotonic()
        pool = inputs.pool(self.spark, size, os.path.dirname(self.work), self.work)
        pool_s = time.monotonic() - t0
        self.ctx.setdefault("pool", {"path": os.path.basename(pool), "s": pool_s})
        out = os.path.join(self.work, f"pages-{workload}")
        return inputs.window(self.spark, pool, size, n, self.args.seed, out)

    # --- untraced: timed closed loop -------------------------------------------

    def _timed(self, spark, wl, setup_s):
        import host

        times, cpu, spent = [], 0.0, 0.0
        with host.RssSampler() as rss:
            while spent < self.args.seconds:
                if time.monotonic() - self.t_start > RUN_DEADLINE_S:
                    break
                dt, cpu_s, ok = self._pass(spark, wl, rss)
                spent += dt
                if ok:
                    times.append(dt)
                    cpu += cpu_s
        self.ctx["timed_pass_s"] = times
        self.ctx["peak_rss_by_command"] = rss.peak_by_command
        rate = statistics.median(self.n / t for t in times) if times else 0.0
        return {
            "items_per_s": {"value": rate, "unit": "pages/s"},
            "cpu_ms_per_item": {
                "value": 1000 * cpu / (self.n * max(len(times), 1)),
                "unit": "ms",
            },
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 1e6, "unit": "MB"},
            "ok_share": {
                "value": (self.attempted - self.failed) / self.attempted,
                "unit": "share",
            },
        }

    def _pass(self, spark, wl, rss=None) -> tuple[float, float, bool]:
        """One pass, then its check.  Returns the pass's wall and process-tree
        CPU seconds, and whether it succeeded: a pass that raised, timed out or
        failed its check counts as failed.  The check is not timed, and RSS
        is sampled during the pass only.
        """
        import host

        self.attempted += 1
        timer = threading.Timer(PASS_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        timer.start()
        c0 = host.tree_cpu_s()
        if rss is not None:
            rss.active.set()
        t0 = time.monotonic()
        try:
            out = wl.run_pass()
        except Exception:  # a failed pass is counted, not fatal
            self._fail(traceback.format_exc(limit=3))
            return time.monotonic() - t0, 0.0, False
        finally:
            timer.cancel()
            if rss is not None:
                rss.active.clear()
        dt = time.monotonic() - t0
        cpu = host.tree_cpu_s() - c0
        try:
            err = wl.check(out)
        except Exception:
            err = traceback.format_exc(limit=3)
        if err:
            self._fail(err)
        return dt, cpu, not err

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)
        print(f"perfbench: pass failed: {why}", file=sys.stderr)

    # --- traced: layer ledger -------------------------------------------------

    def _catalog(self):
        from mysql_cdc_rs_spark.sources.catalog import SinkCatalog

        return SinkCatalog(self.spark, tempfile.mkdtemp(dir=self.work))

    def _traced(self, spark, pages, ctx, build_s):
        import ledger
        from mysql_cdc_rs_spark.sources.pages import pages_df

        run_id = f"{self.args.workload}-{self.args.seed}-{os.getpid()}"
        tracer = ledger.Tracer(spark.sparkContext, run_id)
        # the traced workload's part runs first, right after its warm-ups,
        # so trace.items_per_s compares with the untraced items_per_s.  The
        # route ledger runs over the traced workload's pages; the curate
        # spans always run over the curate input of this seed, as curate
        # over the route input would not fit a run.
        self.attempted += 1
        counts = {}
        try:
            if self.args.workload == "route":
                counts.update(ledger.route_ledger(tracer, pages, self._catalog))
                counts.update(ledger.curate_spans(tracer, self._pages("curate")))
            else:
                counts.update(ledger.curate_spans(tracer, pages))
                counts.update(ledger.route_ledger(tracer, pages, self._catalog))
        except Exception:
            self._fail(traceback.format_exc(limit=3))
        if self.failed:
            return {}, tracer.spans
        t0 = time.monotonic()
        ledger.noop(pages_df(spark, min(self.n, GEN_PAGES), seed=self.args.seed))
        gen_s = time.monotonic() - t0
        _stop(spark)  # flushes the event log
        events = ledger.reduce_event_log(os.path.join(self.work, "eventlog"))
        m = ledger.per_layer_metrics(tracer, events, self.n, self.args.workload)
        m.update(counts)
        m["kernel.decode_batch.pages_per_s"] = ctx["canary"]["pages_per_s"]
        m["kernel.decode_batch.mb_per_s"] = ctx["canary"]["mb_per_s"]
        m["session.build_session.s"] = build_s
        m["sources.pages_df.s"] = gen_s
        return {k: {"value": v, "unit": ledger.unit_of(k)} for k, v in m.items()}, tracer.spans


def _corrupt(ref):
    if isinstance(ref, dict):
        k = sorted(ref)[0]
        return {**ref, k: ref[k] + 1}
    return (ref[0] + 1, *ref[1:])


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started (JVM, PySpark daemon, Python workers) to end."""
    from pyspark import SparkContext

    import host

    started = [p for p in host.tree() if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # workers orphaned by the JVM are re-parented away from this process,
    # so wait on the pids seen before the stop rather than on the tree
    deadline = time.monotonic() + 20
    while left := [p for p in started if host.alive(p)]:
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
