"""newsflow user-path benchmark.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 16 --trace 0

Runs one workload (see ``workloads.py``) on Spark ``local[nproc]`` with
shuffle partitions = nproc, from one closed-loop client, for
``--seconds`` of timed ops after set-up and warm-up.  With ``--trace 0``
the last stdout line carries the end-to-end metrics; with ``--trace 1``
the run records spans, enables a local Spark event log, adds two passes
of the report path (``reportpass.py``) and the last line carries the
per-layer metrics instead.  Every op's output is checked outside its
timing.  All files go under ``perfbench/.work``; the span
ledger of each run is kept in ``perfbench/.work/ledger``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
LINE_LIMIT = 1500  # keep every stdout line well inside a bounded tail
REPORT_PASSES = 2  # traced runs; the second is checked against the first


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="input size multiplier (below 1 only for smoke tests)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    # Everything the run, its JVM and its Python workers write stays
    # under the work directory.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    run = None
    try:
        run = Run(args, work)
        return run.execute()
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)


class Run:
    def __init__(self, args, work: str) -> None:
        sys.path.insert(0, ROOT)
        from spans import Tracer
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}")
        self.args = args
        self.work = work
        self.ncpu = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.wl = WORKLOADS[args.workload](args.seed, work, self.tracer, args.scale)
        self.spark = None
        self.attempted = 0
        self.report_inputs: dict = {}
        self.failures: list[str] = []

    # -- session -------------------------------------------------------------

    def start_session(self):
        from newsflow.session import get_spark

        confs = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
            ),
        }
        if self.args.trace:
            confs["spark.eventLog.enabled"] = "true"
            confs["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "eventlog")
            confs["spark.eventLog.rolling.enabled"] = "false"
            confs["spark.eventLog.compress"] = "false"
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                master=f"local[{self.ncpu}]",
                shuffle_partitions=self.ncpu,
                extra_confs=confs,
            )
        self.tracer.bind(self.spark.sparkContext)

    def stop_session(self) -> None:
        self.tracer.bind(None)
        self.spark.stop()
        self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the JVM that pyspark launched and wait until it exits."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def close(self) -> None:
        """Stop the session and the JVM; safe to call again."""
        if self.spark is not None:
            self.stop_session()
        self.shutdown_jvm()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    # -- ops -----------------------------------------------------------------

    def op(self, run, kind: str, **kw) -> tuple[float, int] | None:
        """One checked op, ``run(spark, kind, **kw)``; None when it
        raised or failed its check."""
        self.attempted += 1
        since = len(self.tracer.spans)
        try:
            wall, items, failure = run(self.spark, kind, **kw)
        except Exception as e:  # a failed op is counted; the client goes on
            failure = f"{kind} raised {type(e).__name__}: {e}"
        self.tracer.collect_counts(since)
        if failure is not None:
            self.failures.append(failure[:300])
            return None
        return wall, items

    def execute(self) -> int:
        from machine import cpu_probe, cpu_ticks, peak_rss_mb, steal_share

        args, wl, tracer = self.args, self.wl, self.tracer
        cpu_s = cpu_probe()
        tracer.active = bool(args.trace)
        if args.trace:
            wl.wrap_library()

        # Set-up, once and cold: JVM launch and session start, input
        # generation, the workload's preparation and the warm-up ops.
        # Warm-up ops are checked but not traced.
        t0 = time.perf_counter()
        self.start_session()
        with tracer.span("perfbench.generate"):
            wl.generate()
        wl.prepare(self.spark)
        tracer.collect_counts()
        tracer.active = False
        warm = [(kind, self.op(wl.run, kind, **kw)) for kind, kw in wl.warmup_plan()]
        setup_s = time.perf_counter() - t0
        self.warmup_walls = [(k, round(r[0], 3)) for k, r in warm if r is not None]

        # Timed ops.  Every kind is tried ``wl.min_ops`` times, and at
        # least once (traced runs: at least once traced and once untraced,
        # for the overhead ratio); after that an op starts while the
        # window is open, and the last one may end after it.  Traced runs
        # order each kind's ops traced, untraced, untraced, traced, ... so
        # warming over the run biases neither side.
        samples = {k: [] for k in wl.kinds}
        untraced = {k: [] for k in wl.kinds}
        tries = {k: [0, 0] for k in wl.kinds}
        items = dict.fromkeys(wl.kinds, 0)
        self.op_walls = []
        sched = wl.schedule()
        ticks = cpu_ticks()
        start = time.perf_counter()
        while True:
            kind, kw = next(sched)
            slot = int(bool(args.trace) and sum(tries[kind]) % 4 in (1, 2))
            short = any(
                sum(t) < wl.min_ops.get(k, 1) or t[0] == 0 or (args.trace and t[1] == 0)
                for k, t in tries.items()
            )
            elapsed = time.perf_counter() - start
            if not short and elapsed >= args.seconds:
                break
            tries[kind][slot] += 1
            tracer.active = slot == 0 and bool(args.trace)
            tracer.op_id = self.attempted
            res = self.op(wl.run, kind, **kw)
            tracer.active = False
            if res is None:
                continue
            self.op_walls.append((kind, round(res[0], 3)))
            (untraced if slot else samples)[kind].append(res[0])
            if not slot:
                items[kind] += res[1]
        self.steal = steal_share(ticks, cpu_ticks())
        for k in wl.kinds:
            if not samples[k]:
                raise RuntimeError(f"no {k} op succeeded: {self.failures[:1]}")

        extra = {}
        if args.trace:
            from reportpass import ReportPass

            from newsflow.session import apply_runtime_confs

            tracer.active = True
            tracer.op_id = None
            extra = wl.extra_layers(self.spark)
            tracer.collect_counts()
            rp = ReportPass(args.seed, self.work, tracer, args.scale)
            rp.generate()
            self.report_inputs = rp.inputs()
            # A sibling session: once a session has run an Observation
            # (the curate op does), Spark 4 fails to serialize MLlib's LR
            # training summary, which holds that session.
            report_spark = apply_runtime_confs(self.spark.newSession())
            for _ in range(REPORT_PASSES):
                self.op(lambda _spark, _kind: rp.run(report_spark), "report")

        rss = peak_rss_mb()
        pid = self.jvm_pid()
        if pid is not None:
            rss += peak_rss_mb(pid)
        self.close()
        return self.report(cpu_s, setup_s, samples, untraced, items, extra, rss)

    # -- output --------------------------------------------------------------

    def report(self, cpu_s, setup_s, samples, untraced, items, extra, rss) -> int:
        args, wl = self.args, self.wl
        failed = len(self.failures)
        tag = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
        emit({**tag, "ncpu": self.ncpu, "seconds": args.seconds,
              "inputs": {**wl.inputs(), **self.report_inputs}, "cpu_probe_s": round(cpu_s, 4),
              "steal_share": round(self.steal, 4)})
        lat = samples[wl.latency_kind]
        ing = samples[wl.ingest_kind]
        if not args.trace:
            e2e = {
                "setup_s": {"value": setup_s, "unit": "s", "n": 1},
                "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
                "failed_op_ratio": {"value": failed / self.attempted,
                                    "unit": "ratio", "n": self.attempted},
                **wl.named_metrics(samples),
            }
            emit({**tag, "e2e": e2e})
            emit({**tag, "warmup_walls_s": self.warmup_walls,
                  "op_walls_s": self.op_walls})
            values = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(lat),
                "ingest_per_s": items[wl.ingest_kind] / sum(ing),
            }
            names = END_TO_END
        else:
            from spans import layer_metrics, read_event_log

            layers = layer_metrics(
                self.tracer.spans, read_event_log(os.path.join(self.work, "eventlog"))
            )
            layers.update(extra)
            ratios = [
                statistics.median(samples[k]) / statistics.median(untraced[k])
                for k in wl.kinds
                if samples[k] and untraced[k]
            ]
            layers["trace.overhead_ratio"] = math.prod(ratios) ** (1 / len(ratios))
            for k in wl.kinds:
                if untraced[k]:
                    layers[f"op.{k}.untraced_s"] = statistics.median(untraced[k])
            self.tracer.write_ledger(os.path.join(
                WORK_ROOT, "ledger", f"{wl.name}-seed{args.seed}.jsonl"))
            emit_chunked(tag, "layers", {k: _round(v) for k, v in sorted(layers.items())})
            values = {}
            for name, _ in PER_LAYER:
                scope, _, measure = name.partition(".")
                if scope == "op":
                    values[name] = layers[f"op.{wl.latency_kind}.{measure}"]
                elif scope == "ingest":
                    values[name] = layers[f"op.{wl.ingest_kind}.{measure}"]
                else:  # absent only when the report pass failed
                    values[name] = layers.get(name, 0.0)
            names = PER_LAYER
        emit({**tag, "checks": {"attempted": self.attempted, "failed": failed,
                                "first_failure": self.failures[0] if failed else None}})
        print(json.dumps({
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
        }), flush=True)
        return 0


# Contract metrics, in BENCHMARK.json order.  ``op`` is the request
# behind ``op_p50_s`` and ``ingest`` the op behind ``ingest_per_s`` (see
# workloads.Workload).
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("ingest_per_s", "1/s"),
]
PER_LAYER = [
    ("session.get_spark.s", "s"),
    ("tables.load_table.s", "s"),
    ("tables.spread.s", "s"),
    ("op.s", "s"),
    ("op.self_s", "s"),
    ("op.jobs", "count"),
    ("op.stages", "count"),
    ("op.tasks", "count"),
    ("op.driver_gap_s", "s"),
    ("op.shuffle_mb", "MB"),
    ("ingest.s", "s"),
    ("ingest.jobs", "count"),
    ("ingest.driver_gap_s", "s"),
    ("ingest.shuffle_mb", "MB"),
    ("report.pass.s", "s"),
    ("report.pass.jobs", "count"),
    ("report.pass.driver_gap_s", "s"),
    ("etl.gdelt.build_core.s", "s"),
    ("etl.gdelt.qa_summary.s", "s"),
    ("etl.analysis.s", "s"),
    ("ml.pipeline.fit_binary_lr.s", "s"),
    ("ml.pipeline.fit_binary_lr.jobs", "count"),
    ("nlp.queries.modality_shares_by_lang.s", "s"),
    ("ml.tfidf.fit_transform_tfidf.s", "s"),
    ("reports.markdown.s", "s"),
    ("trace.overhead_ratio", "ratio"),
]


def _round(v):
    return round(v, 5) if isinstance(v, float) else v


def emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def emit_chunked(tag: dict, key: str, data: dict) -> None:
    """Print ``data`` as several lines, each under LINE_LIMIT characters."""
    chunk: dict = {}
    for k, v in data.items():
        if chunk and len(json.dumps({**tag, key: {**chunk, k: v}})) > LINE_LIMIT:
            emit({**tag, key: chunk})
            chunk = {}
        chunk[k] = v
    if chunk:
        emit({**tag, key: chunk})


if __name__ == "__main__":
    sys.exit(main())
