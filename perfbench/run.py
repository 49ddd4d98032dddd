"""KG-construction benchmark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Run from the repository root. It builds the workload's inputs from the
seed (once per seed, with their DuckDB oracles) and sets up cold, as a
production run does: it launches a JVM with the production session
(``sources.session.get_spark`` on ``local[nproc]``) and loads the corpus.
It then measures iterations for ``--seconds``, at least one; the first
runs in that fresh JVM. Every iteration's output is checked against the
oracle. See perfbench/README.md.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
iterations under spans and Spark job groups with the event log on, and
prints the per-layer metrics instead.

Human-readable lines come first; the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. The exit code
is 0 only when every operation gave the oracle's answer.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a CPU reference reading that changes by more than this factor during a
# run flags host drift
DRIFT_RATIO = 1.25


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, workload, inp, work, seconds, trace, log_dir):
        self.w, self.inp = workload, inp
        self.work, self.seconds, self.trace = work, seconds, trace
        self.log_dir = log_dir
        self.spark = None
        self.setup_s = self.session_s = 0.0
        self.attempted = self.failed = 0
        self.steal: list[float] = []

    def _start(self, log_events):
        """Start the production session, launching the JVM if none runs;
        returns the seconds it took."""
        from palladian_spark.sources.session import get_spark
        from tracing import event_log_conf

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.w.name}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keep the JVM's scratch files inside the checkout
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
                **(event_log_conf(self.log_dir) if log_events else {}),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def setup(self):
        """The cold set-up, as a production run pays it: launch the JVM
        with the session and load the corpus. A traced run's session
        writes the Spark event log."""
        start_s = self._start(self.trace)
        t0 = time.perf_counter()
        self.spark.read.parquet(os.path.join(self.inp["dir"], "documents.parquet")).count()
        self.session_s = start_s
        self.setup_s = start_s + time.perf_counter() - t0

    def restart(self, log_events):
        """Stop the session and start a new one in the same JVM."""
        self.spark.stop()
        self._start(log_events)

    def stop(self):
        from tracing import stop_jvm

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        stop_jvm()

    def iteration(self, tracer=None):
        """One checked iteration: (wall_s, rows_out, [(op, seconds)])."""
        from tracing import cpu_times, no_span, steal_frac

        run_dir = os.path.join(self.work, "iter")
        shutil.rmtree(run_dir, ignore_errors=True)
        before = cpu_times()
        sp = tracer.span if tracer else no_span
        try:
            wall, rows, ops = self.w.iteration(self.spark, self.inp, run_dir, sp, tracer)
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            return None
        self.steal.append(steal_frac(before, cpu_times()))
        self.attempted += len(ops)
        for name, _, ok in ops:
            if not ok:
                self.failed += 1
                print(f"WRONG ANSWER: {self.w.name} {name}", file=sys.stderr)
        return wall, rows, [(name, s) for name, s, _ in ops]

    def measure(self, tracer=None, on_start=None, min_iters=1):
        """Iterations until ``seconds`` have passed (at least ``min_iters``)."""
        out = []
        t_end = time.perf_counter() + self.seconds
        while len(out) < min_iters or time.perf_counter() < t_end:
            if on_start:
                on_start(len(out))
            r = self.iteration(tracer)
            if r is None:
                break
            out.append(r)
        return out


def end_to_end(run, samples, rss_mb):
    walls = [w for w, _, _ in samples]
    ops = [s for _, _, o in samples for _, s in o]
    rates = [rows / w for w, rows, _ in samples]
    m = {
        "wall_s": (median(walls), "s", len(walls)),
        "setup_s": (run.setup_s, "s", 1),
        "rows_per_s": (median(rates), "1/s", len(rates)),
        "op_p50_s": (median(ops), "s", len(ops)),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }
    for k, (v, unit, n) in m.items():
        print(f"{k} = {v:.6g} {unit} (median of {n})")
    for line in run.w.report():
        print(line)
    return {k: {"value": v, "unit": unit} for k, (v, unit, _) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size override (the smoke self-test uses a tiny one)")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "palladian_spark", "pipeline.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: engine sources not found beside perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the engine defaults to an 8 GB JVM heap; these inputs need far
    # less, and a smaller heap keeps the JVM's resident size steady
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    from inputs import corpus_dir, ensure_corpus, ensure_oracles
    from tracing import RssSampler, cpu_reference_s, host_fingerprint
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    if args.docs:
        w.n_docs = args.docs
    inp = {"dir": corpus_dir(work, args.seed, w.n_docs)}

    load_before, ref_before = os.getloadavg(), cpu_reference_s()
    run = Run(w, inp, os.path.join(work, f"run-{os.getpid()}"), args.seconds,
              bool(args.trace), os.path.join(work, f"eventlog-{w.name}"))
    shutil.rmtree(run.log_dir, ignore_errors=True)
    try:
        # not timed: the corpus and its DuckDB oracles, once per seed
        ensure_corpus(inp["dir"], args.seed, w.n_docs)
        inp.update(ensure_oracles(inp["dir"], w.oracles))
        print("inputs", json.dumps({k: v for k, v in inp.items() if k != "dir"}))
        with RssSampler() as rss:
            run.setup()
            fp = host_fingerprint(run.spark)
            if args.trace:
                metrics = traced(run, work)
            else:
                metrics = end_to_end(run, run.measure(), rss.peak_mb)
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
    ref_after = cpu_reference_s()
    drift = ref_after / ref_before
    fp.update(loadavg_before=load_before, loadavg_after=os.getloadavg(),
              cpu_reference_s=[round(ref_before, 4), round(ref_after, 4)],
              host_drift=not 1 / DRIFT_RATIO <= drift <= DRIFT_RATIO,
              steal_per_iteration=[round(s, 4) for s in run.steal])
    print("host", json.dumps(fp))
    if fp["host_drift"]:
        print(f"perfbench: HOST DRIFT: the CPU reference reading changed {drift:.2f}x "
              "during the run; set its timings aside", file=sys.stderr)
    print(f"failed_frac = {run.failed / max(run.attempted, 1):.6g} "
          f"({run.failed} of {run.attempted} operations)")
    ok = run.failed == 0 and run.attempted > 0
    print(json.dumps({"correct": ok, "attempted": max(run.attempted, 1),
                      "failed": run.failed if run.attempted else 1, "metrics": metrics}))
    return 0 if ok else 1


def traced(run, work):
    """Per-layer metrics of the cold iteration, run under spans and job
    groups with the event log on. For the tracing overhead, the session
    restarts in the same JVM and a warm iteration runs traced; it restarts
    again without the event log and a warm iteration runs untraced. Both
    refill the Python workers after their restart; the untraced one runs
    later, in a warmer JVM."""
    from layers import per_layer
    from tracing import Tracer, fold_event_log

    tracer = Tracer(run.spark.sparkContext)
    kept: list[dict] = []

    def start(_):
        tracer.prefix = f"it{len(kept)}/"
        tracer.spans = []
        kept.append({"spans": tracer.spans, "prefix": tracer.prefix})

    cold = run.measure(tracer, start)[0][0]
    extra = run.w.layer_counts(run.spark, os.path.join(run.work, "iter"))
    run.restart(log_events=True)
    tracer.sc = run.spark.sparkContext
    warm_traced = run.measure(tracer, start)[0][0]
    run.restart(log_events=False)  # stops the traced session, which flushes its log
    warm_untraced = run.measure()[0][0]
    groups = fold_event_log(run.log_dir)
    m = per_layer(run, tracer, kept[:1], groups, extra, cold, warm_traced, warm_untraced)
    for line in run.w.report():
        print(line)
    print("self time of the traced cold iteration, per layer:")
    for k, v in sorted(m.items(), key=lambda kv: -kv[1]):
        if k.startswith("self_s.") and v > 0:
            print(f"  {k[len('self_s.'):]}: {v:.4g} s ({v / cold:.1%})")
    full = os.path.join(work, f"trace-{run.w.name}.json")
    with open(full, "w", encoding="utf-8") as f:
        json.dump({"layers": m, "groups": groups}, f, indent=1, sort_keys=True)
    print(f"trace written to {os.path.relpath(full, ROOT)}")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        units = {x["name"]: x["unit"] for x in json.load(f)["per_layer"]}
    missing = [k for k in units if k not in m]
    if missing:
        print(f"perfbench: per-layer metrics not computed: {missing}", file=sys.stderr)
    for k, unit in units.items():
        if k in m:
            print(f"{k} = {m[k]:.6g} {unit}")
    return {k: {"value": m[k], "unit": unit} for k, unit in units.items() if k in m}


if __name__ == "__main__":
    sys.exit(main())
