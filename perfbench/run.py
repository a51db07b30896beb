"""Dedup benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload full_long --seed 1 --seconds 5 --trace 0

Run from the repository root. Stages the seeded inputs, starts the Spark
session (and on the stream workload builds the warm index), then makes
calls in a closed loop for `--seconds`, at least one, and checks every
call's output against the planted duplicate pairs. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With `--trace 1` the
metrics are the per-layer numbers of a traced run instead (tracing.py).
Everything the run writes stays under perfbench/.work/.
"""

from __future__ import annotations

import time

T_START = time.time()

from probes import cpu_ticks  # noqa: E402

TICKS_START = cpu_ticks()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# end-to-end metric name -> (unit, better)
E2E_METRICS = {
    "docs_per_s": ("docs/s", "higher"),
    "batch_p50_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "pair_recall": ("ratio", "higher"),
    "success_rate": ("ratio", "higher"),
}


def _confine_scratch(tmp: str) -> None:
    """Point every temp and spill directory of Python, Spark and the JVM
    into the run's own directory; must run before the JVM starts."""
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


class Checks:
    """Correctness of every call: planted-pair recall, complete and
    unique doc ids, and a partition fingerprint equal to `reference`, the
    one an earlier run of the same code, workload and seed recorded (or,
    on the first such run, the one its first call produced)."""

    def __init__(self, truth_path: str, classes, n_docs: int, reference: str | None):
        import pandas as pd
        from probes import catchable

        self.pairs = catchable(pd.read_parquet(truth_path), classes)
        self.n_docs = n_docs
        self.reference = reference
        self.recalls: list[float] = []
        self.fingerprints: list[str] = []

    def ok(self, sample) -> bool:
        from probes import RECALL_FLOOR, fingerprint, pair_recall

        a = sample.assignments
        recall = pair_recall(a, self.pairs)
        fp = fingerprint(a)
        self.recalls.append(recall)
        self.fingerprints.append(fp)
        if self.reference is None:
            self.reference = fp
        complete = len(a) == self.n_docs and a["doc_id"].nunique() == self.n_docs
        return complete and recall >= RECALL_FLOOR and fp == self.reference


def run(args) -> dict:
    from workloads import WORKLOADS, stage_workload

    w = WORKLOADS[args.workload].scaled(args.scale)
    t0 = time.time()
    staged = stage_workload(w, WORK, args.seed)
    stage_s = time.time() - t0
    scratch = tempfile.mkdtemp(prefix=f"{w.name}-", dir=os.path.join(WORK, "runs"))
    try:
        return _run(args, w, staged, stage_s, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(args, w, staged, stage_s: float, scratch: str) -> dict:
    import statistics

    from deduplication_spark import get_spark
    from probes import (FingerprintStore, JobMarks, RssSampler, code_digest, steal_share,
                        stop_spark)
    from workloads import runner

    log_dir = os.path.join(scratch, "eventlog")
    conf = None
    if args.trace:
        from tracing import eventlog_conf

        os.makedirs(log_dir)
        conf = eventlog_conf(log_dir)

    cores = len(os.sched_getaffinity(0))
    t_session = time.time()
    spark = get_spark(cores=cores, extra_conf=conf)
    session_s = (t_session, time.time())
    spark.sparkContext.setLogLevel("ERROR")
    code = code_digest(ROOT, repr(w))
    detail: dict = {"workload": w.name, "seed": args.seed, "trace": args.trace,
                    "code": code, "n_docs": staged.n_docs, "stage_s": stage_s}
    store = FingerprintStore(os.path.join(WORK, "fingerprints"))
    fp_key = f"{w.name}-seed{args.seed}-{code}"
    try:
        marks = JobMarks(spark)
        r = runner(spark, w, staged, scratch)
        checks = Checks(staged.truth, w.classes, staged.n_docs, store.get(fp_key))
        per_call = 1 if w.n_base is None else w.n_batches
        attempted = failed = 0
        samples, jobs, steal = [], [], []

        def call(ctx=None, **kw):
            """One call, its jobs bracketed by markers outside `ctx`.
            Returns the sample and its wall time net of CPU steal."""
            nonlocal attempted, failed
            a = marks.mark()
            ticks = cpu_ticks()
            t = time.perf_counter()
            attempted += per_call
            try:
                with ctx or contextlib.nullcontext():
                    s = r.once(**kw)
            except Exception:  # noqa: BLE001 — a failed call is counted, not fatal
                traceback.print_exc()
                failed += per_call
                return None, time.perf_counter() - t
            steal.append(steal_share(ticks, cpu_ticks()))
            jobs.append(marks.between(a, marks.mark()))
            if not checks.ok(s):
                failed += per_call
            samples.append(s)
            return s, s.wall_s * (1 - steal[-1])

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.add("session", *session_s)
        # the stream's full run is its base run, traced cold
        with (tracer.span("pipeline") if tracer and w.n_base is not None
              else contextlib.nullcontext()):
            r.prepare()
        setup_s = time.time() - T_START - stage_s
        setup_steal = steal_share(TICKS_START, cpu_ticks())
        detail.update(setup_s=setup_s, setup_steal=setup_steal)
        detail["session_s"] = session_s[1] - session_s[0]

        if args.trace:
            trace_out = traced(spark, w, r, staged, scratch, call, tracer,
                               untraced_wall(w.name, args.seed, code))
        else:
            with RssSampler() as rss:
                t_end = time.time() + args.seconds
                while time.time() < t_end:  # calls start until --seconds pass
                    call()
            if not samples:
                raise RuntimeError("every timed call failed; see the tracebacks above")
            # times net of CPU steal (see probes.steal_share): the host's
            # neighbours took 1-37% of its CPU time, varying by minute
            net = [1 - x for x in steal]
            metrics = {
                "docs_per_s": statistics.median(
                    s.docs / (s.wall_s * k) for s, k in zip(samples, net)),
                "batch_p50_s": statistics.median(
                    b * k for s, k in zip(samples, net) for b in s.batch_s),
                "setup_s": setup_s * (1 - setup_steal),
                "peak_rss_mb": rss.peak_py / 2**20,
                "pair_recall": min(checks.recalls),
                "success_rate": 1 - failed / attempted,
            }
            detail["jvm_peak_rss_mb"] = rss.peak_jvm / 2**20
        detail.update(calls_s=[s.wall_s for s in samples], jobs=jobs, steal=steal,
                      recalls=checks.recalls, fingerprints=checks.fingerprints)
    finally:
        stop_spark(spark)
    if failed == 0 and store.get(fp_key) is None:
        store.put(fp_key, checks.reference)
    if args.trace:
        from tracing import layer_metrics

        counts, tracer, overhead = trace_out
        metrics = layer_metrics(tracer, log_dir, counts, cores, overhead)
        span_file = os.path.join(WORK, "traces",
                                 f"{w.name}-seed{args.seed}-{os.getpid()}.jsonl")
        os.makedirs(os.path.dirname(span_file), exist_ok=True)
        tracer.write(span_file, counts)
        print(f"spans: {os.path.relpath(span_file, ROOT)}", file=sys.stderr)
    if args.trace:
        from tracing import LAYER_METRICS as units
    else:
        units = E2E_METRICS
    metrics = {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()}
    detail["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{w.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def untraced_wall(workload: str, seed: int, code: str) -> float | None:
    """Median call wall time, net of CPU steal, of the `--trace 0` run of
    the same workload, seed and code, if one has been made."""
    import statistics

    path = os.path.join(WORK, "results", f"{workload}-seed{seed}-trace0.json")
    try:
        with open(path) as f:
            d = json.load(f)
    except FileNotFoundError:
        return None
    if d.get("code") != code or not d.get("calls_s") or "steal" not in d:
        return None
    return statistics.median(t * (1 - x) for t, x in zip(d["calls_s"], d["steal"]))


def traced(spark, w, r, staged, scratch, call, tracer, untraced_s):
    """The workload's call under a span, as `--trace 0` makes it, then the
    layer decomposition. Returns (counts, tracer, tracing_overhead).

    tracing_overhead is (traced call - untraced call) / untraced call,
    both net of CPU steal, the untraced call being the `--trace 0` run
    of the same seed and code; without one it is the spans' own
    bookkeeping time over the traced call, which leaves out the event
    log."""
    from tracing import decompose, split_fixture

    stream = w.n_base is not None
    e2e, net_s = call(tracer.span("stream" if stream else "pipeline"), keep=True)
    if e2e is None:
        raise RuntimeError("the traced call failed; see the traceback above")
    if untraced_s is not None:
        overhead = (net_s - untraced_s) / untraced_s
    else:
        print("no --trace 0 run of this seed and code: tracing_overhead is the "
              "span bookkeeping only", file=sys.stderr)
        overhead = tracer.bookkeeping_s / e2e.wall_s
    if stream:
        res, docs_path, fx, drained = r.result, staged.base, r.fixture, e2e
    else:
        res, docs_path, drained = r.result, staged.docs, None
        fx = split_fixture(spark, w.cfg, docs_path, res,
                           os.path.join(scratch, "split"))
    counts = decompose(spark, tracer, w.cfg, docs_path, res, fx, drained,
                       os.path.join(scratch, "layers"))
    return counts, tracer, overhead


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply the workload's doc count (smoke tests)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "deduplication_spark")):
        print(f"no deduplication_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    _confine_scratch(tmp)
    try:
        out = run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
