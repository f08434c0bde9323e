"""crawspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_rounds --seed 42 \\
        --seconds 6 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``perfbench/work/``, starts a fresh Spark session on
``local[<cores>]`` (set-up), times the first operation (cold), then
times operations back to back within ``--seconds`` (warm), and checks
every operation's output against a reference computed without Spark.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run
(spans, Spark status store, in-process oracle replay), and the spans are
written to ``perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

from digest import digest_table, flipped_digest  # noqa: E402
from layers import PER_LAYER, per_layer  # noqa: E402
from procs import (WorkerRss, become_subreaper, reap_all,  # noqa: E402
                   stop_resource_tracker, stop_spark)
from status import RECORD_KEYS, StatusReader  # noqa: E402
from tracing import Tracer, instrument_oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s.p50": "s",
    "job_s.tail": "s",
    "docs_per_s": "1/s",
    "py_worker_rss_mb": "MB",
}

_TAIL_LADDER = (99, 95, 90, 75, 50)


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest of p99/p95/p90/p75/p50 whose sample has at least ten
    samples above it, as ``(value, percentile)``; the maximum (percentile
    100) when there are too few samples for any of them."""
    xs = sorted(samples)
    n = len(xs)
    for p in _TAIL_LADDER:
        i = int(n * p / 100)
        if n - i - 1 >= 10:
            return xs[i], float(p)
    return xs[-1], 100.0


def box_env(work: Path) -> dict:
    """The environment every run uses, set before Spark starts: cores
    from the CPU affinity mask (what ``nproc`` prints), a driver heap of a
    quarter of RAM (1-8 GB), Spark's and Python's scratch space inside
    the work directory, and workers on this interpreter."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    heap_gb = max(1, min(8, mem_kb // 2**20 // 4))
    tmp = work / "tmp"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "CRAWSPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        # keep the JVM's temp files (and no hsperfdata) inside the run
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    return env


class OpContext:
    """Passed to a workload's ``op``: ``layer(name)`` records a span and,
    when tracing, runs the layer's jobs under their own job group."""

    def __init__(self, tracer, sc, op_id: str):
        self.tracer = tracer
        self.sc = sc
        self.op_id = op_id
        self.groups: list[str] = []

    @contextlib.contextmanager
    def layer(self, name: str):
        with self.tracer.span(name) as rec:
            if rec is not None:
                group = f"{self.op_id}/{name}"
                self.groups.append(group)
                self.sc.setJobGroup(group, name)
            yield


def _first_task(spark) -> None:
    def identity(batches):
        yield from batches

    spark.range(1, numPartitions=1).mapInArrow(identity, "id long").collect()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "crawspark" / "__init__.py").is_file():
        print(f"crawspark package not found under {ROOT}", file=sys.stderr)
        return 2
    become_subreaper()
    # a SIGTERM unwinds through the clean-up below instead of skipping it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = HERE / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return _run(args, WORKLOADS[args.workload](), work)
    finally:
        # nothing the run started may outlive it
        stop_resource_tracker()
        reap_all()
        shutil.rmtree(work, ignore_errors=True)


class _Measurement:
    """The Spark phase of a run: set-up, then the cold and warm
    operations (and, when tracing, the status records and components)."""

    def __init__(self, wl, trace: bool, tracer):
        self.wl = wl
        self.trace = trace
        self.tracer = tracer
        self.ops: list[dict] = []
        self.outputs: list[tuple] = []  # (operation key, output table)
        self.failed_keys: list = []
        self.components: dict = {}
        self.table_ok = False
        self.spark = None
        self.rss = None
        self.rss_mb = 0.0

    def setup(self) -> None:
        """A fresh session up to its first finished Python task."""
        from crawspark.bundle import ensure_shipped
        from crawspark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark()
            with self.tracer.span("bundle.ensure_shipped"):
                ensure_shipped(self.spark)
            with self.tracer.span("worker.first_task"):
                _first_task(self.spark)
        self.setup_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.status = StatusReader(self.spark) if self.trace else None

    def run_op(self, i: int, kind: str, traced: bool) -> None:
        wl, sc, status = self.wl, self.sc, self.status
        tracer = self.tracer if traced else Tracer("", enabled=False)
        ctx = OpContext(tracer, sc, f"op{i}")
        pinning = status if traced else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with pinning, tracer.span("op", index=i, kind=kind):
                out = wl.op(self.spark, i, ctx)
            wall = time.perf_counter() - t0
            table, extra = wl.capture(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed_keys.append(wl.key(i))
            self.ops.append({"index": i, "kind": kind, "traced": traced,
                             "ok": False})
            return
        self.outputs.append((wl.key(i), table))
        rec = {"index": i, "kind": kind, "traced": traced, "ok": True,
               "wall_s": wall, **extra}
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            t1 = time.perf_counter()
            rec["spark"] = status.collect(ctx.groups)
            append = f"{ctx.op_id}/sources.append"
            if append in ctx.groups:
                rec["append_spark"] = status.collect([append])
            rec["collect_ms"] = (time.perf_counter() - t1) * 1e3
            status.release()
        self.ops.append(rec)

    def measure(self, seconds: float) -> None:
        self.rss = WorkerRss()
        self.rss.start()
        self.run_op(0, "cold", self.trace)
        for i in range(1, 1 + self.wl.warmup_ops):
            self.run_op(i, "warmup", False)
        # Warm operations back to back; the next one starts only if it is
        # expected to end within `seconds` (at least one always runs).
        # Traced runs interleave untraced and traced warm operations in
        # the order U T T U U T T U ..., at least two of each, so that the
        # tracing overhead is not confounded with a warm-up trend.
        start = time.perf_counter()
        n = 0
        while True:
            n += 1
            self.run_op(self.wl.warmup_ops + n, "warm",
                        self.trace and n % 4 in (2, 3))
            elapsed = time.perf_counter() - start
            if elapsed * (n + 1) / n > seconds and (not self.trace or n >= 4):
                break
        if self.trace:
            ctx = OpContext(self.tracer, self.sc, "components")
            with self.status, self.tracer.span("components"):
                self.wl.components(self.spark, ctx)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            for group in ctx.groups:
                self.components[group.split("/", 1)[1]] = (
                    self.status.collect([group]))
            self.status.release()
        try:
            self.table_ok = self.wl.final_check(self.spark)
        except Exception:
            traceback.print_exc(file=sys.stderr)

    def stop(self) -> None:
        if self.rss is not None:
            self.rss_mb = self.rss.stop()
        stop_spark(self.spark)


def _run(args, wl, work: Path) -> int:
    env = box_env(work)
    os.chdir(work)
    load_before = os.getloadavg()
    trace = bool(args.trace)
    tracer = Tracer(f"{wl.name}-{args.seed}-{os.getpid()}", enabled=trace)

    t = time.perf_counter()
    wl.prepare(str(work), args.seed)
    gen_s = time.perf_counter() - t

    m = _Measurement(wl, trace, tracer)
    try:
        m.setup()
        m.measure(args.seconds)
    finally:
        m.stop()
    ops = m.ops

    # -- digests and references, after Spark has exited -----------------
    cpus = int(env["SPARK_GRAFT_CPUS"])
    with multiprocessing.get_context("spawn").Pool(cpus) as pool:
        digests = pool.map_async(digest_table, [tbl for _, tbl in m.outputs])
        # self-check: a changed output value must count as a failure
        flipped = (pool.apply_async(flipped_digest, (m.outputs[-1][1],))
                   if m.outputs else None)
        if trace:  # the traced replay runs in this process: keep it alone
            for job in (digests, flipped):
                if job is not None:
                    job.wait()
        t = time.perf_counter()
        keys = [wl.key(o["index"]) for o in ops]
        counts: dict = {}
        with contextlib.ExitStack() as stack:
            if trace:
                stack.enter_context(tracer.span("reference"))
                counts = stack.enter_context(instrument_oracle(tracer))
            refs = wl.references(keys, tracer, pool)
        reference_s = time.perf_counter() - t
        digests = digests.get()
        flipped = flipped.get() if flipped is not None else None
        pool.close()
        pool.join()
    attempted = len(ops)
    failed = attempted
    if m.table_ok:
        failed = len(m.failed_keys) + sum(
            d != refs[key] for (key, _), d in zip(m.outputs, digests))
    flip_caught = (flipped is not None
                   and flipped != refs[m.outputs[-1][0]])
    # self-check: every status record has exactly the pinned schema
    records = [o[k] for o in ops for k in ("spark", "append_spark") if k in o]
    records += list(m.components.values())
    schema_ok = all(sorted(r) == sorted(RECORD_KEYS) and all(
        isinstance(v, (int, float)) for v in r.values()) for r in records)

    warm = [o["wall_s"] for o in ops
            if o["kind"] == "warm" and o["ok"] and not o["traced"]]
    cold = [o for o in ops if o["kind"] == "cold" and o["ok"]]
    result = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "warmup_ops": wl.warmup_ops,
        "gen_s": gen_s, "reference_s": reference_s,
        "attempted": attempted, "failed": failed, "table_ok": m.table_ok,
        "flip_check_caught": flip_caught, "record_schema_ok": schema_ok,
        "ops": ops, "components": m.components, "oracle_counts": counts,
        "end_to_end": {},
    }
    if warm and cold:
        p50 = statistics.median(warm)
        tail_v, result["tail_percentile"] = tail(warm)
        result["warm_samples"] = len(warm)
        result["end_to_end"] = {
            "setup_s": m.setup_s,
            "cold_job_s": cold[0]["wall_s"],
            "job_s.p50": p50,
            "job_s.tail": tail_v,
            "docs_per_s": wl.docs_per_op / p50,
            "py_worker_rss_mb": m.rss_mb,
        }
    if trace:
        result["per_layer"] = per_layer(wl, result, tracer)
        out_metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                       for k, v in result["per_layer"].items()}
    else:
        out_metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in result["end_to_end"].items()}

    results = HERE / "results"
    results.mkdir(exist_ok=True)
    stem = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    with open(results / f"{stem}.json", "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    if trace:
        tracer.dump(str(results / f"{stem}.spans.json"))

    _report(result)
    if not flip_caught:
        print("self-check failed: a flipped output value was not counted",
              file=sys.stderr)
    if not schema_ok:
        print("self-check failed: a status record left the pinned schema",
              file=sys.stderr)
    correct = (failed == 0 and flip_caught and schema_ok
               and bool(result["end_to_end"]))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


def _report(result: dict) -> None:
    print(f"workload {result['workload']} seed {result['seed']} "
          f"trace {result['trace']}: attempted {result['attempted']} "
          f"failed {result['failed']} "
          f"failed_frac {result['failed'] / result['attempted']:.4f}")
    print("  env: " + " ".join(f"{k}={result['env'][k]}" for k in (
        "SPARK_GRAFT_CPUS", "CRAWSPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")))
    print(f"  loadavg before {result['loadavg_before']} "
          f"after {result['loadavg_after']}")
    print(f"  inputs: gen_s {result['gen_s']:.3f}  "
          f"reference_s {result['reference_s']:.3f}")
    n = result.get("warm_samples", 0)
    print(f"  untimed warm-up operations: {result['warmup_ops']}")
    for k, v in result["end_to_end"].items():
        extra = "  (n=1)"
        if k == "job_s.tail":
            extra = f"  (p{result['tail_percentile']:g} of n={n})"
        elif k in ("job_s.p50", "docs_per_s"):
            extra = f"  (n={n})"
        elif k == "py_worker_rss_mb":
            extra = "  (peak)"
        print(f"  {k:<20} {v:14.4f} {END_TO_END[k]}{extra}")
    for k, v in result.get("per_layer", {}).items():
        print(f"  {k:<40} {v:16.4f} {PER_LAYER[k]}")


if __name__ == "__main__":
    sys.exit(main())
