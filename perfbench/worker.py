"""One benchmark run inside one Spark application process: seeded inputs
and oracle answers before the clock, an untimed JVM launch, one timed
set-up, an untimed warm-up, then a closed loop (one client) of verified
ops for ``--seconds``, or a fixed count of ops that take about as long.
Prints one JSON result as its last stdout line.  ``run.py`` starts it
with the hidden state pinned; run that, not this file.

With ``--trace 1`` the loop alternates traced and untraced ops (T U T:
with three ops on a growing store, the traced ones straddle the
untraced one), times each layer call of the traced ops from outside, and
reports per-layer medians plus the traced-vs-untraced overhead."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from workloads import WORKLOADS, GraphIterate

#: metric name -> unit, printed with --trace 0
END_TO_END = {"latency_p50_s": "s", "throughput_ops": "1/s", "setup_s": "s"}

#: metric name -> unit, printed with --trace 1.  A layer the workload
#: never calls reads 0.
PER_LAYER = {
    "setup.session_s": "s",
    "setup.store_open_s": "s",
    "setup.stats_s": "s",
    "setup.graph_artifacts_s": "s",
    "setup.bootstrap_drain_s": "s",
    "setup.warmup_s": "s",
    **{f"lookup.{k}_s": "s" for k in ("parse", "translate", "plan", "exec")},
    **{f"lookup.{k}": "count" for k in ("jobs", "stages", "tasks")},
    **{f"graph.{e}_{k}": u for e in GraphIterate.ENTRIES
       for k, u in (("s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"))},
    "ingest.drain_s": "s",
    **{f"ingest.drain_{k}": "count" for k in ("jobs", "stages", "tasks")},
    "ingest.triples_per_s": "1/s",
    "ingest.read_s": "s",
    "ingest.reopen_s": "s",
    **{f"ingest.{k}_s": "s" for k in ("parse", "translate", "plan", "exec")},
    **{f"ingest.{k}": "count" for k in ("jobs", "stages", "tasks")},
    "ingest.store_files": "count",
    "ingest.stored_bytes_ratio": "ratio",
    "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.unaccounted_frac": "ratio",
}


class Tracer:
    """Times layer calls and counts the Spark jobs, stages and tasks an
    op ran, from outside the engine.  Off, every hook is a no-op, so an
    untraced op makes exactly the calls a user would make."""

    def __init__(self, spark, on: bool):
        self.on = on
        self._sc = spark.sparkContext
        self.layers: dict[str, float] = defaultdict(float)
        self._groups = 0

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.layers[name] += time.perf_counter() - t0

    @contextmanager
    def jobs(self, prefix: str):
        """Count what runs inside the block under a fresh job group."""
        if not self.on:
            yield
            return
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self._sc.setJobGroup(group, prefix)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            self.count_group(prefix, group)

    def count_group(self, prefix: str, group: str) -> None:
        """Add the jobs of ``group`` and their stages and tasks that ran
        (skipped stages ran no task) to ``<prefix>jobs|stages|tasks``."""
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        self.layers[f"{prefix}jobs"] += len(jobs)
        self.layers[f"{prefix}stages"] += stages
        self.layers[f"{prefix}tasks"] += tasks


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # fields past steal are guest time, already counted in user time
    return fields[7], sum(fields[:8])


def _setup(wl) -> dict:
    """Launch the JVM on an untimed session and stop it, then set the
    workload up once on a new session; return the step times and total."""
    from dream_spark import get_spark

    # the stopped session stays referenced, so no later session can
    # reuse its id() in the engine's per-session memos
    wl.launch = get_spark("perfbench")
    wl.launch.stop()
    steps = {}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    steps["session"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    wl.setup(spark, steps)
    steps["total"] = time.perf_counter() - t0
    return steps


def run(args) -> dict:
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, args.work)
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    setup = _setup(wl)
    ok = wl.check_setup()

    untraced = Tracer(wl.spark, False)
    t0 = time.perf_counter()
    for i in range(wl.warmup_ops):
        ok = wl.op(wl.request(i), untraced) and ok
    warmup_s = time.perf_counter() - t0

    traced = Tracer(wl.spark, True)
    ops = []  # (latency, traced, layer times) per timed op
    failed = 0
    i = wl.warmup_ops
    steal0, total0 = _cpu_ticks()
    start = time.perf_counter()
    # a fixed op count runs in full unless the host is so slow that
    # twice --seconds pass first
    cap = args.seconds if wl.timed_ops is None else 2 * args.seconds
    while time.perf_counter() - start < cap and len(ops) != wl.timed_ops:
        tr = traced if args.trace and len(ops) % 2 == 0 else untraced
        tr.layers = defaultdict(float)
        req = wl.request(i)
        t1 = time.perf_counter()
        try:
            good = wl.op(req, tr)
        except Exception as exc:  # a failing op is counted, not fatal
            print(f"op {i} failed: {exc!r}", file=sys.stderr)
            good = False
        ops.append((time.perf_counter() - t1, tr.on, dict(tr.layers)))
        failed += not good
        i += 1
    elapsed = time.perf_counter() - start
    steal1, total1 = _cpu_ticks()
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    info = wl.finish()

    lat = [dt for dt, _, _ in ops]
    end_to_end = {
        "latency_p50_s": statistics.median(lat),
        "throughput_ops": len(ops) / sum(lat),
        "setup_s": setup["total"],
    }
    print(
        f"# {wl.name}: {len(ops)} ops in {elapsed:.2f} s, {failed} failed, steal {steal:.3f}; "
        + ", ".join(f"{k}={v:.4f} {END_TO_END[k]}" for k, v in end_to_end.items())
        + f"; inputs and answers {prepare_s:.2f} s; warm-up {warmup_s:.2f} s"
        + "".join(f"; {k}={v:.4f}" for k, v in info.items())
    )
    print("# op latencies (s): " + " ".join(f"{x:.3f}" for x in lat), file=sys.stderr)
    if not args.trace:
        metrics, units = end_to_end, END_TO_END
    else:
        metrics, units = dict.fromkeys(PER_LAYER, 0.0), PER_LAYER
        for step, dt in setup.items():
            if f"setup.{step}_s" in units:
                metrics[f"setup.{step}_s"] = dt
        metrics["setup.warmup_s"] = warmup_s
        traced_ops = [(dt, layers) for dt, on, layers in ops if on]
        for k in {k for _, layers in traced_ops for k in layers}:
            metrics[k] = statistics.median(layers[k] for _, layers in traced_ops if k in layers)
        metrics.update(info)
        metrics["host.steal_frac"] = steal
        plain = [dt for dt, on, _ in ops if not on]
        if plain:
            metrics["trace.overhead_frac"] = statistics.mean(dt for dt, _ in traced_ops) / statistics.mean(plain) - 1
        metrics["trace.unaccounted_frac"] = 1 - statistics.median(
            sum(layers.get(k, 0.0) for k in wl.blocking_spans) / dt for dt, layers in traced_ops
        )
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from the declared set: {sorted(unknown)}")
    return {
        "correct": ok and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main() -> None:
    # keep stdout (a pipe to run.py) for this process alone: processes it
    # starts, the Spark JVM first, inherit stderr as their stdout, so the
    # pipe closes as soon as this process exits
    sys.stdout = os.fdopen(os.dup(sys.stdout.fileno()), "w", buffering=1)
    os.dup2(sys.stderr.fileno(), 1)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    result = run(ap.parse_args())
    print(json.dumps(result), flush=True)
    # skip interpreter and Spark shutdown: run.py stops the whole process
    # group, JVM included, as soon as this process has exited
    os._exit(0)


if __name__ == "__main__":
    main()
