#!/usr/bin/env python3
"""perfbench — closed-loop benchmark of the ncbi_analysis_spark engine.

One driver process, one client: the next op is sent only when the
previous one has returned, on a Spark session at local[nproc]. A workload
has two jobs whose ops are sent in turn; a round is one op of each.
Inputs are generated from ``--seed`` before the clock starts; the first
two rounds are an untimed warm-up; every op ends in an action and its
result is checked outside the timed window (a failed check is a failed
op).

    python3 perfbench/run.py --workload genomics --seed 1 --seconds 15 --trace 0

Prints every metric by name with its unit and the timed-op count, then, as
the last line, one JSON object {correct, attempted, failed, metrics}. With
``--trace 0`` the metrics are the end-to-end set; with ``--trace 1`` the
per-layer set, from ops split at layer boundaries inside spans (written to
``.perfbench_out/``). Run from the root of a checkout of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Cost is gated on process-tree CPU seconds (driver, JVM, Python workers),
# not wall time: on the shared 4-vCPU host this was built on, hypervisor
# steal reached 17-24 % under load, and the CPU figures spread less from
# run to run (perfbench/README.md, "Steadiness"). CPU seconds also count
# parallel work that wall time hides. setup_s is the CPU seconds of
# session start + input generation + load + the warm-up rounds. Wall
# figures are measured, printed and reported per layer as wall.*. Peak
# RSS is reported per layer too: it moves with how many Python workers
# Spark happens to fork.
END_TO_END = {"round_cpu_s_p50": "s", "items_per_cpu_s": "1/s", "setup_s": "s"}

# time metrics "<layer>_s" are the median per-round total of the spans "<layer>"
PER_LAYER = {
    "session.start_s": "s",
    "host.ctrl_s_p50": "s",
    "wall.setup_s": "s",
    "wall.round_s_p50": "s",
    "wall.items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "sources.genbank_parse_s": "s",
    "sources.genbank_bytes_per_s": "B/s",
    "sources.genes_out": "count",
    "plans.chunk_s": "s",
    "plans.chunks_out": "count",
    "similarity.score_s": "s",
    "similarity.offsets_scored": "count",
    "similarity.candidates_out": "count",
    "similarity.candidate_ratio": "ratio",
    "operators.suppress_topk_s": "s",
    "plans.locate_s": "s",
    "operators.asof_s": "s",
    "operators.overlap_join_s": "s",
    "operators.overlap_pairs_tested": "count",
    "operators.overlap_pairs_out": "count",
    "operators.overlap_useful_frac": "ratio",
    "operators.exact_dedup_s": "s",
    "operators.lsh_pairs_s": "s",
    "operators.lsh_pairs_out": "count",
    "operators.lsh_true_dup_frac": "ratio",
    "operators.repetition_s": "s",
    "operators.decon_s": "s",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.reused_exchanges": "count",
    "streaming.gates_s": "s",
    "streaming.job_s": "s",
    "streaming.rows_in": "count",
    "streaming.rows_out": "count",
    "streaming.bytes_written": "B",
    "streaming.checkpoint_bytes": "B",
    "streaming.write_amp": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
}

WARMUP_ROUNDS = 2   # untimed: a job's first op in a cold session costs 2-4x, its second ~1.1x
MIN_ROUNDS = 2      # timed rounds per plain run even when rounds outlast --seconds


def _args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _per_job_sum(rows: list[dict], key: str) -> float:
    from perfbench.metrics import job_median_sum

    return job_median_sum([(r["job"], r[key]) for r in rows])


class Runner:
    """Drives one workload for one run and keeps every measurement."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.ops: list[dict] = []       # timed, untraced ops
        self.traced: list[dict] = []    # traced ops (trace runs only)
        self.errors: list[str] = []
        self.warmup_errors: list[str] = []
        self.requests: dict[str, int] = {}

    def _next(self, job) -> int:
        """The job's next request number (each op gets a fresh one)."""
        k = self.requests.get(job.name, 0)
        self.requests[job.name] = k + 1
        return k

    def setup(self) -> None:
        from perfbench import harness
        from perfbench.workloads import make

        me = os.getpid()
        cpu0, t0 = harness.tree_cpu_s(me), time.perf_counter()
        self.spark = harness.start_session(self.work)
        t1 = time.perf_counter()
        self.session_s = t1 - t0
        self.wl = make(self.args.workload, self.spark, self.args.seed, self.work)
        self.input_hash = self.wl.generate()
        t2 = time.perf_counter()
        self.wl.load()
        t3 = time.perf_counter()
        for _ in range(WARMUP_ROUNDS):
            for job in self.wl.jobs:
                k = self._next(job)
                job.prepare(k)
                self.warmup_errors += [f"{job.name}: {e}" for e in job.check(k, job.op(k))]
        t4 = time.perf_counter()
        self.setup_s = harness.tree_cpu_s(me) - cpu0
        self.setup_wall_s = t4 - t0
        self.setup_parts = {"session_s": self.session_s, "generate_s": t2 - t1,
                            "load_s": t3 - t2, "warmup_s": t4 - t3,
                            "wall_s": self.setup_wall_s, "cpu_s": self.setup_s}

    def _plain(self, job, rss) -> None:
        from perfbench import harness

        me = os.getpid()
        k = self._next(job)
        ctrl = harness.host_ctrl()
        job.prepare(k)
        group = f"perfbench-{job.name}-{k}"
        self.spark.sparkContext.setJobGroup(group, group)
        # the RSS sampler thread's own CPU is the benchmark's, not the op's
        cpu0 = harness.tree_cpu_s(me) - rss.cpu_s
        t = time.perf_counter()
        try:
            result = job.op(k)
            op_s = time.perf_counter() - t
            cpu_s = harness.tree_cpu_s(me) - rss.cpu_s - cpu0
            errors = job.check(k, result)
        except Exception as exc:  # noqa: BLE001 — a raising op is a failed op
            op_s = time.perf_counter() - t
            cpu_s = harness.tree_cpu_s(me) - rss.cpu_s - cpu0
            errors = [f"{type(exc).__name__}: {exc}"]
            traceback.print_exc()
        self.ops.append({"job": job.name, "k": k, "op_s": op_s, "cpu_s": cpu_s,
                         "items": job.items(k) if job.counts_items else 0,
                         "ctrl_s": ctrl, "errors": errors,
                         **harness.job_counts(self.spark, group)})

    def _traced(self, job, spans) -> None:
        from perfbench import harness

        k = self._next(job)
        ctrl = harness.host_ctrl()
        job.prepare(k)
        errors: list[str] = []
        counts: dict = {}
        with spans.span(job.name) as sp:
            try:
                result, counts = job.traced_op(k, spans)
                errors = job.check(k, result)
            except Exception as exc:  # noqa: BLE001 — a raising op is a failed op
                errors = [f"{type(exc).__name__}: {exc}"]
                traceback.print_exc()
        self.traced.append({"job": job.name, "k": k, "round": spans.op,
                            "op_s": sp["end"] - sp["start"],
                            "ctrl_s": ctrl, "errors": errors, "counts": counts})

    def loop(self) -> None:
        """Rounds of one op per job until ``--seconds`` have passed. A traced
        run follows each plain op with a traced op of the same job; a
        round's traced ops share one span op id."""
        from perfbench.harness import RssSampler, Spans

        self.spans = Spans()
        if self.args.trace:
            self.wl.attach_listener()
        min_rounds = 1 if self.args.trace else MIN_ROUNDS
        deadline = time.perf_counter() + self.args.seconds
        rounds = 0
        with RssSampler() as rss:
            while time.perf_counter() < deadline or rounds < min_rounds:
                for job in self.wl.jobs:
                    self._plain(job, rss)
                    if self.args.trace:
                        self.spans.op = rounds
                        self._traced(job, self.spans)
                rounds += 1
        self.rounds = rounds
        self.peak_rss_mb = rss.peak_mb
        self.errors = self.wl.finish()

    def figures(self) -> dict[str, float]:
        """Round-cost figures of the plain timed ops, in CPU and wall time."""
        from perfbench.metrics import round_figures

        cpu = round_figures([(o["job"], o["cpu_s"], o["items"]) for o in self.ops])
        wall = round_figures([(o["job"], o["op_s"], o["items"]) for o in self.ops])
        return {"round_cpu_s_p50": cpu[0], "items_per_cpu_s": cpu[1],
                "wall.round_s_p50": wall[0], "wall.items_per_s": wall[1]}

    def metrics(self) -> dict[str, float]:
        from perfbench.metrics import median

        fig = self.figures()
        if not self.args.trace:
            return {"round_cpu_s_p50": fig["round_cpu_s_p50"],
                    "items_per_cpu_s": fig["items_per_cpu_s"], "setup_s": self.setup_s}
        out = {name: 0.0 for name in PER_LAYER}
        by_round: dict[str, dict[int, float]] = {}
        for t in self.traced:
            for name, v in t["counts"].items():
                cell = by_round.setdefault(name, {})
                cell[t["round"]] = cell.get(t["round"], 0) + v
        for name in PER_LAYER:
            if name.endswith("_s") and (d := self.spans.per_op(name[:-2])):
                out[name] = median(d)
            if name in by_round:
                out[name] = median(list(by_round[name].values()))
        for name in ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks"):
            out[name] = _per_job_sum(self.ops, name)
        out["session.start_s"] = self.session_s
        out["wall.setup_s"] = self.setup_wall_s
        out["wall.round_s_p50"] = fig["wall.round_s_p50"]
        out["wall.items_per_s"] = fig["wall.items_per_s"]
        out["peak_rss_mb"] = self.peak_rss_mb
        out["host.ctrl_s_p50"] = median([o["ctrl_s"] for o in self.ops + self.traced])
        out["trace.overhead_s"] = (_per_job_sum(self.traced, "op_s")
                                   - _per_job_sum(self.ops, "op_s"))
        return out

    def layer_shares(self) -> list[tuple[str, str, float, float, float]]:
        """(job, span, wall s, CPU s, CPU share) per layer span of the traced
        ops, medians over rounds; the share is of the job's plain-op CPU
        median, the cost the gated figure is built from."""
        from perfbench.metrics import median

        top: dict[int, str] = {}
        acc: dict[tuple[str, str], dict[int, list[float]]] = {}
        for idx, r in enumerate(self.spans.rows):
            top[idx] = r["name"] if r["parent"] is None else top[r["parent"]]
            if r["parent"] is None or r["end"] is None:
                continue
            cell = acc.setdefault((top[idx], r["name"]), {})
            w, c = cell.get(r["op"], [0.0, 0.0])
            cell[r["op"]] = [w + r["end"] - r["start"], c + r["cpu_end"] - r["cpu_start"]]
        plain = {j: median([o["cpu_s"] for o in self.ops if o["job"] == j])
                 for j in {o["job"] for o in self.ops}}
        out = []
        for (job, name), cell in acc.items():
            wall = median([v[0] for v in cell.values()])
            cpu = median([v[1] for v in cell.values()])
            out.append((job, name, wall, cpu, cpu / plain[job]))
        return out

    def report(self) -> dict:
        from perfbench.metrics import median, tail_percentile

        metrics = self.metrics()
        units = PER_LAYER if self.args.trace else END_TO_END
        ops = self.ops + self.traced
        failed = sum(bool(o["errors"]) for o in ops)
        run_errors = self.warmup_errors + self.errors
        if run_errors:
            failed = len(ops)   # a failed once-per-run check fails the run's ops
        a = self.args
        print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} "
              f"loop=closed clients=1 master=local[{os.cpu_count()}] inputs={self.input_hash}")
        print("  setup: " + " ".join(f"{k}={v:.3f}" for k, v in self.setup_parts.items()))
        n = f"timed ops={len(self.ops)}, rounds={self.rounds}"
        for name, value in metrics.items():
            print(f"  {name:32s} {value:>16.6g} {units[name]:6s} ({n})")
        if not a.trace:
            fig = self.figures()
            fig["peak_rss_mb"] = self.peak_rss_mb
            fig["wall.setup_s"] = self.setup_wall_s
            for name in ("wall.setup_s", "wall.round_s_p50", "wall.items_per_s", "peak_rss_mb"):
                print(f"  {name:32s} {fig[name]:>16.6g} {PER_LAYER[name]:6s} ({n}, not gated)")
            ctrl = [o["ctrl_s"] for o in ops]
            print(f"  {'host.ctrl_s_p50':32s} {median(ctrl):>16.6g} s      (n={len(ctrl)})")
        for job in self.wl.jobs:
            mine = [o for o in self.ops if o["job"] == job.name]
            for unit, key in (("s", "op_s"), ("s", "cpu_s")):
                xs = [o[key] for o in mine]
                tail = tail_percentile(xs)
                print(f"  {job.name} {key}: p50 = {median(xs):.6g} {unit}, tail "
                      + (f"p{tail[0]} = {tail[1]:.6g} {unit}" if tail
                         else f"n/a (needs >= 40 timed ops, have {len(xs)})"))
        if a.trace:
            for job, name, wall, cpu, share in self.layer_shares():
                print(f"  layer {job}/{name:28s} wall {wall:8.3f} s  cpu {cpu:8.3f} s  "
                      f"= {share:6.1%} of a plain op's CPU")
        for o in ops:
            for e in o["errors"]:
                print(f"  FAILED {o['job']} op {o['k']}: {e}")
        for e in run_errors:
            print(f"  FAILED run check: {e}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({"inputs": self.input_hash, "setup": self.setup_parts, "ops": self.ops,
                       "traced": self.traced, "run_errors": run_errors, "metrics": metrics}, f)
        if a.trace:
            self.spans.dump(stem + ".spans.jsonl")
        return {
            "correct": failed == 0 and not run_errors,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


def main(argv=None) -> int:
    # SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import ncbi_analysis_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    args = _args(argv)
    # Python workers import the engine by name, so they need the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    runner = Runner(args, work)
    try:
        runner.setup()
        runner.loop()
        result = runner.report()
    finally:
        if getattr(runner, "spark", None) is not None:
            harness.stop_session(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
