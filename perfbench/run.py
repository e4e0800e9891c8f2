"""Repository benchmark: one seeded workload per run, closed loop.

    python3 perfbench/run.py --workload link_classic --seed 0 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Each run generates its inputs from ``--seed`` (outside the timers), starts a
Spark session sized for the host, warms the workload up, then runs the job
back to back for ``--seconds`` and checks every output. The last stdout
line is one JSON object; ``--trace 0`` gives the end-to-end metrics and
``--trace 1`` the per-layer ones (see ``tracing.TAGS``). Lines before it
repeat the figures for a reader.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The first run in a fresh JVM is 2-3x the steady wall and the next few
# still drift down as the JVM's JIT compiles Spark's planning code
# (link_classic at 1.5k docs on 4 cores: 25.6, 10.9, 9.0, 8.0, 8.2 s). A
# fixed warm-up count puts every process's measured runs at the same point
# of that drift, so set-up time does not depend on luck.
WARMUP_RUNS = 3
MIN_RUNS = 2
TRACED_PAIRS = 2       # untraced/traced run pairs in the traced run
# the traced run's other workloads start in a JVM the traced workload has
# already warmed: their second run there is at their steady wall
# (near_dup_x4 after link_classic ran 6.2, 4.3, 4.5 s), so one warm-up run
# each is enough, and none after the workload they are ``warmed_by``
# (link_twopass_x4 after link_classic ran 9.6, 9.4, 9.6 s)
OTHER_WARMUP_RUNS = 1
ITER_TIMEOUT_S = 60.0  # a run still going after this is cancelled and failed
RUN_BUDGET_S = 165.0   # start no run that could end past this


def host_control(reps: int = 3) -> float:
    """Fixed work that runs none of the program's code (pure Python and
    numpy): its wall shows how fast the host is right now. It is printed
    beside the metrics and never divides them."""
    import numpy as np

    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 31 + i) % 1_000_003
        m = np.arange(200 * 200, dtype=np.float64).reshape(200, 200) / 4e4
        for _ in range(100):
            m = np.tanh(m @ m.T / 200.0)
        "".join(sorted(str(acc) * 2000))
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Runner:
    """Runs one workload's job in a closed loop and checks each output."""

    def __init__(self, spark, wl, paths, stats, pins, t_start):
        self.spark, self.wl, self.paths, self.stats, self.pins = (
            spark, wl, paths, stats, pins)
        self.t_start = t_start
        self.first = None
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []  # every run that returned, warm-up included
        self.problems: list[str] = []

    def once(self, tracer) -> dict | None:
        """One closed-loop run: wall, CPU split and output; None if it
        raised. A run whose output fails a check is still timed."""
        import procstat

        sc = self.spark.sparkContext
        watchdog = threading.Timer(ITER_TIMEOUT_S, sc.cancelAllJobs)
        self.attempted += 1
        cpu0 = procstat.cpu_by_kind(procstat.tree())
        t0 = time.perf_counter()
        watchdog.start()
        try:
            out = self.wl.run(self.spark, self.paths, tracer)
        except Exception as e:  # noqa: BLE001 — a failed run is a metric
            self.failed += 1
            self.problems.append(f"{self.wl.name}: {type(e).__name__}: {e}"[:300])
            return None
        finally:
            watchdog.cancel()
        wall = time.perf_counter() - t0
        self.walls.append(wall)
        cpu1 = procstat.cpu_by_kind(procstat.tree())
        problems = self.wl.check(out, self.first, self.stats, self.pins)
        if problems:
            self.failed += 1
            self.problems.extend(f"{self.wl.name}: {p}" for p in problems)
        if self.first is None:
            self.first = out
        return {"wall": wall, "out": out,
                "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}}

    def room(self, expect: float) -> bool:
        """Whether a run expected to take ``expect`` seconds ends in budget."""
        return time.time() - self.t_start + expect < RUN_BUDGET_S

    def measure(self, make_tracer, seconds: float, min_runs: int, sampler) -> list:
        """Closed loop until ``seconds`` of measured runs and at least
        ``min_runs`` runs are done; each run records its peak tree RSS."""
        runs = []
        sampler.take_peak()
        while len(runs) < min_runs or sum(r["wall"] for r in runs) < seconds:
            expect = statistics.median(r["wall"] for r in runs) if runs else 10.0
            if not self.room(expect * 1.5):
                break
            it = self.once(make_tracer())
            rss = sampler.take_peak()
            if it is not None:
                runs.append({**it, "rss": rss})
            elif self.failed > 2:
                break
        return runs


def end_to_end(runs: list, setup_s: float) -> dict:
    """The gated metrics: medians over the measured runs."""
    wall = statistics.median(r["wall"] for r in runs)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (statistics.median(sum(r["cpu"].values()) for r in runs), "s"),
        "peak_rss_mb": (statistics.median(r["rss"] for r in runs) / 2**20, "MB"),
    }


def prepare(run_dir: str, seed: int, replicas: int):
    import inputs
    import workloads

    paths = inputs.write_inputs(os.path.join(run_dir, f"inputs_x{replicas}"),
                                seed, workloads.BASE_DOCS, replicas)
    return paths, inputs.input_stats(paths)


def traced_layers(spark, runner, seed, ev_dir, t_start,
                  inputs_by_replicas) -> tuple[dict, list]:
    """The traced run, in a warm session that writes Spark's event log:
    run pairs of untraced and traced runs of the chosen workload (their wall
    difference is the tracing overhead; the event log is on for both, and
    the order alternates so neither run is always the warmer one), then warm
    up every other workload and run it once traced, probe single layers on
    the link_twopass_x4 sides, and derive the per-layer metrics. Returns the
    metrics and the runners, for their checks."""
    import procstat
    import tracing
    import workloads
    from fuzzylink_spark.operators.clustering import connected_components
    from fuzzylink_spark.operators.dedup import lsh_bucket_star_edges

    wl = runner.wl
    sc = spark.sparkContext
    spans, untraced, traced, outs, layers = [], [], [], {}, {}

    def run_traced(r, tag):
        tracer = workloads.Tracer(sc, tag)
        it = r.once(tracer)
        if it is not None:
            spans.extend(tracer.spans)
        return it

    with procstat.Sampler() as sampler:
        for i in range(TRACED_PAIRS):
            for is_traced in ((False, True) if i % 2 == 0 else (True, False)):
                if is_traced:
                    traced.append(run_traced(runner, f"{wl.name}:{i}"))
                else:
                    untraced.append(runner.once(workloads.NullTracer()))
    untraced = [r for r in untraced if r]
    traced = [r for r in traced if r]
    if not untraced or not traced:
        raise RuntimeError("every traced or untraced run raised: "
                           + "; ".join(runner.problems[:3]))
    for kind in ("jvm", "python", "driver"):
        layers[f"proc.{kind}_cpu_s"] = statistics.median(r["cpu"][kind] for r in traced)
    layers["proc.python_workers"] = sampler.max_workers
    outs[wl.name] = traced[-1]["out"]
    runners = [runner]
    for w in workloads.WORKLOADS.values():
        if w is wl:
            continue
        paths, stats = inputs_by_replicas[w.replicas]
        other = Runner(spark, w, paths, stats, pins_for(w, seed), t_start)
        runners.append(other)
        warm = w.warmed_by in {r.wl.name for r in runners}
        for _ in range(0 if warm else OTHER_WARMUP_RUNS):
            other.once(workloads.NullTracer())
        expect = other.walls[-1] if other.walls else 10.0
        if not other.room(1.5 * expect):
            raise RuntimeError(f"no time left for the traced run of {w.name}")
        it = run_traced(other, f"{w.name}:0")
        if it is None:
            raise RuntimeError("; ".join(other.problems[:3]))
        outs[w.name] = it["out"]

    # single-layer probes on the link_twopass_x4 sides, which their tags name
    link_paths, _ = inputs_by_replicas[4]
    layers.update(tracing.plan_probe(spark, *workloads.link_sides(spark, link_paths)))
    layers.update(tracing.kernel_probe(*largest_block_tile(link_paths)))
    docs = spark.read.parquet(inputs_by_replicas[4][0]["docs"]).select("doc_id", "text")
    star_edges = lsh_bucket_star_edges(docs, num_hashes=16, bands=8, shingle=5).count()
    threshold = inspect.signature(connected_components).parameters[
        "driver_finish_threshold"].default
    cores = sc.defaultParallelism
    spark.stop()  # flushes the event log
    layers.update(tracing.span_metrics(spans, *tracing.read_event_log(ev_dir), cores))

    link_stats = runner.stats
    untraced_wall = statistics.median(r["wall"] for r in untraced)
    traced_wall = statistics.median(r["wall"] for r in traced)
    layers.update({
        "dedup.lsh_pairs": outs["near_dup_x4"]["lsh_pairs"],
        "dedup.star_edges": star_edges,
        # connected_components finishes on the driver when the edges fit
        # its default driver_finish_threshold
        "clustering.driver_finish": int(0 < star_edges <= threshold),
        "clustering.components": outs["near_dup_x4"]["components"],
        "trace.untraced_wall_s": untraced_wall,
        "trace.traced_wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.overhead_share": (traced_wall - untraced_wall) / untraced_wall,
        "input.rows": link_stats["rows"],
        "input.candidate_pairs": link_stats["candidate_pairs"],
        "input.max_block_keys": max(*link_stats["keys_a"].values(),
                                    *link_stats["keys_b"].values()),
        "input.largest_block_share": link_stats["largest_block_share"],
    })
    return layers, runners


def pins_for(wl, seed: int) -> dict | None:
    import workloads

    return workloads.SEED0_PINS.get(wl.name) if seed == 0 else None


def largest_block_tile(paths: dict, cap: int = 500) -> tuple[list, list]:
    """Up to ``cap`` distinct keys per side from the largest block."""
    import pyarrow.parquet as pq

    import inputs

    sides = [pq.read_table(paths[s], columns=["text", "lang"]).to_pydict()
             for s in ("a", "b")]
    langs = sides[0]["lang"]
    big = max(set(langs), key=langs.count)
    return tuple(
        sorted({t[:inputs.KEY_CHARS] for t, lang in zip(d["text"], d["lang"])
                if lang == big})[:cap]
        for d in sides)


def shutdown_spark() -> None:
    """Stop the JVM this process started and wait for every child."""
    import procstat

    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — fall through to the tree wait
        pass
    procstat.stop_tree()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "fuzzylink_spark", "__init__.py")):
        print("perfbench: no fuzzylink_spark package next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import fuzzylink_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: missing dependency: {e}", file=sys.stderr)
        return 2

    import procstat
    import session
    import tracing
    import workloads

    if args.self_test:
        import selftest

        return selftest.main(ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    ev_dir = os.path.join(run_dir, "events") if args.trace else None
    session.isolate_env(work, run_dir)
    control_pre = host_control()

    try:
        t0 = time.time()
        need = {1, 4} if args.trace else {wl.replicas}
        inputs_by_replicas = {r: prepare(run_dir, args.seed, r) for r in sorted(need)}
        paths, stats = inputs_by_replicas[wl.replicas]
        t_inputs = time.time() - t0
        spark = session.start_spark(ev_dir)
        t_session = time.time() - t0 - t_inputs
        runner = Runner(spark, wl, paths, stats, pins_for(wl, args.seed), t_start)
        for _ in range(WARMUP_RUNS):
            runner.once(workloads.NullTracer())
        setup_s = time.time() - t0
        if args.trace:
            layers, runners = traced_layers(spark, runner, args.seed, ev_dir,
                                            t_start, inputs_by_replicas)
            missing = sorted(set(tracing.TAGS) - set(layers) - {"host.control_s"})
            if missing:
                raise RuntimeError(f"the traced run measured no {', '.join(missing)}")
        else:
            runners = [runner]
            with procstat.Sampler() as sampler:
                runs = runner.measure(workloads.NullTracer, args.seconds, MIN_RUNS,
                                      sampler)
            if not runs:
                raise RuntimeError("every run raised: " + "; ".join(runner.problems[:3]))
            metrics = end_to_end(runs, setup_s)
        control_post = host_control()
    except Exception:  # noqa: BLE001
        import traceback

        traceback.print_exc()
        return 1
    finally:
        shutdown_spark()
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# {wl.name} seed={args.seed} cores={session.host_cores()} "
          f"heap={session.DRIVER_HEAP} why: {wl.why}")
    print(f"# setup {setup_s:.2f} s: inputs {t_inputs:.2f} s, session {t_session:.2f} s, "
          f"{WARMUP_RUNS} warm-up runs; every run's wall (s), warm-up first: "
          + " ".join(f"{w:.3f}" for w in runner.walls))
    print(f"# input rows={stats['rows']} keys_a={stats['keys_a']} "
          f"keys_b={stats['keys_b']} candidate_pairs={stats['candidate_pairs']} "
          f"largest_block_share={stats['largest_block_share']:.4f}")
    print("# outputs " + " ".join(f"{k}={v}" for k, v in (runner.first or {}).items()
                                  if k != "assign"))
    print(f"# host.control_s before={control_pre:.4f} after={control_post:.4f} "
          "(host speed; no metric is divided by it)")
    attempted = sum(r.attempted for r in runners)
    failed = sum(r.failed for r in runners)
    for p in (p for r in runners for p in r.problems):
        print(f"# FAILED {p}")
    if args.trace:
        layers["host.control_s"] = (control_pre + control_post) / 2
        for name, (unit, moves, where) in tracing.TAGS.items():
            print(f"# {name} = {layers[name]:.6g} {unit} "
                  f"-> moves {moves} on {where}")
        result = {name: {"value": layers[name], "unit": unit}
                  for name, (unit, _, _) in tracing.TAGS.items()}
    else:
        pairs = statistics.median(wl.pairs(r["out"]) for r in runs)
        cpu = {k: statistics.median(r["cpu"][k] for r in runs) for k in runs[0]["cpu"]}
        print(f"# pairs_per_s {pairs / metrics['wall_s'][0]:.1f} 1/s (candidate or LSH "
              f"pairs) | docs_per_s {stats['rows'] / metrics['wall_s'][0]:.1f} 1/s "
              "(neither gated: each is a fixed count over wall_s) | CPU s per run: "
              + " ".join(f"{k} {v:.2f}" for k, v in cpu.items()))
        print(f"# {len(runs)} measured runs | "
              + " | ".join(f"{k} {v:.4f} {u}" for k, (v, u) in metrics.items())
              + f" | failed_share {failed}/{attempted}")
        result = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
