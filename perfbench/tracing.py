"""Per-layer metrics of the traced run.

* Spark work per span, from the event log Spark writes in the traced run:
  each job goes to a span by its job group; a group covering two spans, or
  a job without a group (the pipeline submits some jobs from a worker
  thread), goes to the span open at its submission time.
* Single-layer probes that call a module's public functions from outside:
  the salt plan (``operators.candidates`` / ``operators.features``) and
  the tile kernel (``functions.vectors`` / ``functions.strdist``).

``TAGS`` names, for every per-layer metric, the end-to-end metric and the
workload it should move.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time

from workloads import WORKLOADS, link_config

# span name -> the workload that runs it
_SPAN_HOME = {s: w.name for w in WORKLOADS.values() for s in w.spans}
SPAN_STATS = ("jobs", "tasks", "busy_share", "shuffle_mb", "spill_mb", "gc_s")
_C, _T, _N = WORKLOADS
_SELF = "the traced workload"  # measured on whichever workload the run traces

# span stat -> (unit, end-to-end metric it should move on the span's workload)
_STAT_MOVES = {"jobs": ("count", "wall_s"), "tasks": ("count", "wall_s"),
               "busy_share": ("ratio", "wall_s"), "shuffle_mb": ("MB", "peak_rss_mb"),
               "spill_mb": ("MB", "peak_rss_mb"), "gc_s": ("s", "wall_s")}

# metric -> (unit, end-to-end metric it should move, workload)
TAGS: dict = {}
for _s in _SPAN_HOME:
    TAGS[f"{_s}_s"] = ("s", "wall_s", _SPAN_HOME[_s])
    for _k in SPAN_STATS:
        TAGS[f"{_s}.{_k}"] = (*_STAT_MOVES[_k], _SPAN_HOME[_s])
TAGS.update({
    "features.keys_a": ("count", "wall_s", _T),
    "features.keys_b": ("count", "wall_s", _T),
    "features.tiles": ("count", "wall_s", _T),
    "features.pairs_planned": ("count", "wall_s", _T),
    "features.max_tile_pairs": ("count", "wall_s", _T),
    "features.plan_s": ("s", "wall_s", _T),
    "kernel.encode_keys_per_s": ("1/s", "cpu_s", _T),
    "kernel.gemm_pairs_per_s": ("1/s", "cpu_s", _T),
    "kernel.jw_pairs_per_s": ("1/s", "cpu_s", _T),
    "kernel.jw_native": ("count", "wall_s", _T),
    "proc.jvm_cpu_s": ("s", "cpu_s", _SELF),
    "proc.python_cpu_s": ("s", "cpu_s", _SELF),
    "proc.driver_cpu_s": ("s", "cpu_s", _SELF),
    "proc.python_workers": ("count", "peak_rss_mb", _SELF),
    "dedup.lsh_pairs": ("count", "wall_s", _N),
    "dedup.star_edges": ("count", "wall_s", _N),
    "clustering.components": ("count", "wall_s", _N),
    "clustering.driver_finish": ("count", "wall_s", _N),
    "trace.untraced_wall_s": ("s", "nothing", _SELF),
    "trace.traced_wall_s": ("s", "nothing", _SELF),
    "trace.overhead_s": ("s", "nothing", _SELF),
    "trace.overhead_share": ("ratio", "nothing", _SELF),
    "host.control_s": ("s", "nothing", _SELF),
    "input.rows": ("count", "wall_s", _SELF),
    "input.candidate_pairs": ("count", "wall_s", _SELF),
    "input.max_block_keys": ("count", "wall_s", _SELF),
    "input.largest_block_share": ("ratio", "wall_s", _SELF),
})


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs ``{job_id: {"group", "submit", "stages"}}`` and per-stage task
    totals ``{stage_id: {...}}`` from every event file under ``log_dir``."""
    jobs, stages = {}, {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
                        "shuffle_bytes": 0, "spill_bytes": 0})
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0)
                                            + sw.get("Shuffle Bytes Written", 0))
                    st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
    return jobs, stages


def attribute(spans: list, jobs: dict) -> dict:
    """``{id(span): [job_id, ...]}``: by job group when the group names one
    span, else by submission time; jobs outside every span are dropped."""
    by_group: dict = {}
    for s in spans:
        by_group.setdefault(s["group"], []).append(s)
    out = {id(s): [] for s in spans}
    for jid, job in jobs.items():
        cands = by_group.get(job["group"], [])
        if len(cands) != 1:
            cands = [s for s in (cands or spans)
                     if s["start"] <= job["submit"] < s["end"]]
        if cands:
            out[id(cands[0])].append(jid)
    return out


def span_metrics(spans: list, jobs: dict, stages: dict, cores: int) -> dict:
    """Median over a span name's occurrences of its wall and Spark stats."""
    owned = attribute(spans, jobs)
    rows: dict = {}
    for s in spans:
        jids = owned[id(s)]
        sts = [stages[st] for j in jids for st in jobs[j]["stages"] if st in stages]
        wall = s["end"] - s["start"]
        rows.setdefault(s["name"], []).append({
            "_s": wall,
            ".jobs": len(jids),
            ".tasks": sum(st["tasks"] for st in sts),
            ".busy_share": sum(st["run_s"] for st in sts) / max(wall * cores, 1e-9),
            ".shuffle_mb": sum(st["shuffle_bytes"] for st in sts) / 2**20,
            ".spill_mb": sum(st["spill_bytes"] for st in sts) / 2**20,
            ".gc_s": sum(st["gc_s"] for st in sts),
        })
    out = {}
    for name, occ in rows.items():
        for key in occ[0]:
            out[name + key] = statistics.median(o[key] for o in occ)
    return out


def plan_probe(spark, dfa, dfb) -> dict:
    """Blocking + salt plan of one pair of link sides, called directly."""
    from fuzzylink_spark.operators.blocking import add_block_key
    from fuzzylink_spark.operators.candidates import unique_keys_per_block
    from fuzzylink_spark.operators.features import block_salt_plan, plan_info_of

    cfg = link_config()
    t0 = time.time()
    ua = unique_keys_per_block(add_block_key(dfa, ["lang"]), "name")
    ub = unique_keys_per_block(add_block_key(dfb, ["lang"]), "name")
    plan = block_salt_plan(ua, ub, cfg.salt_pair_threshold,
                           target_cells=spark.sparkContext.defaultParallelism * 3)
    info = plan_info_of(plan, ua, ub)
    grid = {r["block_key"]: (r["ka"], r["kb"]) for r in plan.collect()}
    plan_s = time.time() - t0
    na = {r["block_key"]: r["count"] for r in ua.groupBy("block_key").count().collect()}
    nb = {r["block_key"]: r["count"] for r in ub.groupBy("block_key").count().collect()}
    max_tile = max(math.ceil(na.get(k, 0) / ka) * math.ceil(nb.get(k, 0) / kb)
                   for k, (ka, kb) in grid.items())
    return {"features.keys_a": info["sum_na"], "features.keys_b": info["sum_nb"],
            "features.tiles": info["total_cells"],
            "features.pairs_planned": info["total_pairs"],
            "features.max_tile_pairs": max_tile, "features.plan_s": plan_s}


def kernel_probe(keys_a: list, keys_b: list, reps: int = 5) -> dict:
    """Single-process tile kernel on one tile: encoder, GEMM, Jaro-Winkler."""
    import numpy as np

    from fuzzylink_spark.functions._jw_native import jw_cross_native
    from fuzzylink_spark.functions.strdist import jaro_winkler_cross
    from fuzzylink_spark.functions.vectors import embed_strings

    cfg_dim = 128
    xs = [k.lower() for k in keys_a]
    ys = [k.lower() for k in keys_b]
    enc, gemm, jw = [], [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        a = embed_strings(keys_a, dim=cfg_dim)
        b = embed_strings(keys_b, dim=cfg_dim)
        t1 = time.perf_counter()
        sims = a @ b.T
        t2 = time.perf_counter()
        jaro_winkler_cross(xs, ys)
        t3 = time.perf_counter()
        enc.append(t1 - t0)
        gemm.append(t2 - t1)
        jw.append(t3 - t2)
    n_pairs = float(np.asarray(sims).size)
    return {
        "kernel.encode_keys_per_s": (len(xs) + len(ys)) / statistics.median(enc),
        "kernel.gemm_pairs_per_s": n_pairs / statistics.median(gemm),
        "kernel.jw_pairs_per_s": n_pairs / statistics.median(jw),
        "kernel.jw_native": 1 if jw_cross_native() is not None else 0,
    }
