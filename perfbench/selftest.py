"""Self-test of the output checks: each workload runs once on tiny inputs,
its output must pass, and each corrupted copy of it must fail. Then
link_classic runs on the whole sf0.1 table, split into sides as the
repository's ``bench.py`` splits it, and must give the graded counts.

    python3 perfbench/run.py --self-test
"""

from __future__ import annotations

import os
import shutil

TINY_DOCS = 200


def _corruptions(name: str, out: dict, stats: dict) -> dict:
    """Named wrong outputs derived from a correct one."""
    if name == "near_dup_x4":
        group = stats["identical_text_groups"][0]
        split = dict(out["assign"])
        split[group[-1]] = -1  # one identical-text doc in its own component
        return {
            "identical text split": {**out, "assign": split},
            "LSH pair count moved": {**out, "lsh_pairs": out["lsh_pairs"] + 1},
            "component count moved": {**out, "components": out["components"] + 1},
        }
    return {
        "candidate pair dropped": {**out, "pairs": out["pairs"] - 1},
        "accepted count moved": {**out, "accepted": out["accepted"] + 1},
        "linked rows lost": {**out, "linked": stats["rows_a"] - 1},
    }


def whole_table_sides(spark, out_dir: str) -> dict:
    """The sf0.1 table split by ``pmod(xxhash64(source), 2)``, as files."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import inputs

    on_a = {r["source"] for r in spark.read.parquet(inputs.TABLE)
            .select("source").distinct()
            .where(F.pmod(F.xxhash64("source"), F.lit(2)) == 0).collect()}
    table = pq.read_table(inputs.TABLE)
    mask = pc.is_in(table["source"], value_set=pa.array(sorted(on_a), pa.string()))
    os.makedirs(out_dir, exist_ok=True)
    paths = {name: os.path.join(out_dir, f"{name}.parquet") for name in ("a", "b", "docs")}
    pq.write_table(table.filter(mask), paths["a"])
    pq.write_table(table.filter(pc.invert(mask)), paths["b"])
    pq.write_table(table, paths["docs"])
    return paths


def main(root: str) -> int:
    import inputs
    import run
    import session
    import workloads

    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"selftest-{os.getpid()}")
    session.isolate_env(work, run_dir)
    bad = 0
    try:
        spark = session.start_spark()
        for wl in workloads.WORKLOADS.values():
            paths = inputs.write_inputs(os.path.join(run_dir, wl.name), 7,
                                        TINY_DOCS, wl.replicas)
            stats = inputs.input_stats(paths)
            out = wl.run(spark, paths, workloads.NullTracer())
            again = wl.run(spark, paths, workloads.NullTracer())
            wrong_pins = {k: -1 for k in workloads.SEED0_PINS[wl.name]}
            cases = {"clean output": (out, None, None, True),
                     "clean rerun": (again, out, None, True),
                     "pin mismatch": (out, None, wrong_pins, False)}
            for label, wrong in _corruptions(wl.name, out, stats).items():
                cases[label] = (wrong, out, None, False)
            for label, (o, first, pins, should_pass) in cases.items():
                problems = wl.check(o, first, stats, pins)
                ok = (not problems) == should_pass
                bad += not ok
                print(f"{'ok  ' if ok else 'FAIL'} {wl.name}: {label}: "
                      f"{'passes' if not problems else problems[0]}")
        paths = whole_table_sides(spark, os.path.join(run_dir, "whole"))
        stats = inputs.input_stats(paths)
        wl = workloads.WORKLOADS["link_classic"]
        out = wl.run(spark, paths, workloads.NullTracer())
        problems = wl.check(out, None, stats, workloads.GRADED_PINS)
        bad += bool(problems)
        print(f"{'FAIL' if problems else 'ok  '} link_classic on the whole sf0.1 "
              f"table: pairs={out['pairs']} accepted={out['accepted']} "
              + (problems[0] if problems else f"= graded {workloads.GRADED_PINS}"))
    finally:
        run.shutdown_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"self-test: {'all checks behave' if not bad else f'{bad} wrong'}")
    return 1 if bad else 0
