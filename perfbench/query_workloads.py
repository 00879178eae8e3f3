"""The closed-loop query workload ``olap_star``.

One client runs one op at a time: build the query through the
``plans.queries`` registry, ``collect()`` it, hash the rows and compare
with the query's committed oracle hash. A pass runs the workload's
query set once, in an order the seed permutes. A run measures
``seconds // PASS_S`` whole passes (at least one), after an untimed
warm-up over the same set, so every run on every host does the same
work and its statistics rest on the same number of ops.
"""

from __future__ import annotations

import gc
import random
import threading
import time

from checks import result_hash
from harness import median, sf_dir, stage_totals, tail

# The 26 star-schema / events queries: short multi-stage jobs where
# planning, stage scheduling and scans dominate; no eager driver work
# once warm (0 build-phase jobs per traced pass on 4 cores; 8 in a
# cold pass).
OLAP_STAR = (
    "q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08", "q09", "q10",
    "q11", "q12", "q13", "q14", "q15", "q16", "q17", "q18", "q19", "q31",
    "q35", "q38", "q41", "q90", "q140", "q141",
)
# sf0.01: one sf0.1 pass takes ~28 s on 4 cores, so a run could not
# hold the several passes a steady median needs.
SCALE = "0.01"
# The JVM compiles the planner's hot paths over the first passes: on 4
# cores a cold sf0.01 pass took ~17 s of op time and, in one run, the
# passes after it 12.8, 11.2, 9.9, then 10.2-10.6 s, so a run that timed
# its first pass measured mostly how far that warming had got. One
# untimed pass at the timed scale warms the very paths the timed passes
# take (a sf0.001 pass costs as much: per-op overheads dominate both).
# Running the warm-up on three clients at once did three passes' worth
# of calls in the time of one but left the timed passes twice as
# spread from run to run. PASS_S is about one timed pass, op time plus
# per-op resets, on that host (8-10 s).
PASS_S = 10.0
OP_TIMEOUT_S = 60.0


def registry_names(short):
    from e_commerce_data_pipeline_spark.plans.queries import QUERIES

    by_short = {n.split("_")[0]: n for n in QUERIES}
    return [by_short[s] for s in short]


def run_query(spark, name, sf, group=None):
    """Build + collect one registry query under a timeout. Returns
    (build_s, exec_s, columns, rows, error). A traced run passes
    ``group`` so the status store can tell build-phase (eager) jobs
    from the final collect's."""
    from e_commerce_data_pipeline_spark.plans.queries import QUERIES

    sc = spark.sparkContext
    # every op starts with no cached tables and no Python garbage left by
    # the previous op. No JVM System.gc() here: a full collection per op
    # shrinks the committed heap, which the next op regrows, and in
    # 6 interleaved pairs of runs on a shared 4-core host that made
    # op_p50_s higher in 5 pairs (by up to a third) and its range across
    # runs twice as wide.
    spark.catalog.clearCache()
    gc.collect()
    timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
    timer.daemon = True
    build_s = exec_s = 0.0
    cols, rows, err = [], [], None
    timer.start()
    t0 = time.perf_counter()
    try:
        if group:
            sc.setJobGroup(f"{group}:build", name)
        df = QUERIES[name].fn(spark, sf_dir(sf))
        build_s = time.perf_counter() - t0
        if group:
            sc.setJobGroup(f"{group}:exec", name)
        rows = df.collect()
        exec_s = time.perf_counter() - t0 - build_s
        cols = df.columns
    except Exception as e:  # an op that raises counts as failed
        err = f"{type(e).__name__}: {str(e)[:300]}"
        build_s = time.perf_counter() - t0 - exec_s
    finally:
        timer.cancel()
        if group:
            sc.setJobGroup(None, None)
    return build_s, exec_s, cols, rows, err


def warm_up(spark, scale) -> None:
    for name in registry_names(OLAP_STAR):
        run_query(spark, name, scale)
    # what the imports and the warm-up left is permanent: keep it out of
    # every later collection, so the per-op gc.collect() is cheap
    gc.collect()
    gc.freeze()


def _ledger(before, after, group):
    """Stage/job diff for one op: build-phase jobs are the eager jobs
    that ran before the final DataFrame existed."""
    seen = {(s["stageId"], s["attemptId"]) for s in before[0]}
    new = [
        s for s in after[0]
        if (s["stageId"], s["attemptId"]) not in seen
        and s.get("status") in ("COMPLETE", "FAILED")
    ]
    build_jobs = [
        j for j in after[1]
        if j.get("jobGroup") == f"{group}:build"
        and j.get("completionTime") and j.get("submissionTime")
    ]
    tot = stage_totals(new)
    tot["eager_jobs"] = len(build_jobs)
    tot["eager_job_s"] = sum(
        (j["completionTime"] - j["submissionTime"]) / 1e3 for j in build_jobs
    )
    return tot, build_jobs


def run(spark, seed, seconds, tracer, expected, scale):
    names = registry_names(OLAP_STAR)
    rng = random.Random(seed)
    exp = expected.get(scale, {})
    ops, passes = [], []
    wall_clock_offset = time.time() - time.perf_counter()
    snap = tracer.snapshot()
    compiles0 = tracer.codegen_compiles()
    for _ in range(max(1, int(seconds // PASS_S))):
        order = names[:]
        rng.shuffle(order)
        p_ops = []
        for name in order:
            group = f"perfbench:olap_star:{len(passes)}:{name}" if tracer.enabled else None
            build_s, exec_s, cols, rows, err = run_query(spark, name, scale, group)
            t_end = time.perf_counter()
            op = {"query": name, "pass": len(passes), "build_s": build_s,
                  "exec_s": exec_s, "latency_s": build_s + exec_s, "error": err}
            t_op0 = t_end - op["latency_s"]
            op_sid = tracer.span("bench", name, t_op0, t_end)
            build_sid = tracer.span("plans", "build", t_op0, t_op0 + build_s, op_sid)
            tracer.span("spark", "collect", t_op0 + build_s, t_end, op_sid)
            c0 = time.perf_counter()
            op["ok"] = err is None and result_hash(cols, rows) == exp.get(name)
            if err is None and not op["ok"]:
                op["error"] = f"result hash != expected {str(exp.get(name))[:12]}"
            del rows
            tracer.span("check", "hash", c0, time.perf_counter())
            if tracer.enabled:
                after = tracer.snapshot()
                led, jobs = _ledger(snap, after, group)
                snap = after
                op.update(led)
                for j in jobs:
                    tracer.span(
                        "operators", f"job{j['jobId']}",
                        j["submissionTime"] / 1e3 - wall_clock_offset,
                        j["completionTime"] / 1e3 - wall_clock_offset, build_sid,
                    )
            p_ops.append(op)
        ops.extend(p_ops)
        wall = sum(o["latency_s"] for o in p_ops)
        passes.append({"wall_s": wall, "ops": len(p_ops)})
    out = summarize(ops, passes, spark.sparkContext.defaultParallelism)
    if tracer.enabled:
        # per pass; the same queries recompile on every pass (~270 on 4
        # cores, pyspark 4.1.2), so a plan or codegen cache moves this
        out["layer"]["spark.codegen_compiles"] = (
            tracer.codegen_compiles() - compiles0) / len(passes)
    return out


def summarize(ops, passes, cpus):
    lat = [o["latency_s"] for o in ops]
    tval, tpct, n = tail(lat)
    wall = median([p["wall_s"] for p in passes])
    out = {
        "ops": ops,
        "passes": passes,
        "tail_pct": tpct,
        "n": n,
        "e2e": {
            "wall_s": wall,
            "op_p50_s": median(lat),
            "op_tail_s": tval,
            # closed loop: each op is due the moment the previous one
            # returns, so its latency from due time is its op latency
            "lat_p50_s": median(lat),
            "lat_tail_s": tval,
            # completed ops per second of op time ("events" = ops here)
            "drain_events_per_s": len(ops) / sum(lat) if sum(lat) > 0 else 0.0,
        },
    }
    layer = {}
    if "stages" in ops[0]:
        per_pass = {}
        for o in ops:
            acc = per_pass.setdefault(o["pass"], {})
            for k in ("build_s", "exec_s", "eager_jobs", "eager_job_s", "stages",
                      "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_mb",
                      "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                acc[k] = acc.get(k, 0) + o[k]

        def pm(k):
            return median([a[k] for a in per_pass.values()])

        task_run = pm("task_run_s")
        layer = {
            "plans.build_s": pm("build_s"),
            "operators.eager_jobs": pm("eager_jobs"),
            "operators.eager_job_s": pm("eager_job_s"),
            "exec.final_s": pm("exec_s"),
            "spark.stages": pm("stages"),
            "spark.tasks": pm("tasks"),
            "spark.utilization": task_run / (wall * cpus) if wall else 0.0,
            "spark.idle_core_s": wall * cpus - task_run,
            "spark.task_cpu_s": pm("task_cpu_s"),
            "spark.shuffle_write_mb": pm("shuffle_write_mb"),
            "spark.shuffle_read_mb": pm("shuffle_read_mb"),
            "spark.spill_mb": pm("spill_mb"),
            "spark.gc_s": pm("gc_s"),
            "catalog.input_mb": pm("input_mb"),
        }
    out["layer"] = layer
    return out
