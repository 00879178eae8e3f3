"""perfbench: the engine's end-to-end benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (``BENCHMARK.json`` records why each was chosen):

- ``olap_star``     closed loop, 1 client: the 26 star-schema/events
                    queries at sf0.01; one op = build + collect one query.
- ``ingest_stream`` open loop, 1 feeder thread: click files landed on a
                    schedule into a long-running bronze ingest stream,
                    then four backlogs, each dropped at once and drained.

The seed permutes the op order of every pass (``olap_star``) or fixes
the generator offset and the injected invalid events (ingest). Every
op's output is checked: query results against the oracle hashes in
``expected.json``, the bronze sink row by row against the rows the
reference's click rules predict for the fed events. The last
stdout line is one JSON object ``{correct, attempted, failed,
metrics}``; ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``, ``--trace 1`` its per-layer metrics, from a run that
also records spans and the Spark status-store ledger and writes them to
``.perfbench_run/traces/``. Each run's full record (host, per-op rows,
errors) goes to ``.perfbench_run/results/``.

Untimed set-up (``setup_s``, from process start): the Spark session, a
warm-up (one pass over the query set; for the stream, feed
pre-generation, the first commit and three seconds of warm-up feed).
Each run gets fresh oracle-scratch, Spark local, sink and checkpoint
dirs under ``.perfbench_run/``, removed at exit.

Options used only by the self-test: ``--scale tiny`` runs everything at
sf0.001 with a short stream, ``--expected`` swaps the hash file.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ("olap_star", "ingest_stream")
DEADLINE_S = 175.0


def _metric_specs() -> dict:
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _history_path(args):
    """Untraced wall_s of earlier runs with the same settings, in this
    checkout: the baseline for the traced run's overhead."""
    return harness.RUNS_DIR / "history" / f"{args.workload}-{args.scale}-{args.seconds:g}.jsonl"


def _untraced_history(args) -> list[float]:
    path = _history_path(args)
    if not path.exists():
        return []
    return [json.loads(line)["wall_s"] for line in path.read_text().splitlines() if line]


def _append_history(args, wall_s: float) -> None:
    path = _history_path(args)
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("a") as f:
        f.write(json.dumps({"wall_s": wall_s}) + "\n")


def _watchdog() -> None:
    print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, aborting", file=sys.stderr)
    sys.stderr.flush()
    os._exit(3)


def run(args) -> dict:
    specs = _metric_specs()
    tiny = args.scale == "tiny"
    wl = args.workload
    run_dir = harness.isolate(f"{wl}-s{args.seed}")
    tag = f"{wl}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    expected = json.loads(Path(args.expected).read_text())

    import ingest
    import query_workloads as qw

    t0 = time.perf_counter()
    spark = harness.start_session()
    session_start_s = time.perf_counter() - t0
    stream = None
    try:
        host = harness.host_record(spark, args.seed)
        host.update(harness.bounds_host_check(host))
        tracer = harness.Tracer(spark, args.trace == 1)
        tracer.span("session", "start", t0, t0 + session_start_s)
        scale = "0.001" if tiny else qw.SCALE
        w0 = time.perf_counter()
        if wl == "ingest_stream":
            stream = ingest.Stream(spark, run_dir, args.seed, args.seconds, tiny)
        else:
            qw.warm_up(spark, scale)
        warm_s = time.perf_counter() - w0
        tracer.span("warmup", "warmup", w0, w0 + warm_s)
        heap0 = harness.retained_heap_mb(spark) if tracer.enabled else 0.0
        setup_s = time.perf_counter() - T_PROC0

        if stream is not None:
            res = stream.run(tracer)
            c0 = time.perf_counter()
            attempted, failed, errors = stream.check(res.pop("committed"))
            tracer.span("check", "sink", c0, time.perf_counter())
        else:
            res = qw.run(spark, args.seed, args.seconds, tracer, expected, scale)
            attempted = len(res["ops"])
            failed = sum(1 for o in res["ops"] if not o["ok"])
            errors = [f"{o['query']}: {o['error']}" for o in res["ops"] if not o["ok"]]
        heap = harness.retained_heap_mb(spark)
    finally:
        if stream is not None:
            stream.stop()
        harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(res["e2e"])
    e2e.update(
        setup_s=setup_s,
        ok_ratio=(attempted - failed) / attempted,
        retained_heap_mb=heap,
    )
    layer = {name: 0.0 for name in specs[1]}
    layer.update(res["layer"])
    layer["session.start_s"] = session_start_s
    layer["session.warm_s"] = warm_s
    if tracer.enabled:
        layer["driver.heap_growth_mb"] = heap - heap0
        for lyr, v in harness.self_times(tracer.spans).items():
            if f"self.{lyr}_s" in layer:
                layer[f"self.{lyr}_s"] = v
        layer["trace.tracer_s"] = tracer.self_s
        hist = _untraced_history(args)
        layer["trace.untraced_runs"] = len(hist)
        if hist:
            layer["trace.overhead_s"] = e2e["wall_s"] - harness.median(hist)
    else:
        _append_history(args, e2e["wall_s"])

    shown = e2e if args.trace == 0 else layer
    missing = set(specs[args.trace]) - set(shown)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    metrics = {
        name: {"value": float(shown[name]), "unit": unit}
        for name, unit in specs[args.trace].items()
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    detail = {
        "workload": wl, "scale": args.scale, "seconds": args.seconds,
        "trace": args.trace, "host": host, "result": result,
        "end_to_end": e2e, "per_layer": layer, "errors": errors,
        "tail_pct": res.get("tail_pct"), "n": res.get("n"),
        "warm_steps": (
            {"pregen_s": stream.pregen_s, "first_commit_s": stream.first_commit_s}
            if stream is not None else None
        ),
        **{k: res[k] for k in ("ops", "passes", "latency_by_file", "feeder_error")
           if k in res},
    }
    harness.write_json(harness.RUNS_DIR / "results" / f"{tag}.json", detail)
    if tracer.enabled:
        harness.write_json(
            harness.RUNS_DIR / "traces" / f"{tag}.json",
            {"host": host, "spans": tracer.spans, "per_layer": layer,
             "ops": res.get("ops"), "progress": res.get("progress")},
        )
    for e in errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print("# host " + json.dumps(host))
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--expected", default=str(harness.BENCH_DIR / "expected.json"))
    args = ap.parse_args(argv)
    dog = threading.Timer(DEADLINE_S, _watchdog)
    dog.daemon = True
    dog.start()
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        dog.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
