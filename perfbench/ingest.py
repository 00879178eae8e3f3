"""The open-loop ``ingest_stream`` workload: the paper's own path.

A feeder thread lands JSON-lines files of pre-generated click events
on a fixed schedule (8 files of 500 events per second); one
long-running ``bronze_ingest_query`` over
``read_event_stream(source="file")`` with a 1-second trigger parses
them against the click schema, validates them and writes gzip JSON in
Hive partitions. Set-up feeds three seconds of files at the same rate,
untimed; after the timed steady phase four fixed backlogs, one after
another, are each dropped at once and drained.

Spark fires a processing-time trigger at whole multiples of its
interval since the epoch, so the feeder lands its files at fixed
phases of that grid and drops each backlog just before a tick: the wait
for the next trigger is then the same in every run, and run-to-run
differences in latency come from the engine, not from the phase at
which the feed happened to start.

Every file lands by write-then-rename, so the stream never sees a
partial file. A file's latency runs from its scheduled write time to
the mtime of ``commits/<b>``, where ``b`` is the first batch whose
``sources/0`` log lists it (compact log files repeat entries).

The sink is checked row by row against ``expected_rows``: the reference's
click rules restated here, not the engine's validator, so a change that
weakens validation or alters a payload column or partition value shows.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from pathlib import Path
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.json as pj

from harness import median, tail

TOPIC = "ecommerce.user_clicks"
FILES_PER_S = 8
EVENTS_PER_FILE = 500
STEADY_SHARE = 0.4  # of --seconds; the backlog drain follows
# Untimed warm-up feed at the steady rate: a fresh stream's first few
# seconds of batches run up to 1.5x slower than the ones after.
WARM_FILES = 3 * FILES_PER_S
TRIGGER_S = 1
# The drain rate is the median over the drains: one drain is a single
# ~1.6 s batch, which one stall can slow by a third. At 96k events a
# drain's data work outweighs the batch's fixed cost: over 10 seeds on 4
# cores the rate spread 0.10-0.11 of its median with three 64k-event
# drains, 0.08 with four of 96k.
BACKLOG_DRAINS = 4
BACKLOG_FILES = 12
BACKLOG_EVENTS_PER_FILE = 8_000
COMMIT_TIMEOUT_S = 60.0

# The reference's click-event rules (expectations.py:52-94; 0.2 penalty
# per violation), in the order the violation codes are joined.
CLICK_TYPES = (
    "page_view", "product_view", "search", "add_to_cart", "remove_from_cart",
    "wishlist_add", "checkout_start",
)
DEVICE_TYPES = ("mobile", "desktop", "tablet")
REQUIRED = ["event_id", "session_id", "click_type", "page_url", "device_type"]
# A bronze row as compared: the fed fields (timestamp as epoch µs), the
# validation columns and the Hive partition values.
FIELDS = [
    "event_id", "event_type", "ts_us", "session_id", "user_id", "click_type", "page_url",
    "device_type", "product_id", "category",
]
ROW = FIELDS + [
    "violations", "n_violations", "quality_score", "is_valid", "year", "month", "day", "hour",
]
# The bronze JSON fields as read back; partition values come from the path.
SINK_SCHEMA = pa.schema(
    [(c, pa.string()) for c in FIELDS if c != "ts_us"]
    + [("timestamp", pa.string()), ("violations", pa.string()), ("n_violations", pa.int64()),
       ("quality_score", pa.float64()), ("is_valid", pa.bool_())]
)


def expected_rows(ev: pd.DataFrame) -> pd.DataFrame:
    """The bronze rows the fed click events (``FIELDS``) must become."""
    url = ev["page_url"]
    hits = pd.DataFrame({
        "missing_required_field": ev[REQUIRED].isna().any(axis=1),
        "invalid_click_type": ~ev["click_type"].isin(CLICK_TYPES),
        "invalid_device_type": ~ev["device_type"].isin(DEVICE_TYPES),
        "invalid_url_format": ~url.str.startswith(("http://", "https://")).fillna(False).astype(bool),
        "empty_page_url": url.isna() | (url.str.strip(" ") == ""),
    })
    n = hits.sum(axis=1).astype("int64")
    codes = np.array(hits.columns)
    violations = pd.Series("", index=ev.index, dtype=object)
    bad = (n > 0).to_numpy()
    violations[bad] = [",".join(codes[row]) for row in hits.to_numpy()[bad]]
    ts = pd.to_datetime(ev["ts_us"], unit="us", utc=True).dt
    return ev[FIELDS].assign(
        violations=violations,
        n_violations=n,
        quality_score=(100 - 20 * n).clip(lower=0) / 100.0,
        is_valid=n == 0,
        year=ts.year.astype("int64"), month=ts.month.astype("int64"),
        day=ts.day.astype("int64"), hour=ts.hour.astype("int64"),
    )


def row_digests(rows: pd.DataFrame) -> pd.Series:
    """One 64-bit digest per row of ``ROW`` (nulls hash alike)."""
    canon = rows[ROW].astype({c: object for c in FIELDS if c != "ts_us"})
    return pd.Series(pd.util.hash_pandas_object(canon, index=False).to_numpy(),
                     index=rows["event_id"].to_numpy())


class Feed:
    """Pre-generated input: per file, its JSON lines, event count and how
    many of them the rules mark invalid; per event, in file order, the
    digest of the bronze row it must become and its file's index."""

    def __init__(self, spark, seed: int, n_lead: int, n_steady: int, n_backlog: int,
                 backlog_size: int):
        from pyspark.sql import functions as F

        from e_commerce_data_pipeline_spark.sources.generator import (
            events_for_topic,
            generate_events,
        )

        sizes = [EVENTS_PER_FILE] * (n_lead + n_steady) + [backlog_size] * n_backlog
        n_clicks = sum(sizes)
        # the seed fixes the generator offset; clicks are ~70 % of events
        offset = (seed % 8) * 10_000
        events = generate_events(spark, n=offset + int(n_clicks / 0.66) + 1000)
        clicks = events_for_topic(
            events.filter(F.col("event_id") >= F.lit(f"evt-{offset:010d}")), TOPIC
        )
        # a seeded 3 % of clicks carry a device or URL the validator rejects
        roll = F.pmod(F.xxhash64("event_id", F.lit(seed)), F.lit(100))
        clicks = clicks.withColumn(
            "device_type", F.when(roll == 0, F.lit("smart_tv")).otherwise(F.col("device_type"))
        ).withColumn(
            "page_url",
            F.when(roll == 1, F.concat(F.lit("ftp://"), F.col("page_url")))
            .when(roll == 2, F.lit(" "))
            .otherwise(F.col("page_url")),
        )
        frame = clicks.select(
            *[c for c in FIELDS if c != "ts_us"],
            F.unix_micros("timestamp").alias("ts_us"),
            F.to_json(F.struct(*[F.col(c) for c in clicks.columns])).alias("line"),
        )
        pdf = frame.orderBy("event_id").limit(n_clicks).toPandas()
        if len(pdf) != n_clicks:
            raise RuntimeError(f"generator gave {len(pdf)} clicks, need {n_clicks}")
        expected = expected_rows(pdf)
        self.digests = row_digests(expected)
        self.file_of = np.repeat(np.arange(len(sizes)), sizes)
        self.files = []
        pos = 0
        for size in sizes:
            part = slice(pos, pos + size)
            pos += size
            self.files.append({
                "data": ("\n".join(pdf["line"].iloc[part]) + "\n").encode(),
                "n": size,
                "invalid": int((~expected["is_valid"].iloc[part]).sum()),
            })
        self.n_lead = n_lead
        self.n_steady = n_steady
        self.n_events = n_clicks


def _land(staging: Path, landing: Path, idx: int, data: bytes) -> None:
    tmp = staging / f"f{idx:05d}.json"
    tmp.write_bytes(data)
    os.rename(tmp, landing / f"f{idx:05d}.json")


def _next_tick(t: float) -> float:
    """The first trigger time at or after ``t``."""
    return math.ceil(t / TRIGGER_S) * TRIGGER_S


def _first_batch_of_file(ckpt: Path) -> dict:
    """File name -> first batch id, from the file source's offset log."""
    first: dict = {}
    log = ckpt / "sources" / "0"
    for p in log.iterdir() if log.is_dir() else ():
        if p.name.startswith(".") or p.name.endswith(".tmp"):
            continue
        for line in p.read_text().splitlines()[1:]:
            if not line.strip():
                continue
            e = json.loads(line)
            name = os.path.basename(e["path"])
            b = int(e["batchId"])
            first[name] = min(b, first.get(name, b))
    return first


def _commit_times(ckpt: Path) -> dict:
    out = {}
    d = ckpt / "commits"
    for p in d.iterdir() if d.is_dir() else ():
        if p.name.isdigit():
            out[int(p.name)] = p.stat().st_mtime
    return out


def _wait_committed(ckpt: Path, names, deadline: float, query) -> bool:
    """Poll the checkpoint until every file in ``names`` is in a
    committed batch (or the deadline passes or the query dies)."""
    names = set(names)
    while time.time() < deadline:
        first = _first_batch_of_file(ckpt)
        commits = _commit_times(ckpt)
        if all(n in first and first[n] in commits for n in names):
            return True
        if not query.isActive:
            return False
        time.sleep(0.05)
    return False


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if not isinstance(p, dict):
            p = json.loads(p.json)
        out.append(p)
    return out


class Stream:
    """Set-up half of the workload: pre-generate the feed, start the
    query, wait for its first commit, then feed the warm-up files and
    wait for theirs (all inside ``setup_s``)."""

    def __init__(self, spark, run_dir: Path, seed: int, seconds: float, tiny: bool):
        from e_commerce_data_pipeline_spark.streaming.stream_processor import (
            bronze_ingest_query,
            read_event_stream,
        )

        self.spark = spark
        n_steady = max(2, int(seconds * STEADY_SHARE * FILES_PER_S))
        self.drain_files, backlog_size = (1, EVENTS_PER_FILE) if tiny else (
            BACKLOG_FILES, BACKLOG_EVENTS_PER_FILE)
        n_backlog = BACKLOG_DRAINS * self.drain_files
        n_lead = 1 + (0 if tiny else WARM_FILES)
        t0 = time.perf_counter()
        self.feed = Feed(spark, seed, n_lead, n_steady, n_backlog, backlog_size)
        self.pregen_s = time.perf_counter() - t0
        self.dirs = {k: run_dir / k for k in ("landing", "staging", "sink", "ckpt")}
        for d in self.dirs.values():
            d.mkdir(parents=True, exist_ok=True)
        t0 = time.perf_counter()
        raw = read_event_stream(spark, source="file", file_path=str(self.dirs["landing"]))
        self.query = bronze_ingest_query(
            spark, raw, TOPIC, str(self.dirs["sink"]), str(self.dirs["ckpt"]),
            trigger=f"{TRIGGER_S} seconds",
        )
        _land(self.dirs["staging"], self.dirs["landing"], 0, self.feed.files[0]["data"])
        ok = _wait_committed(
            self.dirs["ckpt"], ["f00000.json"], time.time() + 120, self.query
        )
        self.first_commit_s = time.perf_counter() - t0
        warm = range(1, n_lead)
        t = time.time()
        for k, i in enumerate(warm if ok else ()):
            time.sleep(max(0.0, t + k / FILES_PER_S - time.time()))
            _land(self.dirs["staging"], self.dirs["landing"], i, self.feed.files[i]["data"])
        ok = ok and _wait_committed(
            self.dirs["ckpt"], [f"f{i:05d}.json" for i in warm],
            time.time() + COMMIT_TIMEOUT_S, self.query,
        )
        if not ok:
            self.stop()
            raise RuntimeError("stream never committed its warm-up batches")

    def stop(self):
        try:
            self.query.stop()
        except Exception:  # already stopped or failed; nothing to release
            pass

    def run(self, tracer) -> dict:
        feed, dirs = self.feed, self.dirs
        n_files = len(feed.files)
        steady = list(range(feed.n_lead, feed.n_lead + feed.n_steady))
        backlog = list(range(feed.n_lead + feed.n_steady, n_files))
        drains = [backlog[k:k + self.drain_files] for k in range(0, len(backlog), self.drain_files)]
        names = {i: f"f{i:05d}.json" for i in range(n_files)}
        snap = tracer.snapshot()
        compiles0 = tracer.codegen_compiles()
        warm_batches = max(_first_batch_of_file(dirs["ckpt"]).values())
        feeder = {"due": {}, "landed": {}, "error": None}

        def feed_steady(t0_wall):
            try:
                for k, i in enumerate(steady):
                    due = t0_wall + k / FILES_PER_S
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    w0 = time.perf_counter()
                    _land(dirs["staging"], dirs["landing"], i, feed.files[i]["data"])
                    feeder["due"][i] = due
                    feeder["landed"][i] = time.time()
                    tracer.span("feeder", names[i], w0, time.perf_counter())
            except OSError as e:
                feeder["error"] = repr(e)

        # first file 1/16 s after a trigger tick, the rest every 1/8 s
        t0_wall = _next_tick(time.time() + 0.5) + 1 / (2 * FILES_PER_S)
        t0 = time.perf_counter() + (t0_wall - time.time())
        th = threading.Thread(target=feed_steady, args=(t0_wall,), daemon=True)
        th.start()
        th.join(timeout=len(steady) / FILES_PER_S + 30)
        _wait_committed(
            dirs["ckpt"], [names[i] for i in steady], time.time() + COMMIT_TIMEOUT_S, self.query
        )
        for drain in drains:
            # a backlog: staged first, then renamed in at once
            for i in drain:
                (dirs["staging"] / names[i]).write_bytes(feed.files[i]["data"])
            # each drain starts from a collected heap, not wherever the
            # phase before it left it (without this collection, in 5
            # interleaved pairs of runs, drain rates ranged 61-89k events/s
            # against 59-68k with it)
            self.spark.sparkContext._jvm.System.gc()
            time.sleep(max(0.0, _next_tick(time.time() + 0.2) - 0.1 - time.time()))
            t_drop = time.time()
            for i in drain:
                os.rename(dirs["staging"] / names[i], dirs["landing"] / names[i])
                feeder["due"][i] = t_drop
                feeder["landed"][i] = time.time()
            _wait_committed(
                dirs["ckpt"], [names[i] for i in drain], time.time() + COMMIT_TIMEOUT_S, self.query
            )
        t_end = time.perf_counter()
        after = tracer.snapshot()
        compiles = tracer.codegen_compiles() - compiles0
        progress = _progress(self.query)
        self.stop()

        first = _first_batch_of_file(dirs["ckpt"])
        commits = _commit_times(dirs["ckpt"])
        lat = {}
        for i in steady + backlog:
            b = first.get(names[i])
            if b is not None and b in commits and i in feeder["due"]:
                lat[i] = commits[b] - feeder["due"][i]
        steady_lat = [lat[i] for i in steady if i in lat]
        drain_rates = []
        for drain in drains:
            done = [commits[first[names[i]]] for i in drain if i in lat]
            if done:
                events = sum(feed.files[i]["n"] for i in drain)
                drain_rates.append(events / (max(done) - feeder["due"][drain[0]]))
        last_commit = max(
            (commits[first[names[i]]] for i in steady + backlog if i in lat), default=t0_wall
        )
        batches = [
            p for p in progress
            if p.get("batchId", -1) > warm_batches and p.get("numInputRows", 0) > 0
        ]
        lval, lpct, ln = tail(steady_lat)
        out = {
            "progress": progress,
            "latency_by_file": {names[i]: v for i, v in lat.items()},
            "feeder_error": feeder["error"],
            "tail_pct": lpct, "n": ln,
            "e2e": {
                "wall_s": last_commit - t0_wall,
                # an op is one fed file; its latency runs from its due time
                "op_p50_s": median(steady_lat),
                "op_tail_s": lval,
                "lat_p50_s": median(steady_lat),
                "lat_tail_s": lval,
                "drain_events_per_s": median(drain_rates),
            },
        }
        out["layer"] = self._layers(
            tracer, snap, after, batches, steady, feeder, lat, names, t0, t_end, first
        )
        out["layer"]["spark.codegen_compiles"] = compiles
        # the lead files' commits were awaited in set-up
        out["committed"] = {names[i] for i in lat} | {names[i] for i in range(feed.n_lead)}
        return out

    def _layers(self, tracer, snap, after, batches, steady, feeder, lat, names, t0, t_end,
                first):
        from harness import stage_totals

        steady_batches = {first[names[i]] for i in steady if names[i] in first}
        sb = [p for p in batches if p["batchId"] in steady_batches]

        def phase(key, rows):
            return median([p["durationMs"].get(key, 0) for p in rows])

        late = [feeder["landed"][i] - feeder["due"][i] for i in steady if i in feeder["landed"]]
        # landed-but-uncommitted files, sampled at every landing
        done = {i: feeder["due"][i] + v for i, v in lat.items()}
        backlog_max = 0
        for i, t in feeder["landed"].items():
            backlog_max = max(
                backlog_max,
                sum(1 for j, tl in feeder["landed"].items()
                    if tl <= t and done.get(j, float("inf")) > t),
            )
        sink_files = [p for p in self.dirs["sink"].rglob("*.json.gz")]
        sink_bytes = sum(p.stat().st_size for p in sink_files)
        layer = {
            "streaming.query_planning_ms_p50": phase("queryPlanning", sb),
            "streaming.wal_commit_ms_p50": phase("walCommit", sb),
            "streaming.commit_offsets_ms_p50": phase("commitOffsets", sb),
            "streaming.latest_offset_ms_p50": phase("latestOffset", sb),
            "streaming.get_batch_ms_p50": phase("getBatch", sb),
            "streaming.add_batch_ms_p50": phase("addBatch", batches),
            "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in batches]),
            "streaming.batches": len(batches),
            "streaming.backlog_files_max": backlog_max,
            "sources.bronze.files_written": len(sink_files),
            "sources.bronze.mb_written": sink_bytes / 2**20,
            "sources.bronze.bytes_per_event": sink_bytes / self.feed.n_events,
            "feeder.late_max_s": max(late, default=0.0),
        }
        if tracer.enabled:
            seen = {(s["stageId"], s["attemptId"]) for s in snap[0]}
            new = [s for s in after[0] if (s["stageId"], s["attemptId"]) not in seen
                   and s.get("status") in ("COMPLETE", "FAILED")]
            tot = stage_totals(new)
            wall = t_end - t0
            cpus = self.spark.sparkContext.defaultParallelism
            layer.update({
                "spark.stages": tot["stages"],
                "spark.tasks": tot["tasks"],
                "spark.utilization": tot["task_run_s"] / (wall * cpus),
                "spark.idle_core_s": wall * cpus - tot["task_run_s"],
                "spark.task_cpu_s": tot["task_cpu_s"],
                "spark.shuffle_write_mb": tot["shuffle_write_mb"],
                "spark.shuffle_read_mb": tot["shuffle_read_mb"],
                "spark.spill_mb": tot["spill_mb"],
                "spark.gc_s": tot["gc_s"],
                "catalog.input_mb": tot["input_mb"],
            })
            # batch spans: durations are exact; the addBatch child is
            # placed at the trigger's start (only its length is known)
            from datetime import datetime

            off = time.time() - time.perf_counter()
            for p in batches:
                start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                s0 = start - off
                dur = p["durationMs"].get("triggerExecution", 0) / 1e3
                sid = tracer.span("streaming", f"batch{p['batchId']}", s0, s0 + dur)
                tracer.span("sources", "addBatch", s0,
                            s0 + p["durationMs"].get("addBatch", 0) / 1e3, sid)
        return layer

    def _sink_digests(self) -> pd.Series:
        """Digests of every row in the files the sink's ``_spark_metadata``
        log commits, indexed by event_id; partition values from the path."""
        sink = self.dirs["sink"]
        files = set()
        for p in (sink / "_spark_metadata").iterdir():
            if p.name.startswith(".") or p.name.endswith(".tmp"):
                continue
            for line in p.read_text().splitlines()[1:]:
                e = json.loads(line)
                if e.get("action", "add") == "add":
                    files.add(Path(unquote(urlparse(e["path"]).path)))
        opts = pj.ParseOptions(explicit_schema=SINK_SCHEMA)
        tables = []
        for path in sorted(files):
            t = pj.read_json(pa.input_stream(str(path), compression="gzip"), parse_options=opts)
            for seg in path.parent.relative_to(sink).parts:
                k, v = seg.split("=", 1)
                t = t.append_column(k, pa.array([int(v)] * t.num_rows, pa.int64()))
            tables.append(t.select(SINK_SCHEMA.names + ["year", "month", "day", "hour"]))
        rows = pa.concat_tables(tables).to_pandas()
        rows["ts_us"] = pd.to_datetime(rows["timestamp"], utc=True, format="ISO8601").astype(
            "int64") // 1000
        return row_digests(rows)

    def check(self, committed) -> tuple[int, int, list]:
        """Per fed file: each of its events in the sink exactly once, as
        the row ``expected_rows`` predicts; plus one sink-wide op: the row
        count equals the count fed and no unfed event_id is present."""
        feed = self.feed
        sink = self._sink_digests()
        counts = sink.index.value_counts()
        once = sink[~sink.index.duplicated(keep=False)]
        seen = counts.reindex(feed.digests.index, fill_value=0).to_numpy()
        pos = once.index.get_indexer(feed.digests.index)
        wrong = (pos >= 0) & (once.to_numpy()[pos] != feed.digests.to_numpy())
        n_files = len(feed.files)
        bad_by_file = np.bincount(feed.file_of, weights=seen != 1, minlength=n_files)
        wrong_by_file = np.bincount(feed.file_of, weights=wrong, minlength=n_files)
        errors = []
        failed = 0
        for i, f in enumerate(feed.files):
            name = f"f{i:05d}.json"
            bad, wrong = int(bad_by_file[i]), int(wrong_by_file[i])
            if name not in committed:
                errors.append(f"{name}: never committed")
                failed += 1
            elif bad or wrong:
                errors.append(
                    f"{name}: {bad} events not exactly once, {wrong} rows not as expected "
                    f"({f['invalid']} of {f['n']} expected invalid)"
                )
                failed += 1
        extra = int((~counts.index.isin(feed.digests.index)).sum())
        if len(sink) != feed.n_events or extra:
            errors.append(f"sink rows {len(sink)} (fed {feed.n_events}), {extra} unfed ids")
            failed += 1
        return n_files + 1, failed, errors
