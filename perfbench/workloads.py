"""The benchmark's workloads. Each one runs against a session that
:func:`setup` built, measures for ``seconds`` and checks its outputs.

Each returns a dict with ``e2e`` (end-to-end metrics), ``layers``
(per-layer metrics, filled in when ``tracer`` is set), ``attempted``,
``failed``, ``checks`` and ``inputs``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from checks import TABLES, check_stream, compare_replay, count_rows, oracle_rows
from probes import ProgressCollector, SparkCounters, TimedSink, Tracer

import __spark_entry__ as entry
from clickestream_project_bigdata_spark.session import get_spark
from clickestream_project_bigdata_spark.sources.readers import (
    events_from_fixture,
    events_stream_from_chunks,
)
from clickestream_project_bigdata_spark.streaming import ParquetSink, run_all_analyses, start_stream

FUNNEL = entry.FUNNEL_STEPS  # the generated data's event vocabulary
HERE = os.path.dirname(os.path.abspath(__file__))

#: replay_backlog: events in the seeded backlog, drained once per rep; a run
#: measures at least MIN_REPS reps, so that its median does not rest on two
REPLAY_EVENTS = 50_000
MIN_REPS = 3
#: stream_freshness: one chunk of CHUNK_EVENTS lands every CHUNK_INTERVAL_S
CHUNK_EVENTS = 48
CHUNK_INTERVAL_S = 0.08
#: files per trigger: several times the chunks that land during one 2-4 s
#: batch, so each batch takes the whole backlog and none carries over
MAX_FILES = 200
#: set-up's warm-up drains a batch of WARM_EVENTS once, cold, and then
#: WARM_PASSES more times from WARM_PASSES threads at once. A fresh JVM's
#: passes keep getting faster for 30-40 s (18, 5.7, 4.6, 4.4 s, then
#: 3.1-3.4 s on a 4-core box) while the JIT compiles the driver's hot paths;
#: concurrent passes run more of that code per second (six passes on three
#: threads took 16 s, three in turn 18 s) and leave the JVM warmer
WARM_EVENTS = 50_000
WARM_PASSES = 4
#: stream_freshness runs this long, unmeasured, before its measured window
WARM_IN_S = 3.0
#: samples a tail percentile must leave above it
TAIL_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 1] of ``values``."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(round(q * len(s), 9)) - 1))]


def tail_quantile(n: int) -> float:
    """The quantile ``freshness_p90_ms`` is taken at for ``n`` samples: 0.9,
    or the highest below it that leaves ``TAIL_BEYOND`` samples above it,
    but never below the median."""
    return max(0.5, min(0.9, 1 - TAIL_BEYOND / n))


def setup(work: str, tracer: Tracer | None) -> tuple[object, dict[str, float]]:
    """``get_spark``, which launches the JVM, plus the untimed warm-up:
    passes of a ``WARM_EVENTS`` batch through ``events_from_fixture`` and the
    ten-analysis fan-out into a ``ParquetSink``, one alone and then
    ``WARM_PASSES`` at once, each on its own thread. Call it once per
    process: a second call would find the JVM running and time a warm
    set-up."""
    t0 = time.time()
    spark = get_spark("perfbench", extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    t1 = time.time()
    sink = ParquetSink(os.path.join(work, "warm_out"))

    def warm_pass(k: int) -> tuple[float, float]:
        p0 = time.time()
        run_all_analyses(events_from_fixture(spark, os.path.join(work, "warm")), k, sink, funnel_steps=FUNNEL)
        return p0, time.time()

    passes = [warm_pass(0)]
    with ThreadPoolExecutor(WARM_PASSES) as pool:
        passes += pool.map(warm_pass, range(1, WARM_PASSES + 1))
    t2 = time.time()
    if tracer is not None:
        root = tracer.record("setup", t0, t2, group="setup")
        tracer.record("session.get_spark", t0, t1, group="setup", parent=root)
        warm = tracer.record("session.warmup", t1, t2, group="setup", parent=root)
        for p0, p1 in passes:
            tracer.record("session.warmup_pass", p0, p1, group="setup", parent=warm)
    return spark, {
        "get_spark_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0,
        "warmup_passes_s": [p1 - p0 for p0, p1 in passes],
    }


def write_warm_input(work: str, seed: int) -> None:
    gen.write_events_parquet(gen.make_events(seed + 7919, WARM_EVENTS), os.path.join(work, "warm"))


def _sink_layers(sink: TimedSink, fanout: dict[int, float]) -> dict[str, float]:
    """Median write time per table, and per batch the fan-out (the whole
    ``run_all_analyses`` call) and its part outside the ten writes."""
    out = {f"sink.{t}_s": statistics.median(sink.durations[t]) for t in TABLES}
    out["driver.fanout_s"] = statistics.median(fanout.values())
    out["driver.overhead_s"] = statistics.median(f - sink.sink_s[b] for b, f in fanout.items())
    return out


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _spark_layers(counters: SparkCounters, j0: int, j1: int, units: int) -> dict[str, float]:
    d = counters.delta(j0, j1)
    return {f"spark.{k}": v / units for k, v in d.items()}


# ---------------------------------------------------------------------------
# replay_backlog
# ---------------------------------------------------------------------------

def replay_backlog(spark, work: str, seed: int, seconds: float, tracer: Tracer | None) -> dict:
    """Closed loop, one client: drain the seeded backlog again and again
    through ``events_from_fixture`` -> ``run_all_analyses`` -> a timed
    ``ParquetSink`` for ``seconds`` and at least ``MIN_REPS`` reps. Set-up
    has warmed the same path on a batch of the same size. Every event of a
    rep is available when the rep starts, so its freshness is the rep's
    drain time. A run has too few reps for a tail percentile (see
    :func:`tail_quantile`), so here ``freshness_p90_ms`` is the median."""
    backlog = os.path.join(work, "backlog")
    ev = gen.make_events(seed, REPLAY_EVENTS)
    gen.write_events_parquet(ev, backlog)
    out = os.path.join(work, "replay_out")
    counters = SparkCounters(spark) if tracer is not None else None
    sink = TimedSink(ParquetSink(out), tracer, group="rep")
    walls, read_s, read_jobs, fanout = [], [], [], {}
    j_start = counters.job_count() if counters else 0
    t_end = time.time() + seconds
    rep = 0
    while rep < MIN_REPS or time.time() < t_end:
        t0 = time.time()
        j0 = counters.job_count() if counters else 0
        df = events_from_fixture(spark, backlog)
        t1 = time.time()
        j1 = counters.job_count() if counters else 0
        run_all_analyses(df, rep, sink, funnel_steps=FUNNEL)
        t2 = time.time()
        walls.append(t2 - t0)
        fanout[rep] = t2 - t1
        read_s.append(t1 - t0)
        read_jobs.append(j1 - j0)
        if tracer is not None:
            root = tracer.record("rep", t0, t2, group=f"rep{rep}")
            tracer.record("sources.read", t0, t1, group=f"rep{rep}", parent=root)
            tracer.record("driver.run_all_analyses", t1, t2, group=f"rep{rep}", parent=root)
        rep += 1
    j_end = counters.job_count() if counters else 0

    oracle, duck_s = oracle_rows(os.path.dirname(HERE), backlog)
    verdict = compare_replay(spark, os.path.dirname(HERE), out, rep - 1, oracle)
    failed = sum(v is not None for v in verdict.values())
    # the earlier reps wrote every table with the oracle's row count
    failed += sum(
        count_rows(out, t, r) != len(oracle[t][1]) for r in range(rep - 1) for t in TABLES
    )
    n = len(ev["event_id"])
    e2e = {
        "events_per_s": statistics.median(n / w for w in walls),
        "freshness_p50_ms": 1e3 * percentile(walls, 0.5),
        "freshness_p90_ms": 1e3 * percentile(walls, tail_quantile(len(walls))),
    }
    res = {
        "e2e": e2e,
        "attempted": rep * len(TABLES),
        "failed": failed,
        "checks": verdict,
        "inputs": gen.describe_events(ev)
        | {"reps": rep, "freshness_samples": rep, "freshness_p90_quantile": tail_quantile(rep)},
        "control_duckdb_s": duck_s,
        "walls_s": walls,
    }
    if tracer is not None:
        files, size = _dir_bytes(out)
        layers = {
            "sources.read_s": statistics.median(read_s),
            "sources.read_jobs": statistics.median(read_jobs),
            "sinks.bytes_written": size / rep,
            "sinks.files_written": files / rep,
            "driver.jobs_per_batch": (j_end - j_start - sum(read_jobs)) / rep,
        }
        layers |= _sink_layers(sink, fanout)
        layers |= _spark_layers(counters, j_start, j_end, rep)
        res["layers"] = layers
    return res


# ---------------------------------------------------------------------------
# stream_freshness
# ---------------------------------------------------------------------------

def _batches_of_files(ckpt: str) -> dict[str, int]:
    """Chunk file name -> micro-batch id, from the file source's log in the
    checkpoint (one file per batch, one JSON line per input file)."""
    src = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(src):
        if not name.isdigit():
            continue
        with open(os.path.join(src, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    out[os.path.basename(json.loads(line)["path"])] = int(name)
    return out


def stream_freshness(spark, work: str, seed: int, seconds: float, tracer: Tracer | None) -> dict:
    """Open loop: a generator process lands one chunk every
    ``CHUNK_INTERVAL_S``, on a schedule that does not wait for the stream;
    ``events_stream_from_chunks`` -> ``start_stream`` -> a timed
    ``ParquetSink``. Freshness runs from each chunk's scheduled landing
    time to the end of the last sink write of its micro-batch. Chunks due in
    the first ``WARM_IN_S`` are processed and checked but not measured."""
    chunks_dir = os.path.join(work, "chunks")
    os.makedirs(chunks_dir)
    n_chunks = int((WARM_IN_S + seconds) / CHUNK_INTERVAL_S)
    out, ckpt = os.path.join(work, "stream_out"), os.path.join(work, "ckpt")
    counters = SparkCounters(spark) if tracer is not None else None
    listener = ProgressCollector() if tracer is not None else None
    if listener is not None:
        spark.streams.addListener(listener)
    sink = TimedSink(ParquetSink(out), tracer, group="batch")
    t_read = time.time()
    events = events_stream_from_chunks(spark, chunks_dir, max_files=MAX_FILES)
    read_s = time.time() - t_read
    j_start = counters.job_count() if counters else 0
    query = start_stream(events, sink, ckpt, funnel_steps=FUNNEL)
    landed_path = os.path.join(work, "landed.json")
    t0 = time.time() + 1.0
    proc = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "gen.py"), "land",
            "--seed", str(seed), "--dir", chunks_dir, "--chunks", str(n_chunks),
            "--chunk-events", str(CHUNK_EVENTS), "--interval", str(CHUNK_INTERVAL_S),
            "--t0", repr(t0), "--out", landed_path,
        ]
    )
    try:
        if proc.wait(timeout=WARM_IN_S + seconds + 60) != 0:
            raise RuntimeError(f"chunk generator exited with {proc.returncode}")
        query.processAllAvailable()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        query.stop()
    j_end = counters.job_count() if counters else 0
    if listener is not None:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # deliver the last progress
        spark.streams.removeListener(listener)
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")

    with open(landed_path) as fh:
        landed = json.load(fh)
    batch_of = _batches_of_files(ckpt)
    measured = [c for c in landed if c["scheduled"] >= t0 + WARM_IN_S]
    fresh = [1e3 * (sink.windows[batch_of[c["name"]]][1] - c["scheduled"]) for c in measured]
    batches = sorted({batch_of[c["name"]] for c in measured})
    n_events = n_chunks * CHUNK_EVENTS
    ev = gen.make_events(seed, n_events)
    verdict = check_stream(spark, out, sorted(sink.windows), n_events)
    failed = sum(v is not None for v in verdict.values())
    # delivered rate: the window's events over the time from the window's
    # start until the last of them is written, so every trigger cycle that
    # drained them counts, and a slower stream delivers its tail later
    delivered_s = sink.windows[batches[-1]][1] - (t0 + WARM_IN_S)
    e2e = {
        "events_per_s": len(measured) * CHUNK_EVENTS / delivered_s,
        "freshness_p50_ms": percentile(fresh, 0.5),
        "freshness_p90_ms": percentile(fresh, tail_quantile(len(fresh))),
    }
    res = {
        "e2e": e2e,
        "attempted": len(sink.windows) * len(TABLES),
        "failed": failed,
        "checks": verdict,
        "inputs": gen.describe_events(ev)
        | {
            "chunks": n_chunks, "chunk_events": CHUNK_EVENTS, "interval_s": CHUNK_INTERVAL_S,
            "offered_events_per_s": CHUNK_EVENTS / CHUNK_INTERVAL_S, "max_files_per_trigger": MAX_FILES,
            "batches": len(batches), "freshness_samples": len(fresh),
            "freshness_p90_quantile": tail_quantile(len(fresh)),
            "batch_s": [sink.windows[b][1] - sink.windows[b][0] for b in batches],
        },
    }
    if tracer is not None:
        files, size = _dir_bytes(out)
        nb = len(sink.windows)
        layers = {
            "sources.read_s": read_s,
            "sources.read_jobs": 0,
            "sinks.bytes_written": size / nb,
            "sinks.files_written": files / nb,
            "driver.jobs_per_batch": (j_end - j_start) / nb,
        }
        progress = next(iter(listener.progress.values()), [])
        # the foreachBatch call, i.e. run_all_analyses, is the batch's addBatch phase
        add_batch = {p["batchId"]: p["durationMs"]["addBatch"] / 1e3 for p in progress if "addBatch" in p["durationMs"]}
        layers |= _sink_layers(sink, {b: add_batch[b] for b in batches})
        layers |= _spark_layers(counters, j_start, j_end, nb)
        layers |= _stream_layers(progress, landed, batch_of)
        res["layers"] = layers
        gen.write_events_parquet(ev, os.path.join(work, "landed_events"))
        res["control_duckdb_s"] = oracle_rows(os.path.dirname(HERE), os.path.join(work, "landed_events"))[1]
        for b in batches:
            tracer.record("batch", sink.windows[b][0], sink.windows[b][1], group=f"batch{b}")
    return res


def _stream_layers(progress: list[dict], landed: list[dict], batch_of: dict[str, int]) -> dict[str, float]:
    """Per-batch medians from ``StreamingQueryProgress``, and the backlog
    of landed-but-unread chunks at each trigger."""
    from datetime import datetime

    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in progress if p["numInputRows"] > 0]
        return float(statistics.median(vals)) if vals else 0.0

    work = [p for p in progress if p["numInputRows"] > 0]
    backlog = 0
    for p in work:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        before = sum(1 for c in landed if c["landed"] <= start and batch_of[c["name"]] >= p["batchId"])
        backlog = max(backlog, before)
    return {
        "stream.batches": len(work),
        "stream.rows_per_batch_p50": statistics.median(p["numInputRows"] for p in work) if work else 0,
        "stream.trigger_ms_p50": med("triggerExecution"),
        "stream.add_batch_ms_p50": med("addBatch"),
        "stream.query_planning_ms_p50": med("queryPlanning"),
        "stream.wal_commit_ms_p50": med("walCommit"),
        "stream.latest_offset_ms_p50": med("latestOffset"),
        "stream.empty_batch_ratio": (len(progress) - len(work)) / len(progress) if progress else 0.0,
        "stream.backlog_chunks_max": backlog,
        "stream.generator_lag_ms_max": 1e3 * max(c["landed"] - c["scheduled"] for c in landed),
    }


WORKLOADS = {"replay_backlog": replay_backlog, "stream_freshness": stream_freshness}
