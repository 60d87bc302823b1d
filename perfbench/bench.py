"""One benchmark run: set up, warm up, time ``run_with_checkpoint`` for
``--seconds``, gate every timed output, and report the end-to-end metrics
(``--trace 0``) or the per-layer metrics of a traced pass (``--trace 1``).

Load: one process, ``local[nproc]`` task slots, each timed run a closed
loop of one checkpointed extraction over the whole input."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

from pyspark.sql import functions as F

from pdf_extractors_spark import checkpoint, pipeline
from pdf_extractors_spark.extractors import dispatch
from pdf_extractors_spark.fixtures.payloads import FAMILIES

from . import gate, sparkenv, workloads
from .procs import PeakRss
from .stats import Mismatches, quartiles
from .tracing import Tracer

N_BUCKETS = 16
FILES_PER_CORE = 8
WARMUP_RUNS = 3  # the first full runs in a fresh JVM run 20-150% slower
MIN_TIMED_RUNS = 3
PROBE_PER_KIND = 64
WALL_LIMIT_S = 110  # stop timing new runs past this point of the run
KEEP_INPUTS = 24  # newest cached input tables kept


END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "match_frac": "ratio",
    "out_bytes_per_turn": "B/turn",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.worker_warmup_s": "s",
    "extractors.seq_us_per_turn": "us/turn",
    **{f"extractors.us_per_turn.{k}": "us/turn" for k in (*FAMILIES, workloads.CHAT_KIND)},
    "extractors.parse_errors": "count",
    "pipeline.extract_s": "s",
    "pipeline.overhead_us_per_turn": "us/turn",
    "pipeline.kernel_share": "ratio",
    "pipeline.write_s": "s",
    "pipeline.speedup_vs_sequential": "x",
    "pipeline.scaling_eff": "ratio",
    "checkpoint.run_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.files_written": "count",
    "checkpoint.bytes": "B",
    "checkpoint.buckets_processed": "count",
    "checkpoint.buckets_skipped": "count",
    "checkpoint.noop_resume_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.read_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "trace.overhead_ratio": "ratio",
}


def _no_span(_name):
    return contextlib.nullcontext()


class Workload:
    """The timed operation of one workload over its input table."""

    def __init__(self, spark, inp: workloads.Input, out_root: str):
        self.spark = spark
        self.inp = inp
        self.out_root = out_root
        self.table = spark.read.parquet(inp.path)

    def prepare(self, name: str) -> str:
        out = os.path.join(self.out_root, name)
        shutil.rmtree(out, ignore_errors=True)
        return out

    def run(self, out: str, fail_after: int | None = None) -> dict:
        return checkpoint.run_with_checkpoint(
            self.spark,
            self.table,
            out,
            n_buckets=N_BUCKETS,
            fail_after=fail_after,
            input_snapshot_id=self.inp.snapshot_id(),
        )


def _committed_rows(out: str, buckets: list[int]) -> int:
    manifests = checkpoint.committed_buckets(out)
    return sum(manifests[k]["rows"] for k in buckets)


def _files_written(out: str, buckets: list[int]) -> int:
    return sum(
        1
        for k in buckets
        for name in os.listdir(os.path.join(out, f"bucket={k}"))
        if name.endswith(".parquet")
    )


def _evict_inputs(cache_dir: str, keep: int) -> None:
    entries = sorted(
        (e for e in os.scandir(cache_dir) if e.is_dir() and ".tmp-" not in e.name),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[:-keep]:
        shutil.rmtree(e.path, ignore_errors=True)


def _us_per_turn(turns: list[tuple]) -> float:
    """Sequential µs/turn of ``dispatch.to_row`` over ``turns``: the
    median of 3 passes, so first-use costs fall in the one left out."""
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for conv_id, turn_idx, tool, text in turns:
            dispatch.to_row(conv_id, turn_idx, tool, text)
        passes.append((time.perf_counter() - t0) * 1e6 / len(turns))
    return sorted(passes)[1]


def _kind_us(seed: int) -> dict[str, float]:
    """Sequential µs/turn per kind over a fixed seeded probe set."""
    return {kind: _us_per_turn(turns) for kind, turns in workloads.kind_probe(seed, PROBE_PER_KIND).items()}


def _scaling_probe(inp: workloads.Input) -> dict:
    cmd = [sys.executable, "-m", "perfbench.scaling_probe", "--input", inp.path]
    proc = subprocess.run(cmd, cwd=sparkenv.ROOT, capture_output=True, text=True, timeout=150)
    if proc.returncode != 0:
        raise RuntimeError(f"scaling probe failed: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    wall0 = time.monotonic()

    def phase(name: str) -> None:
        print(f"perfbench: {name} at +{time.monotonic() - wall0:.1f}s", file=sys.stderr, flush=True)

    spec = workloads.WORKLOADS[workload]
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    sparkenv.contain_scratch()
    run_id = uuid.uuid4().hex[:12]
    cache_dir = os.path.join(sparkenv.WORK, "inputs")
    out_root = os.path.join(sparkenv.WORK, "out", run_id)

    inp = workloads.materialize(spec.shape, seed, spec.turns, FILES_PER_CORE * nproc, cache_dir)
    os.utime(inp.path)
    _evict_inputs(cache_dir, KEEP_INPUTS)
    print(
        f"perfbench {workload} seed={seed} master={master} buckets={N_BUCKETS} run_id={run_id}\n"
        f"input: turns={inp.turns} payload_bytes={inp.payload_bytes} "
        f"files={FILES_PER_CORE * nproc} kinds={json.dumps(inp.kinds)}",
        flush=True,
    )
    phase("input ready")
    oracle = gate.Oracle(inp, seed)
    phase("oracle ready")
    tracer = Tracer(run_id) if trace else None
    span = tracer.span if tracer else _no_span

    spark, get_spark_s, warmup_s = sparkenv.start_session(master, span)
    phase("session ready")
    try:
        wl = Workload(spark, inp, out_root)
        phase("workload ready")

        for i in range(WARMUP_RUNS):
            warm = wl.prepare(f"warmup-{i}")
            wl.run(warm)
            shutil.rmtree(warm)

        phase("warm-up done")
        times, rates, peaks, bytes_per_turn = [], [], [], []
        mism = Mismatches()
        attempted = failed = 0
        while len(times) < MIN_TIMED_RUNS or sum(times) < seconds:
            if times and time.monotonic() - wall0 > WALL_LIMIT_S:
                break
            out = wl.prepare(f"timed-{len(times)}")
            attempted += 1
            try:
                with PeakRss() as rss:
                    t0 = time.perf_counter()
                    res = wl.run(out)
                    dt = time.perf_counter() - t0
            except Exception:  # report the failed run, then stop timing
                traceback.print_exc()
                failed += 1
                break
            rows = _committed_rows(out, res["processed"])
            m = gate.check(spark, out, oracle, N_BUCKETS)
            if m.total:
                failed += 1
                mism.add(m)
            meta = checkpoint.metrics(out)
            times.append(dt)
            rates.append(rows / dt)
            peaks.append(rss.peak_bytes / 2**20)
            bytes_per_turn.append(meta["bytes"] / max(1, meta["rows"]))
            shutil.rmtree(out)
        print("timed runs (s): " + " ".join(f"{t:.3f}" for t in times), flush=True)
        phase("timed runs done")

        if trace:
            layers, extract_turns, counts, traced_mismatches = _traced_pass(
                spark, wl, oracle, tracer, seed, nproc, times
            )
            tracer.sc = None  # the session ends before the last spans
            attempted += 1
            failed += bool(traced_mismatches)
    finally:
        phase("shutting down")
        sparkenv.shutdown(spark)
        shutil.rmtree(out_root, ignore_errors=True)
        phase("shut down")

    if not times:
        raise RuntimeError("no timed run completed")
    gated = len(times)
    mismatch_frac = mism.worst_share(inp.turns * gated, len(oracle.rows) * gated, gated)
    summary = {
        "workload": workload,
        "seed": seed,
        "input": {"turns": inp.turns, "payload_bytes": inp.payload_bytes, "kinds": inp.kinds},
        "timed_runs": len(times),
        "mismatch_frac": mismatch_frac,
        "mismatches": vars(mism),
    }
    if trace:
        layers["session.get_spark_s"] = get_spark_s
        layers["session.worker_warmup_s"] = warmup_s
        with span("pipeline.scaling_probe_local1"):
            probe = _scaling_probe(inp)
        nproc_rate = extract_turns / layers["pipeline.extract_s"]
        layers["pipeline.scaling_eff"] = nproc_rate / (nproc * probe["turns"] / probe["extract_s"])
        tracer.write(
            os.path.join(sparkenv.WORK, "traces", f"{workload}-s{seed}-{run_id}.json"),
            {**summary, "per_layer": layers, "scaling_probe": probe},
            counts,
        )
        for name in PER_LAYER_UNITS:
            print(f"{name:<40} {layers[name]:16.4f} {PER_LAYER_UNITS[name]}")
        metrics = {name: (layers[name], unit) for name, unit in PER_LAYER_UNITS.items()}
    else:
        samples = {
            "turns_per_s": rates,
            "setup_s": [get_spark_s + warmup_s],
            "match_frac": [1.0 - mismatch_frac],
            "out_bytes_per_turn": bytes_per_turn,
            "peak_rss_mb": peaks,
        }
        metrics = {}
        for name, unit in END_TO_END_UNITS.items():
            q1, med, q3 = quartiles(samples[name])
            metrics[name] = (med, unit)
            print(f"{name:<20} {med:14.4f} {unit:<8} (q1 {q1:.4f}, q3 {q3:.4f}, n={len(samples[name])})")
        print(
            f"{'mismatch_frac':<20} {mismatch_frac:14.4f} ratio    (worst share of failed checks; "
            f"{mism.total} failed over {gated} outputs: {json.dumps(vars(mism))})"
        )
    print("summary: " + json.dumps(summary), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _traced_pass(spark, wl: Workload, oracle, tracer: Tracer, seed: int, nproc: int, untraced: list[float]):
    """Time each layer's public calls once, in spans, after the untraced
    runs. Returns (per-layer metrics, turns extracted, Spark counts per
    span, mismatches of the traced output)."""
    tracer.sc = spark.sparkContext
    span = tracer.span
    layers: dict = {}
    with span("traced_pass"):
        with span("extractors.kind_probe"):
            for kind, us in _kind_us(seed).items():
                layers[f"extractors.us_per_turn.{kind}"] = us
        with span("extractors.seq_sample"):
            seq_us = _us_per_turn(oracle.sample)
        with span("pipeline.extract_transcripts"):
            turns, _errors = sparkenv.extract_count(wl.table)
        with span("pipeline.write_extracted"):
            pipeline.write_extracted(
                pipeline.extract_transcripts(wl.table), os.path.join(wl.out_root, "write-extracted")
            )
        out = wl.prepare("traced")
        with span("checkpoint.run_with_checkpoint"):
            res = wl.run(out)
        with span("checkpoint.run_with_checkpoint.noop"):
            wl.run(out)
        # the resume path: kill after half the buckets, then resume the rest
        half = wl.prepare("traced-half")
        with span("checkpoint.run_with_checkpoint.killed"), contextlib.suppress(RuntimeError):
            wl.run(half, fail_after=N_BUCKETS // 2)
        with span("checkpoint.run_with_checkpoint.resume"):
            wl.run(half)
        with span("checkpoint.read_extracted"):
            checkpoint.read_extracted(spark, out).agg(F.count("*")).collect()
        with span("checkpoint.metrics"):
            meta = checkpoint.metrics(out)
        with span("gate.check"):
            m = gate.check(spark, out, oracle, N_BUCKETS)
    counts = tracer.spark_counts()

    extract_s = tracer.last("pipeline.extract_transcripts").duration
    run = tracer.last("checkpoint.run_with_checkpoint")
    busy_us_per_turn = extract_s * nproc * 1e6 / turns
    layers.update(
        {
            "extractors.seq_us_per_turn": seq_us,
            "extractors.parse_errors": oracle.parse_errors,
            "pipeline.extract_s": extract_s,
            "pipeline.overhead_us_per_turn": busy_us_per_turn - seq_us,
            "pipeline.kernel_share": seq_us / busy_us_per_turn,
            "pipeline.write_s": tracer.last("pipeline.write_extracted").duration - extract_s,
            "pipeline.speedup_vs_sequential": seq_us * turns / 1e6 / extract_s,
            "checkpoint.run_s": run.duration,
            "checkpoint.commit_s": run.duration - extract_s,
            "checkpoint.files_written": _files_written(out, res["processed"]),
            "checkpoint.bytes": meta["bytes"],
            "checkpoint.buckets_processed": len(res["processed"]),
            "checkpoint.buckets_skipped": len(res["skipped"]),
            "checkpoint.noop_resume_s": tracer.last("checkpoint.run_with_checkpoint.noop").duration,
            "checkpoint.resume_s": tracer.last("checkpoint.run_with_checkpoint.resume").duration,
            "checkpoint.read_s": tracer.last("checkpoint.read_extracted").duration,
            "spark.stages": counts[run.span_id]["stages"],
            "spark.tasks": counts[run.span_id]["tasks"],
            "spark.tasks_failed": counts[run.span_id]["tasks_failed"],
            "trace.overhead_ratio": run.duration / statistics.median(untraced) - 1.0,
        }
    )
    return layers, turns, counts, m.total
