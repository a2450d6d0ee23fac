#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from the seed, starts the program in a fresh worker process
(`worker.py`) on local[<cores of this host>], measures, checks the
outputs, and prints one JSON object as the last line of stdout:
end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. The full record (every run, span and lag sample) is
written to `.perfbench_results/`. Exits non-zero without a result when
the program or its committed data is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from datetime import datetime
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import gen  # noqa: E402
import probes  # noqa: E402

WORK = ROOT / ".perfbench_work"
RESULTS = ROOT / ".perfbench_results"
DEADLINE_S = 170.0
REQUIRED = ("binlogpipe/session.py", "binlogpipe/job.py",
            "binlogpipe/streaming.py", "data/fixture_events.parquet")

# Sizes, fixed per workload: the seed changes header bytes only, never
# the amount of work.
BATCH = {"batch_mixed": {"reps": 200, "files": 8}}
SAMPLE_ROWS = 200
# The live follower's load: one cold file, then a burst of `files` files
# `period_s` apart, placed inside one trigger interval of the follower's
# 1-second processingTime trigger so that they land in one micro-batch.
STREAM = {"reps_per_file": 1, "files": 40, "period_s": 0.02,
          "trigger_s": 1.0, "burst_offset_s": 0.1, "drain_s": 60.0}

END_TO_END = {
    "setup_s": "s", "cold_run_s": "s", "seq_per_s": "seq/s",
    "lag_p50_s": "s", "lag_tail_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "binsource.split_s": "s", "binsource.events": "count",
    "parse.header_s": "s", "parse.pack_s": "s",
    "parse.pack_bytes_to_py": "bytes", "parse.pack_bytes_from_py": "bytes",
    "parse.py_worker_start_s": "s",
    "route.exchange_s": "s", "route.shuffle_write_bytes": "bytes",
    "route.spill_bytes": "bytes", "route.task_skew": "ratio",
    "route.write_s": "s", "route.files_written": "count",
    "enrich.dim_s": "s", "enrich.dim_rows": "count", "enrich.join_s": "s",
    "enrich.hit_ratio": "ratio",
    "decode.s": "s", "decode.QUERY_s": "s", "decode.GTID_s": "s",
    "decode.FORMAT_DESC_s": "s", "decode.TABLE_MAP_s": "s",
    "decode.rows_s": "s", "decode.other_s": "s",
    "decode.bytes_to_py": "bytes", "decode.py_worker_start_s": "s",
    "decode.jobs": "count", "decode.quarantined": "count",
    "coltypes.cells": "count",
    "lineage.s": "s", "aggregate.s": "s", "aggregate.routed_scans": "count",
    "job.jobs_per_run": "count", "job.stage.route_s": "s",
    "job.stage.enrich_s": "s", "job.stage.decode_s": "s",
    "job.stage.lineage_s": "s", "job.stage.aggregate_s": "s",
    "job.overlap_s": "s", "job.task_failures": "count",
    "streaming.batch_s": "s", "streaming.files_per_batch": "count",
    "streaming.trigger_wait_s": "s", "streaming.jobs_per_batch": "count",
    "job.peak_rss_mb": "MiB", "job.cpu_s": "s",
    "trace.overhead_s": "s",
}


def stop_tree(proc) -> None:
    """SIGKILL every process of the worker's session (worker, driver JVM,
    Python UDF workers) and wait until all have ended."""
    for p in [proc.pid, *probes.session_pids(proc.pid)]:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    probes.wait_for(lambda: not probes.session_pids(proc.pid), 30.0)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _wait_file(p: Path, proc, deadline: float) -> bool:
    return probes.wait_for(lambda: p.exists() or proc.poll() is not None,
                           max(0.0, deadline - time.monotonic())
                           ) and p.exists()


def drive_stream(work: Path, files: list, proc, deadline: float) -> dict:
    """The load generator: an open-loop drop schedule (file 0 present at
    start; once its cold micro-batch has committed, a burst of
    STREAM["files"] files at a fixed period). It never waits for the
    system: rename times are the schedule's, whatever the follower does.
    """
    inp, ck = work / "in", work / "ck"
    info: dict = {"drops": {}, "late_max_s": 0.0}
    if not _wait_file(work / "started", proc, deadline):
        raise RuntimeError("stream did not start")
    t_start = json.loads((work / "started").read_text())["t"]
    if not _wait_file(ck / "commits" / "0", proc, deadline):
        raise RuntimeError("first micro-batch never committed")
    info["cold_run"] = [t_start, (ck / "commits" / "0").stat().st_mtime]
    # start just after the next trigger boundary (epoch-aligned), so the
    # follower's post-commit re-check has passed and the whole burst is
    # picked up by the trigger that follows
    trig = STREAM["trigger_s"]
    t0 = (time.time() // trig + 1) * trig + STREAM["burst_offset_s"]
    for i in range(1, STREAM["files"] + 1):
        due = t0 + (i - 1) * STREAM["period_s"]
        while time.time() < due:
            time.sleep(min(0.002, max(0.0, due - time.time())))
        info["late_max_s"] = max(info["late_max_s"], time.time() - due)
        name = f"f{i:05d}.bin"
        gen.drop_file(inp, name, files[i][0])
        info["drops"][name] = time.time()
    probes.wait_for(
        lambda: not probes.file_lags(info["drops"], ck)["missing"]
        or proc.poll() is not None,
        min(STREAM["drain_s"], max(0.0, deadline - time.monotonic() - 20)),
        period=0.2)
    return info


def _batch_metrics(res: dict, clock, t_spawn: float) -> tuple:
    runs = res.get("runs", [])
    for r in runs:
        if "t_end" in r:
            r["wall_adj"] = clock.adjust(r["t_start"], r["t_end"])
    ok = [r for r in runs if not r["problems"]]
    warm = [r for r in runs[1:] if not r["problems"]]
    lags = [clock.adjust(r["t_start"], x) for r in warm for x in r["marks"]]
    t = probes.tail(lags)
    m = {
        "setup_s": clock.adjust(t_spawn, res["t_ready"]),
        "cold_run_s": runs[0]["wall_adj"] if runs and not runs[0]["problems"]
        else None,
        "seq_per_s": probes.median([r["events"] / r["wall_adj"]
                                    for r in warm]),
        "lag_p50_s": probes.median(lags),
        "lag_tail_s": t["value"],
    }
    detail = {"runs": [{k: v for k, v in r.items() if k != "executions"}
                       for r in runs],
              "lag_tail": t, "lag_samples": len(lags),
              "layers": {"job.cpu_s": probes.median(
                  [r["cpu"] for r in warm]) or 0.0}}
    return m, len(runs), len(runs) - len(ok), detail


def _epoch(iso: str) -> float:
    """A streaming progress timestamp ("2026-01-02T03:04:05.678Z")."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _stream_metrics(res: dict, spec: dict, info: dict, work: Path,
                    clock, t_spawn: float) -> tuple:
    lag = probes.file_lags(info["drops"], work / "ck")
    all_drops = dict(info["drops"], **{"f00000.bin": 0.0})
    done = probes.file_lags(all_drops, work / "ck")
    expected: dict[str, int] = {}
    for c in spec["file_sinks"][:len(all_drops)]:
        for k, v in c.items():
            expected[k] = expected.get(k, 0) + v
    problems = checks.stream_outputs(work / "out", expected, done)
    prog = [p for p in res.get("progress", []) if p["numInputRows"] > 0]
    steady = [p for p in prog if p["batchId"] >= 1]
    ev_per_file = spec["events_per_file"]

    def batch_s(p: dict) -> float:
        t0 = _epoch(p["timestamp"])
        return clock.adjust(t0, t0 + p["durationMs"]["triggerExecution"]
                            / 1000.0)

    bsec = [batch_s(p) for p in steady]
    raw = lag["lags"]
    adj = {f: clock.adjust(info["drops"][f], info["drops"][f] + x)
           for f, x in raw.items()}
    lags = list(adj.values())
    t = probes.tail(lags)
    m = {
        "setup_s": clock.adjust(t_spawn, res["t_ready"]),
        "cold_run_s": clock.adjust(*info["cold_run"]),
        "seq_per_s": (sum(p["numInputRows"] for p in steady) * ev_per_file
                      / sum(bsec) if bsec else None),
        "lag_p50_s": probes.median(lags),
        "lag_tail_s": t["value"],
    }
    dur_of = {p["batchId"]: batch_s(p) for p in prog}
    waits = [adj[f] - dur_of[lag["batch_of"][f]]
             for f in adj if lag["batch_of"].get(f) in dur_of]
    layers = {
        "streaming.batch_s": probes.median(bsec) or 0.0,
        "streaming.files_per_batch": probes.median(
            [p["numInputRows"] for p in steady]) or 0.0,
        "streaming.trigger_wait_s": probes.median(waits) or 0.0,
        "streaming.jobs_per_batch": res.get("jobs", 0) / max(1, len(prog)),
    }
    attempted = len(all_drops)
    failed = attempted if problems else 0
    detail = {"problems": problems, "batches": [
        {"id": p["batchId"], "files": p["numInputRows"],
         "s": p["durationMs"]["triggerExecution"] / 1000.0,
        "s_adj": dur_of[p["batchId"]]} for p in prog],
        "lags_raw": raw, "lag_tail": t, "lag_samples": len(lags),
        "late_max_s": info["late_max_s"], "layers": layers}
    return m, attempted, failed, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted([*BATCH, "stream_follow"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        return _fail(f"program files missing under {ROOT}: {missing}")

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    RESULTS.mkdir(exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    spec: dict = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "root": str(ROOT), "work": str(WORK), "cores": cores}
    if args.workload in BATCH:
        b = BATCH[args.workload]
        d = WORK / "input"
        spec["input"] = {
            "path": str(d),
            "expected": gen.write_batch_input(
                ROOT, b["reps"], args.seed, d, b["files"]),
            "sample": {k: v.hex() for k, v in gen.sample_rows(
                ROOT, b["reps"], args.seed, SAMPLE_ROWS).items()}}
    else:
        files = gen.build_binlog_files(ROOT, STREAM["reps_per_file"],
                                       STREAM["files"] + 1, args.seed)
        spec["file_sinks"] = [dict(c) for _, c in files]
        spec["events_per_file"] = sum(files[0][1].values())
        gen.drop_file(WORK / "in", "f00000.bin", files[0][0])
    spec_path = WORK / "spec.json"
    spec_path.write_text(json.dumps(spec))

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [env.get("PYTHONPATH")] if p])
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    env["TMPDIR"] = str(WORK / "tmp")
    # the driver JVM's own temp dirs too (spark-submit passes
    # SPARK_SUBMIT_OPTS to the JVM it launches; no Spark conf changes)
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        [p for p in [env.get("SPARK_SUBMIT_OPTS")] if p]
        + [f"-Djava.io.tmpdir={WORK / 'tmp'}"])
    log = open(WORK / "worker.log", "wb")
    clock = probes.StealClock().start()
    t_spawn = time.time()
    proc = subprocess.Popen([sys.executable, str(HERE / "worker.py"),
                             str(spec_path)], cwd=ROOT, env=env,
                            stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    info: dict = {}
    error = None
    res_path = WORK / "result.json"
    try:
        with probes.RssSampler(proc.pid) as rss:
            if args.workload == "stream_follow":
                try:
                    info = drive_stream(WORK, files, proc, deadline)
                finally:
                    (WORK / "stop").touch()
            # the worker writes its result before it stops the session;
            # the session's shutdown is not part of any metric, so the
            # process tree is ended as soon as the result is on disk
            if not _wait_file(res_path, proc, deadline):
                error = "worker ended without a result"
    except RuntimeError as e:
        error = f"{type(e).__name__}: {e}"
    finally:
        stop_tree(proc)
        log.close()
        clock.stop()

    if error or not res_path.exists():
        tail = (WORK / "worker.log").read_text(errors="replace")[-3000:]
        return _fail(f"run did not finish: {error}\n{tail}")
    res = json.loads(res_path.read_text())
    if args.workload in BATCH:
        m, attempted, failed, detail = _batch_metrics(res, clock, t_spawn)
    else:
        m, attempted, failed, detail = _stream_metrics(res, spec, info,
                                                       WORK, clock, t_spawn)
    detail["peak_rss_mb"] = rss.peak / (1 << 20)
    detail["host_steal_s"] = clock.steal(t_spawn, time.time())
    detail["setup_raw_s"] = res["t_ready"] - t_spawn
    problems = res["problems"] + detail.get("problems", []) + [
        p for r in detail.get("runs", []) for p in r["problems"]]
    correct = not problems and all(v is not None for v in m.values())

    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers["session.start_s"] = clock.adjust(*res["t_build"])
        layers["job.peak_rss_mb"] = detail["peak_rss_mb"]
        layers.update(detail.get("layers", {}))
        layers.update(_layer_record(res, clock))
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": m[k], "unit": u}
                   for k, u in END_TO_END.items()}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "cores": cores,
              "end_to_end": m, "detail": detail, "problems": problems,
              "failed_frac": failed / max(1, attempted),
              "per_layer": metrics if args.trace else None}
    spans = WORK / "spans.json"
    if spans.exists():
        record["spans"] = json.loads(spans.read_text())
    out = RESULTS / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1))
    for k, v in metrics.items():
        print(f"{k:32s} {v['value']!s:>24} {v['unit']}")
    print(f"failed_frac {failed}/{attempted}; record: {out}")
    for p in problems:
        print(f"PROBLEM: {p}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _layer_record(res: dict, clock) -> dict:
    """Per-layer values of a traced batch run: status-store counts of the
    untraced warm run, its own metrics.json stage walls, the traced
    self times, and the tracing overhead against the untraced run."""
    layers = dict(res.get("layers", {}))
    last = res.get("untraced")
    if not last:
        return {k: v for k, v in layers.items() if k in PER_LAYER}
    for st in ("route", "enrich", "decode", "lineage", "aggregate"):
        layers[f"job.stage.{st}_s"] = last["stages"].get(st) or 0.0
    rows = last["rows"]
    layers["enrich.hit_ratio"] = ((rows["rows_events"] - rows["unmatched"])
                                  / max(1, rows["rows_events"]))
    layers["coltypes.cells"] = float(rows["cells"])
    layers["enrich.dim_rows"] = float(last["dim_rows"])
    layers["decode.quarantined"] = float(last["quarantined"])
    wall = clock.adjust(last["t_start"], last["t_end"])
    layers["job.overlap_s"] = layers["trace.self_sum_s"] - wall
    layers["trace.overhead_s"] = clock.adjust(*res["trace_pass"]) - wall
    return {k: v for k, v in layers.items() if k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
