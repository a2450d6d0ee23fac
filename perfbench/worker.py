"""The system-under-test process of one benchmark run.

Started by run.py as `python3 perfbench/worker.py <spec.json>`. It
builds the session, runs the workload through the program's public
functions, checks outputs, and writes a JSON result next to the spec.
The load generator for the live follower (file drops) stays in run.py,
a separate process.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

import checks
import probes
import tracing

CONF = {"spark.ui.showConsoleProgress": "false"}


def _signal(work: Path, name: str, **info) -> None:
    p = work / name
    p.with_suffix(".tmp").write_text(json.dumps(info))
    p.with_suffix(".tmp").replace(p)


def _output_marks(out: Path) -> list[float]:
    """Epoch time of each output's checkpoint mark (routed, dim,
    lineage, aggregates, every typed sink)."""
    state = json.loads((out / "_checkpoint" / "state.json").read_text())
    return [v["ts"] for k, v in state["stages"].items() if k != "decode"]


def _batch_run(spark, spec: dict, i: int, inp: dict, reader) -> dict:
    """One checked run_pipeline over `inp` (path, expected counts and
    token sample); a raise or a failed check is recorded, not timed."""
    from binlogpipe.job import run_pipeline

    out = Path(spec["work"]) / "out" / f"r{i}"
    sample = {k: bytes.fromhex(v) for k, v in inp["sample"].items()}
    mark = reader.mark() if reader else 0
    rec = {"i": i, "events": inp["expected"]["events"], "problems": []}
    sid = os.getsid(0)
    cpu = probes.tree_cpu_s(sid)
    rec["t_start"] = time.time()
    try:
        m = run_pipeline(spark, inp["path"], str(out), run_id=f"r{i}",
                         resume=False)
        rec["t_end"] = time.time()
        rec["wall"] = rec["t_end"] - rec["t_start"]
        rec["cpu"] = probes.tree_cpu_s(sid) - cpu
        rec["stages"] = {k: v.get("wall_sec") for k, v in m["stages"].items()}
        rec["problems"], rec["rows"] = checks.batch_outputs(
            out, inp["expected"], sample)
        rec["marks"] = _output_marks(out)
        rec["dim_rows"] = checks.row_count(out / "table_map_dim")
        rec["quarantined"] = checks.routed_counts(
            out / "routed").get("QUARANTINE", 0)
    except Exception:  # noqa: BLE001 — a failed operation is data
        rec["problems"].append(traceback.format_exc(limit=3))
    if reader:
        rec["executions"] = reader.since(mark)
    shutil.rmtree(out, ignore_errors=True)
    return rec


def run_batch(spark, spec: dict, res: dict) -> None:
    """The first run in the fresh process is the cold run (its wall is
    the cold-start cost); then warm runs over the same input repeat
    until `seconds` have passed, at least once."""
    reader = probes.StatusReader(spark) if spec["trace"] else None
    runs = res["runs"] = [_batch_run(spark, spec, 0, spec["input"], reader)]
    warm_start = time.monotonic()
    while True:
        runs.append(_batch_run(spark, spec, len(runs), spec["input"],
                               reader))
        if time.monotonic() - warm_start >= spec["seconds"]:
            break
    if reader:
        last = next((r for r in reversed(runs[1:]) if not r["problems"]),
                    None)
        if last is None:
            return
        layers = tracing.untraced_layers(reader, last["executions"])
        clock = probes.StealClock().start()
        tracer = tracing.Tracer(f"{spec['workload']}-{spec['seed']}",
                                reader, clock)
        tr_dir = Path(spec["work"]) / "traced"
        t = time.time()
        try:
            layers.update(tracing.traced_batch(spark, spec["input"]["path"],
                                               tr_dir, tracer))
        finally:
            clock.stop()
        res["trace_pass"] = [t, time.time()]
        shutil.rmtree(tr_dir, ignore_errors=True)
        res["layers"] = layers
        res["untraced"] = last
        tracer.write(Path(spec["work"]) / "spans.json")


def run_stream(spark, spec: dict, res: dict) -> None:
    from binlogpipe import streaming

    work = Path(spec["work"])
    reader = probes.StatusReader(spark) if spec["trace"] else None
    mark = reader.mark() if reader else 0
    t_start = time.time()
    q = streaming.start_full_live(spark, str(work / "in"), str(work / "out"),
                                  str(work / "ck"), input_format="binlog")
    _signal(work, "started", t=t_start)
    stop = work / "stop"
    try:
        while not stop.exists():
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(0.1)
        # a batch's progress event follows its commit-log write: wait
        # until the last committed batch has reported
        last = max(probes.read_commits(work / "ck"), default=-1)
        probes.wait_for(lambda: q.lastProgress is not None
                        and q.lastProgress["batchId"] >= last, 30.0)
        res["progress"] = [json.loads(p.json) for p in q.recentProgress]
        res["jobs"] = len(spark.sparkContext.statusTracker()
                          .getJobIdsForGroup(str(q.runId)))
    finally:
        q.stop()
    if reader:
        eids = reader.since(mark)
        by = tracing.stage_summaries(reader, eids)
        empty = {"metrics": {}, "scans": [], "jobs": 0, "stages": {}}
        to_py, from_py, start = tracing.python_bytes(by.get("route", empty))
        dec_to, _, dec_start = tracing.python_bytes(by.get("decode", empty))
        clock = probes.StealClock().start()
        tracer = tracing.Tracer(f"{spec['workload']}-{spec['seed']}",
                                reader, clock)
        try:
            layers = tracing.traced_split(spark, str(work / "in"), tracer)
        finally:
            clock.stop()
        layers.update({
            "parse.pack_bytes_to_py": to_py,
            "parse.pack_bytes_from_py": from_py,
            "parse.py_worker_start_s": start,
            "decode.bytes_to_py": dec_to,
            "decode.py_worker_start_s": dec_start,
            "decode.jobs": float(by.get("decode", empty)["jobs"]),
            "job.task_failures": float(sum(
                s["failed"] + s["killed"]
                for g in by.values() for s in g["stages"].values())),
        })
        res["layers"] = layers
        tracer.write(work / "spans.json")


def main() -> None:
    spec = json.loads(Path(sys.argv[1]).read_text())
    sys.path.insert(0, spec["root"])
    res: dict = {"problems": []}
    t0 = time.time()
    from binlogpipe.session import build_spark

    spark = build_spark(app="perfbench", cores=spec["cores"],
                        extra_conf=CONF)
    res["t_build"] = [t0, time.time()]
    spark.range(1).count()
    res["t_ready"] = time.time()
    try:
        if spec["workload"] == "stream_follow":
            run_stream(spark, spec, res)
        else:
            run_batch(spark, spec, res)
    except Exception:  # noqa: BLE001 — reported, counted as failed
        res["problems"].append(traceback.format_exc(limit=5))
    finally:
        out = Path(spec["work"]) / "result.json"
        out.with_suffix(".tmp").write_text(json.dumps(res))
        out.with_suffix(".tmp").replace(out)
        spark.stop()


if __name__ == "__main__":
    main()
