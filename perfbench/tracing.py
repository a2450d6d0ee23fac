"""The traced run: in-memory spans around calls into each layer, and the
per-layer metrics read from Spark's status stores.

Spark is lazy, so a span around a transformation alone would time plan
building. The traced batch DAG therefore forces each boundary with a
`noop`-format write of the cumulative plan (scan -> with_header -> pack
-> routed exchange -> routed write), and the self time of a boundary is
the difference between successive prefixes. Stages that read the
written routed table (dim, per-sink decode, lineage, aggregate) are
timed as their own noop writes.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from probes import StatusReader, metric

HOT = ("QUERY", "GTID", "FORMAT_DESC", "TABLE_MAP")


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; each span
    also records the SQL executions that ran inside it. With a
    `probes.StealClock`, a span's `dur` is steal-adjusted like every
    other timing of the benchmark."""

    def __init__(self, run_id: str, reader: StatusReader | None = None,
                 clock=None):
        self.run_id, self.reader, self.clock = run_id, reader, clock
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        mark = self.reader.mark() if self.reader else 0
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["dur"] = (self.clock.adjust(rec["start"], rec["end"])
                          if self.clock else rec["end"] - rec["start"])
            if self.reader:
                rec["executions"] = self.reader.since(mark)
            self.spans.append(rec)

    def dur(self, name: str) -> float:
        return sum(s["dur"] for s in self.spans if s["name"] == name)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def classify(path_desc: str) -> str | None:
    """Stage of a write execution, from the output path in its plan."""
    for key, stage in (("/routed", "route"), ("/table_map_dim", "enrich"),
                       ("/sinks/", "decode"), ("/lineage", "lineage"),
                       ("/agg/", "aggregate")):
        if key in path_desc:
            return stage
    return None


def stage_summaries(reader: StatusReader, eids: list[int]) -> dict:
    """Group the executions `eids` by the stage their write belongs to,
    and fold each group's plan metrics and stage data."""
    groups: dict[str, list[int]] = {}
    nodes = {eid: reader.nodes(eid) for eid in eids}
    for eid in eids:
        stage = None
        for n in nodes[eid]:
            if n["name"].startswith(("Execute InsertInto", "WriteFiles")):
                stage = classify(n["desc"]) or stage
        groups.setdefault(stage or "other", []).append(eid)
    return {k: reader.summarize(v, nodes) for k, v in groups.items()}


def python_bytes(summary: dict) -> tuple[float, float, float]:
    """(bytes to Python, bytes from Python, worker start + init seconds)
    over every Arrow Python UDF node of a summary."""
    to_py = from_py = start = 0.0
    for (node, name), v in summary["metrics"].items():
        if "Python" not in node:
            continue
        if name == "data sent to Python workers":
            to_py += v["total"]
        elif name == "data returned from Python workers":
            from_py += v["total"]
        elif name in ("time to start Python workers",
                      "time to initialize Python workers"):
            start += v["total"]
    return to_py, from_py, start


def untraced_layers(reader: StatusReader, eids: list[int]) -> dict:
    """Per-layer counts of one untraced run_pipeline, from its own
    executions (no tracing cost)."""
    by = stage_summaries(reader, eids)
    empty = {"metrics": {}, "scans": [], "jobs": 0, "stages": {}}
    route, dec = by.get("route", empty), by.get("decode", empty)
    pack_to, pack_from, pack_start = python_bytes(route)
    dec_to, _, dec_start = python_bytes(dec)
    reduce = [s for s in route["stages"].values()
              if s["shuffle_read"] > 0 and s["durations"]]
    skew = 0.0
    if reduce:
        d = reduce[-1]["durations"]
        skew = max(d) / max(statistics.median(d), 1e-3)
    stages = [s for g in by.values() for s in g["stages"].values()]
    scans = [d for g in ("lineage", "aggregate")
             for d in by.get(g, empty)["scans"] if "/routed" in d]
    return {
        "parse.pack_bytes_to_py": pack_to,
        "parse.pack_bytes_from_py": pack_from,
        "parse.py_worker_start_s": pack_start,
        "route.shuffle_write_bytes": float(sum(
            s["shuffle_write"] for s in route["stages"].values())),
        "route.spill_bytes": float(sum(s["spill"] for s in stages)),
        "route.task_skew": skew,
        "route.files_written": metric(route, "Execute InsertInto",
                                      "number of written files")
        or metric(route, "WriteFiles", "number of written files"),
        "decode.bytes_to_py": dec_to,
        "decode.py_worker_start_s": dec_start,
        "decode.jobs": float(dec["jobs"]),
        "aggregate.routed_scans": float(len(scans)),
        "job.jobs_per_run": float(sum(g["jobs"] for g in by.values())),
        "job.task_failures": float(sum(s["failed"] + s["killed"]
                                       for s in stages)),
    }


def traced_batch(spark, input_path: str, work: Path, tracer: Tracer
                 ) -> dict:
    """Run the batch DAG boundary by boundary and return per-layer self
    times in seconds. The dim build mirrors run_pipeline's enrich stage
    (latest TableMap per (source, table_id), decode, build_table_map_dim);
    the program exposes no single function for it."""
    from pyspark.sql import functions as F

    from binlogpipe import aggregate, enrich, job, layout, lineage, parse
    from binlogpipe import route

    rows = job.ROWS_SINKS
    with tracer.span("run"):
        src = job.read_input(spark, input_path)
        # every prefix projects narrow columns (no token arrays in the
        # output rows), so each one does strictly more work than the last
        keep = ["doc_id", "n_tok", "source"]
        with tracer.span("parse"):
            with tracer.span("parse.scan"):
                _noop(src.select(*keep, F.size("tokens").alias("_n")))
            hdr = parse.with_header(src)
            head = [c for c in job.ROUTED_COLS if c in hdr.columns]
            with tracer.span("parse.header"):
                _noop(hdr.select(*head))
            hdr = (hdr.withColumn("tokens_bin",
                                  parse.pack_tokens_udf()(F.col("tokens")))
                   .withColumn("rows_table_id", F.when(
                       F.col("sink").isin(*job.ROWS_SINKS, "TABLE_MAP"),
                       layout.u48le(F.col("tokens"), 19)))
                   .withColumn("input_partition", F.spark_partition_id())
                   .withColumn("input_pos",
                               F.monotonically_increasing_id()))
            with tracer.span("parse.pack"):
                _noop(hdr.select(*[c for c in job.ROUTED_COLS
                                   if c != "salt"]))
        routed_df = route.routed(hdr).select(*job.ROUTED_COLS)
        routed_path = str(work / "routed")
        with tracer.span("route"):
            with tracer.span("route.exchange"):
                _noop(routed_df)
            with tracer.span("route.write"):
                job.write_output(routed_df, "parquet", routed_path, None,
                                 ("sink",))
        routed_df = spark.read.parquet(routed_path)
        with tracer.span("enrich"):
            with tracer.span("enrich.dim"):
                tm = routed_df.filter(F.col("sink") == "TABLE_MAP")
                w = enrich.pipeline_table_map_window("rows_table_id")
                latest = (tm.withColumn("_rn", F.row_number().over(w))
                          .filter(F.col("_rn") == 1).drop("_rn"))
                _, factory = parse.DECODERS["TABLE_MAP"]
                dec = latest.withColumn("d", factory()(F.col("tokens_bin")))
                dim = enrich.build_table_map_dim(
                    dec.select("source", "log_pos", "d.*")
                    .filter(F.col("parse_error").isNull()))
                dim.write.mode("overwrite").parquet(str(work / "dim"))
            dim = spark.read.parquet(str(work / "dim"))
            present = job.list_sink_partitions(spark, routed_path)
            for sink in sorted(s for s in present if s in rows):
                sdf = (routed_df.filter(F.col("sink") == sink)
                       .withColumnRenamed("rows_table_id", "table_id"))
                with tracer.span(f"enrich.join.{sink}"):
                    _noop(enrich.enrich_rows_events(sdf, dim))
        with tracer.span("decode"):
            for sink in sorted(present):
                sdf = routed_df.filter(F.col("sink") == sink)
                with tracer.span(f"decode.{sink}"):
                    _noop(job.sink_decode_projection(sink, sdf, dim))
        with tracer.span("lineage"):
            _noop(lineage.lineage_from_routed(routed_df))
        with tracer.span("aggregate"):
            _noop(aggregate.source_type_stats(routed_df))
            _noop(aggregate.sink_counts(routed_df))
    d = tracer.dur
    join = sum(d(f"enrich.join.{s}") for s in rows)
    decode = {s: d(f"decode.{s}") for s in present}
    rows_self = sum(decode.get(s, 0.0) for s in rows) - join
    out = {
        "parse.header_s": d("parse.header") - d("parse.scan"),
        "parse.pack_s": d("parse.pack") - d("parse.header"),
        "route.exchange_s": d("route.exchange") - d("parse.pack"),
        "route.write_s": d("route.write") - d("route.exchange"),
        "enrich.dim_s": d("enrich.dim"),
        "enrich.join_s": join,
        "decode.s": sum(decode.values()) - join,
        "decode.rows_s": rows_self,
        "decode.other_s": sum(v for s, v in decode.items()
                              if s not in HOT and s not in rows),
        "lineage.s": d("lineage"),
        "aggregate.s": d("aggregate"),
    }
    for s in HOT:
        out[f"decode.{s}_s"] = decode.get(s, 0.0)
    # self times of the leaves: the prefix chain through the routed
    # write, then each stage that reads the written table
    out["trace.self_sum_s"] = (d("route.write") + d("enrich.dim")
                               + sum(decode.values()) + d("lineage")
                               + d("aggregate"))
    return out


def traced_split(spark, input_dir: str, tracer: Tracer) -> dict:
    """binsource: split the dropped .bin files (scan + mapInPandas walk),
    forced by a noop write, and count the events it yields."""
    from binlogpipe import binsource

    df = binsource.read_binlog_dir(spark, input_dir)
    with tracer.span("binsource.split"):
        _noop(df)
    return {"binsource.split_s": tracer.dur("binsource.split"),
            "binsource.events": float(df.count())}
