"""Output checks, read with pyarrow straight from the files the program
wrote (an independent reader, not the Spark session under test).

Each check returns a list of problems; an empty list means the outputs
the metrics come from are correct.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROWS_SINKS = ("WRITE_ROWS_V2", "UPDATE_ROWS_V2", "DELETE_ROWS_V2")


def _parquet_files(d: Path) -> list[Path]:
    return sorted(p for p in d.rglob("*.parquet")
                  if not any(part.startswith(("_", "."))
                             for part in p.relative_to(d).parts))


def row_count(d: Path) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in _parquet_files(d))


def routed_counts(routed: Path) -> Counter:
    """Per-sink counts of a `sink=`-partitioned routed table (footer
    row counts, no data read)."""
    out: Counter = Counter()
    for p in _parquet_files(routed):
        sink = next((part[5:] for part in p.relative_to(routed).parts
                     if part.startswith("sink=")), None)
        out[sink] += pq.ParquetFile(p).metadata.num_rows
    return out


def _diff(name: str, got: dict, want: dict) -> list[str]:
    keys = sorted(set(got) | set(want), key=str)
    bad = [f"{k}: {got.get(k, 0)} != {want.get(k, 0)}" for k in keys
           if got.get(k, 0) != want.get(k, 0)]
    return [f"{name} mismatch: " + "; ".join(bad)] if bad else []


def rows_cells(sinks: Path) -> tuple[int, int, int]:
    """(rows events, events whose table had no TableMap entry, decoded
    cells) over the rows sinks of a batch output tree."""
    events = unmatched = cells = 0
    for s in ROWS_SINKS:
        d = sinks / s
        if not d.is_dir():
            continue
        t = ds.dataset(str(d), format="parquet",
                       exclude_invalid_files=True).to_table(
            columns=["tm_table_name", "rows"])
        events += t.num_rows
        unmatched += t.column("tm_table_name").null_count
        flat = pc.list_flatten(t.column("rows"))
        cells += len(pc.list_flatten(flat)) if len(flat) else 0
    return events, unmatched, cells


def batch_outputs(out: Path, expected: dict, sample: dict[str, bytes]
                  ) -> tuple[list[str], dict]:
    """Routed per-sink counts, agg/sink_counts, each typed sink's row
    count, token-array equality on a seeded sample of routed rows, and
    every rows event enriched (a TableMap hit)."""
    problems: list[str] = []
    want = expected["sinks"]
    problems += _diff("routed", dict(routed_counts(out / "routed")), want)
    sc = pq.read_table(out / "agg" / "sink_counts").to_pydict()
    problems += _diff("agg/sink_counts",
                      dict(zip(sc["sink"], sc["n"])), want)
    typed = {p.name: row_count(p) for p in (out / "sinks").iterdir()
             if p.is_dir() and not p.name.startswith(("_", "."))}
    problems += _diff("typed sinks", typed, want)
    t = ds.dataset(str(out / "routed"), format="parquet",
                   partitioning="hive", exclude_invalid_files=True
                   ).to_table(columns=["doc_id", "tokens_bin"],
                              filter=pc.field("doc_id").isin(list(sample)))
    got = dict(zip(t.column("doc_id").to_pylist(),
                   t.column("tokens_bin").to_pylist()))
    bad = [d for d, b in sample.items() if got.get(d) != b]
    if bad:
        problems.append(f"tokens_bin differs for {len(bad)}/{len(sample)} "
                        f"sampled rows, e.g. {bad[:3]}")
    events, unmatched, cells = rows_cells(out / "sinks")
    if unmatched:
        problems.append(f"{unmatched}/{events} rows events found no "
                        f"TableMap entry")
    return problems, {"rows_events": events, "unmatched": unmatched,
                      "cells": cells}


def stream_outputs(out: Path, expected: dict[str, int], lag: dict
                   ) -> list[str]:
    """The drained per-sink totals (routed and typed) equal the totals of
    the dropped files, and every file was committed exactly once."""
    problems: list[str] = []
    if lag["missing"]:
        problems.append(f"files never committed: {lag['missing'][:5]}")
    if lag["twice"]:
        problems.append(f"files listed by two batches: {lag['twice'][:5]}")
    got: Counter = Counter()
    for b in (out / "routed").glob("batch=*"):
        got.update(routed_counts(b))
    problems += _diff("routed", dict(got), expected)
    typed = {p.name: row_count(p) for p in (out / "sinks").iterdir()
             if p.is_dir() and not p.name.startswith(("_", "."))}
    problems += _diff("typed sinks", typed, expected)
    return problems
