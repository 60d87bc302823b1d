"""Correctness gate: a committed output against its input and the
sequential ``dispatch.to_row`` oracle. Runs outside every timer."""

from __future__ import annotations

from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pdf_extractors_spark import checkpoint
from pdf_extractors_spark.extractors import dispatch

from .stats import Mismatches, count_mismatches
from .workloads import Input, read_columns

SAMPLE_TURNS = 1024
FIELDS = ("kind", "extracted_text", "spans", "records", "parse_errors")


def _spans_key(spans) -> tuple | None:
    if spans is None:  # a null list must not compare equal to an empty one
        return None
    return tuple((s["label"], s["start"], s["end"], s["value"]) for s in spans)


def comparable(row) -> tuple:
    """The fields of one output row, in a form equal across the oracle's
    dicts and rows read back from the committed parquet files."""
    return (
        row["kind"],
        row["extracted_text"],
        _spans_key(row["spans"]),
        row["records"],
        row["parse_errors"],
    )


class Oracle:
    """Input keys plus a seeded sample of turns with their expected rows
    computed by ``dispatch.to_row`` in this process."""

    def __init__(self, inp: Input, seed: int, sample_turns: int = SAMPLE_TURNS):
        table = read_columns(inp, ["conv_id", "turn_idx", "tool", "text"])
        conv = table.column("conv_id").to_pylist()
        idx = table.column("turn_idx").to_pylist()
        self.expected_keys = set(zip(conv, idx))
        n = min(sample_turns, table.num_rows)
        pick = np.random.default_rng([seed, 0x5A3]).choice(table.num_rows, size=n, replace=False)
        sample = table.take(pa.array(pick)).to_pylist()
        self.sample = [(r["conv_id"], r["turn_idx"], r["tool"], r["text"]) for r in sample]
        self.parse_errors = 0
        self.rows = {}
        for conv_id, turn_idx, kind, payload in self.sample:
            row = dispatch.to_row(conv_id, turn_idx, kind, payload)
            self.parse_errors += row["parse_errors"]
            self.rows[(conv_id, turn_idx)] = comparable(row)


def check(spark, out_path: str, oracle: Oracle, n_buckets: int) -> Mismatches:
    """Count every way the committed output at ``out_path`` departs from
    the input and the oracle: dropped, duplicated, unexpected and altered
    rows, and manifest metrics that disagree with the table. The files
    are those ``checkpoint.read_extracted`` selects (committed buckets
    only), read in this process."""
    files = [urlparse(f).path for f in checkpoint.read_extracted(spark, out_path).inputFiles()]
    table = pq.read_table(files, columns=["conv_id", "turn_idx", *FIELDS]) if files else None
    got_keys, errors, got_sample = [], 0, {}
    if table is not None:
        got_keys = list(zip(table.column("conv_id").to_pylist(), table.column("turn_idx").to_pylist()))
        errors = pc.sum(table.column("parse_errors")).as_py() or 0
        picked = [i for i, key in enumerate(got_keys) if key in oracle.rows]
        for row in table.take(pa.array(picked, pa.int64())).to_pylist():
            got_sample[(row["conv_id"], row["turn_idx"])] = comparable(row)
    m = count_mismatches(oracle.expected_keys, got_keys, oracle.rows, got_sample)
    meta = checkpoint.metrics(out_path)
    if meta["buckets"] != n_buckets or meta["rows"] != len(got_keys) or meta["parse_errors"] != errors:
        m.metrics += 1
    return m
