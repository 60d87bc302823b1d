"""Tests of the benchmark's pure helpers (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import statistics
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pdf_extractors_spark.extractors import dispatch
from pdf_extractors_spark.fixtures import payloads
from perfbench import gate, procs, workloads
from perfbench.stats import Mismatches, Span, count_mismatches, quartiles, self_times

# ------------------------------------------------------------- quartiles


def test_quartiles_match_statistics_quantiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    q1, med, q3 = quartiles(values)
    assert (q1, med, q3) == tuple(statistics.quantiles(values, n=4))
    assert med == statistics.median(values)


def test_quartiles_of_one_value_and_of_none():
    assert quartiles([7.5]) == (7.5, 7.5, 7.5)
    assert quartiles([4.0, 1.0, 3.0, 2.0]) == (1.25, 2.5, 3.75)
    with pytest.raises(ValueError):
        quartiles([])


# ------------------------------------------------------------ mismatches


def _oracle_rows(keys):
    return {k: ("kind", f"text {k}", (), "[]", 0) for k in keys}


def test_mismatch_counting_clean_output():
    keys = {("c1", 0), ("c1", 1), ("c2", 0)}
    oracle = _oracle_rows(keys)
    m = count_mismatches(keys, sorted(keys), oracle, dict(oracle))
    assert m.total == 0


def test_mismatch_counting_dropped_duplicated_altered():
    keys = {("c1", 0), ("c1", 1), ("c2", 0), ("c3", 5)}
    oracle = _oracle_rows(keys)
    got_keys = [("c1", 0), ("c1", 1), ("c1", 1), ("c2", 0)]  # c3/5 dropped, c1/1 twice
    got_sample = {k: v for k, v in oracle.items() if k in set(got_keys)}
    got_sample[("c2", 0)] = ("kind", "altered", (), "[]", 0)
    m = count_mismatches(keys, got_keys, oracle, got_sample)
    assert (m.dropped, m.duplicated, m.unexpected, m.altered, m.metrics) == (1, 1, 0, 1, 0)
    assert m.total == 3


def test_mismatch_counting_unexpected_rows():
    keys = {("c1", 0)}
    m = count_mismatches(keys, [("c1", 0), ("zz", 9), ("zz", 9)], {}, {})
    assert (m.unexpected, m.duplicated, m.dropped) == (2, 0, 0)


def test_mismatch_shares_use_each_check_kind():
    """Each kind of failure is divided by the checks of its own kind, so a
    wholly corrupted sample reads as a share of 1, not of sample/turns."""
    assert Mismatches().worst_share(1000, 10, 2) == 0.0
    assert Mismatches(altered=10).worst_share(1000, 10, 2) == 1.0
    assert Mismatches(dropped=1, duplicated=2, unexpected=1).worst_share(1000, 10, 2) == 0.004
    assert Mismatches(metrics=1, altered=1).worst_share(1000, 10, 2) == 0.5
    total = Mismatches(dropped=1)
    total.add(Mismatches(dropped=2, altered=3))
    assert (total.dropped, total.altered, total.total) == (3, 3, 6)


def test_comparable_survives_a_parquet_round_trip(tmp_path):
    """The gate compares oracle dicts with rows read back from parquet;
    the two forms of one row must compare equal."""
    rows = [
        dispatch.to_row(f"c{i}", 0, fam, payloads.payload_for(f"c{i}", 0, fam)[1])
        for i, fam in enumerate(payloads.FAMILIES)
    ]
    rows.append(dispatch.to_row("chat", 0, None, "Status: ok\npaid 1 234,50 NOK on 01.02.2026"))
    span = pa.struct([("label", pa.string()), ("start", pa.int32()), ("end", pa.int32()), ("value", pa.string())])
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("kind", pa.string()),
            ("extracted_text", pa.string()),
            ("spans", pa.list_(span)),
            ("records", pa.string()),
            ("parse_errors", pa.int32()),
        ]
    )
    path = str(tmp_path / "rows.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    back = pq.read_table(path).to_pylist()
    assert any(r["spans"] for r in rows)
    assert [gate.comparable(r) for r in back] == [gate.comparable(r) for r in rows]


# ----------------------------------------------------------------- spans


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, None, "root", 0.0, 10.0, "r"),
        Span(1, 0, "a", 1.0, 3.0, "r"),
        Span(2, 0, "b", 2.0, 5.0, "r"),  # overlaps a: union 1..5 = 4
        Span(3, 2, "b.child", 2.5, 4.5, "r"),
        Span(4, None, "other", 20.0, 21.5, "r"),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(6.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(1.0)
    assert selfs[3] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(1.5)


# ------------------------------------------------------------ workloads


def _files_bytes(path):
    return {p.name: p.read_bytes() for p in sorted(Path(path).iterdir())}


@pytest.mark.parametrize("shape", ["mixed", "chat"])
def test_same_seed_same_input_bytes(tmp_path, shape):
    a = workloads.materialize(shape, 7, 300, 4, str(tmp_path / "a"))
    b = workloads.materialize(shape, 7, 300, 4, str(tmp_path / "b"))
    assert a.turns == b.turns == 300
    assert sum(a.kinds.values()) == 300
    assert _files_bytes(a.path) == _files_bytes(b.path)
    assert len([n for n in os.listdir(a.path) if n.endswith(".parquet")]) == 4


@pytest.mark.parametrize("shape", ["mixed", "chat"])
def test_other_seed_other_conv_ids(tmp_path, shape):
    a = workloads.materialize(shape, 7, 300, 4, str(tmp_path))
    b = workloads.materialize(shape, 8, 300, 4, str(tmp_path))
    ids_a = set(workloads.read_columns(a, ["conv_id"]).column("conv_id").to_pylist())
    ids_b = set(workloads.read_columns(b, ["conv_id"]).column("conv_id").to_pylist())
    assert ids_a and ids_b and not ids_a & ids_b


def test_mixed_payloads_are_the_fixture_payloads(tmp_path):
    inp = workloads.materialize("mixed", 3, 200, 2, str(tmp_path))
    rows = workloads.read_columns(inp, ["conv_id", "turn_idx", "tool", "text"]).to_pylist()
    for r in rows[:50]:
        assert (r["tool"], r["text"]) == payloads.payload_for(r["conv_id"], r["turn_idx"])


def test_chat_turns_fall_back_and_fire_spans():
    table = workloads.chat_table(5, 400)
    assert table.column("tool").null_count == 400
    texts = table.column("text").to_pylist()
    assert all(5 <= len(t.split("\n")[0].split()) <= 60 for t in texts)
    labels = {s["label"] for t in texts for s in dispatch.to_row("c", 0, None, t)["spans"]}
    assert {"date", "amount_nok", "amount_usd", "key_value"} <= labels


# ------------------------------------------------------------------ procs


def test_tree_rss_counts_this_process():
    assert procs.tree_rss_bytes(os.getpid()) > 0
    with procs.PeakRss(interval=0.01) as rss:
        pass
    assert rss.peak_bytes > 0
