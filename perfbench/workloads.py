"""Seeded workload inputs: a transcripts table written as equal parquet files.

Two input shapes, one per workload:

* ``mixed`` — the default fixture mix: conversations from
  ``fixtures.gen.turns_for_conv`` (8 payload families, power-law lengths up
  to 200 turns). ``--seed`` salts the conv ids; every payload stays a pure
  function of ``(conv_id, turn_idx)`` through ``fixtures.payloads``.
* ``chat`` — short agent/chat turns of 5-60 words with ``tool`` null (so
  dispatch falls back to the ``html_content`` extractor). Some turns carry
  ``Key: value`` lines, ``dd.mm.yyyy`` dates and ``$``/``NOK`` amounts so
  the span regexes fire. The seed salts the conv ids and seeds the text.
  The vocabulary and the rates of those extra lines are assumptions, not
  taken from real transcripts (unverified): the rates are set so that the
  sequential kernel costs about 10 µs per chat turn, under 2 µs above the
  same turns without any extra line.

Inputs are cached per (shape, seed, turns, files) and installed with an
atomic rename, so a half-written table is never read.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extractors_spark.fixtures import gen, payloads

# bump when a generator below changes; cache paths embed it
GEN_VERSION = 2
CHAT_KIND = "chat"

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    shape: str  # "mixed" or "chat"
    turns: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mixed_fresh", "mixed", 24_000),
        Workload("chat_fresh", "chat", 96_000),
    )
}


@dataclass(frozen=True)
class Input:
    path: str
    turns: int
    payload_bytes: int
    kinds: dict  # kind → turn count; chat turns count as CHAT_KIND

    def snapshot_id(self) -> str:
        return os.path.basename(self.path)


# ------------------------------------------------------------------ mixed


def mixed_table(seed: int, turns: int) -> pa.Table:
    """Whole conversations of the default fixture mix until ``turns`` rows
    (the last one truncated), conv ids salted by ``seed``."""
    frames = []
    n = 0
    i = 0
    while n < turns:
        pdf = gen.turns_for_conv(f"s{seed}-conv-{i:07d}")
        frames.append(pdf.iloc[: turns - n])
        n += len(frames[-1])
        i += 1
    cols = {c: [] for c in SCHEMA.names}
    for pdf in frames:
        for c in SCHEMA.names:
            cols[c].extend(pdf[c].tolist())
    return pa.table(cols, schema=SCHEMA)


# ------------------------------------------------------------------- chat

_WORDS = (
    "the a to of and in is it you that for on with this be are can we "
    "please check order run tool output error file result status update "
    "deploy build test query table user agent request response data value "
    "line retry ticket account invoice payment shipment delivery report "
    "summary thanks sure here next step done failed pending review config"
).split()
_KEYS = ("Order id", "Status", "Customer", "Due date", "Ref no", "Total")
# share of turns that carry each extra line (assumed; see the module doc)
KV_RATE, DATE_RATE, USD_RATE, NOK_RATE = 0.10, 0.08, 0.05, 0.05
_ROLES = ("user", "assistant")
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _chat_text(rng: np.random.Generator, words: list[str]) -> str:
    lines = [" ".join(words)]
    r = rng.random(4)
    if r[0] < KV_RATE:
        lines.append(f"{_KEYS[rng.integers(len(_KEYS))]}: {rng.integers(10_000, 99_999)}")
    if r[1] < DATE_RATE:
        d, m, y = rng.integers(1, 29), rng.integers(1, 13), rng.integers(2019, 2027)
        lines.append(f"due {d:02d}.{m:02d}.{y}")
    if r[2] < USD_RATE:
        lines.append(f"charged ${rng.integers(1, 999)},{rng.integers(100, 999)}.{rng.integers(10, 99)}")
    if r[3] < NOK_RATE:
        lines.append(f"paid {rng.integers(1, 999)} {rng.integers(100, 999)},{rng.integers(10, 99)} NOK")
    return "\n".join(lines)


def chat_table(seed: int, turns: int) -> pa.Table:
    """Short chat conversations until ``turns`` rows; text seeded by
    ``seed``, conversation lengths by the salted conv id."""
    rng = np.random.default_rng([seed, 0xC4A7])
    n_words = rng.integers(5, 61, size=turns)
    vocab = np.array(_WORDS, dtype=object)
    stream = vocab[rng.integers(len(_WORDS), size=int(n_words.sum()))].tolist()
    conv_ids, turn_idx, roles, texts, ts = [], [], [], [], []
    pos = 0
    i = 0
    while len(texts) < turns:
        conv_id = f"s{seed}-chat-{i:07d}"
        for t in range(min(gen.conv_length(conv_id, 60), turns - len(texts))):
            k = n_words[len(texts)]
            texts.append(_chat_text(rng, stream[pos : pos + k]))
            pos += k
            conv_ids.append(conv_id)
            turn_idx.append(t)
            roles.append(_ROLES[t % 2])
            ts.append(_EPOCH + timedelta(seconds=11 * t))
        i += 1
    return pa.table(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": roles,
            "text": texts,
            "tool": pa.nulls(turns, pa.string()),
            "ts": ts,
        },
        schema=SCHEMA,
    )


def kind_probe(seed: int, per_kind: int) -> dict[str, list[tuple]]:
    """``per_kind`` seeded turns of every payload family and of chat, as
    kind → [(conv_id, turn_idx, tool, text)], whatever the workload mix."""
    out = {
        fam: [
            (f"s{seed}-probe-{i}", 0, fam, payloads.payload_for(f"s{seed}-probe-{i}", 0, fam)[1])
            for i in range(per_kind)
        ]
        for fam in payloads.FAMILIES
    }
    chat = chat_table(seed, per_kind)
    out[CHAT_KIND] = list(
        zip(*(chat.column(c).to_pylist() for c in ("conv_id", "turn_idx", "tool", "text")))
    )
    return out


# ------------------------------------------------------------ materialise


def _summary(table: pa.Table) -> tuple[int, dict]:
    payload_bytes = sum(len(t.encode()) for t in table.column("text").to_pylist())
    kinds: dict[str, int] = {}
    for kind in table.column("tool").to_pylist():
        key = CHAT_KIND if kind is None else kind
        kinds[key] = kinds.get(key, 0) + 1
    return payload_bytes, dict(sorted(kinds.items()))


def write_files(table: pa.Table, directory: str, n_files: int, seed: int) -> None:
    """Rows in a seeded random order, cut into ``n_files`` equal files —
    every input split then carries the same family mix."""
    order = np.random.default_rng([seed, 0xF11E]).permutation(table.num_rows)
    table = table.take(pa.array(order))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(directory, f"part-{k:05d}.parquet"))


def materialize(shape: str, seed: int, turns: int, n_files: int, cache_dir: str) -> Input:
    """Generate (or reuse) the input table for (shape, seed, turns, files)."""
    name = f"{shape}-s{seed}-n{turns}-f{n_files}-g{GEN_VERSION}-v{payloads.FIXTURE_VERSION}"
    path = os.path.join(cache_dir, name)
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        table = (mixed_table if shape == "mixed" else chat_table)(seed, turns)
        payload_bytes, kinds = _summary(table)
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        write_files(table, tmp, n_files, seed)
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump({"turns": table.num_rows, "payload_bytes": payload_bytes, "kinds": kinds}, f)
        try:
            os.rename(tmp, path)
        except OSError:
            # another run installed the same (deterministic) table first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        meta = json.load(f)
    return Input(path, meta["turns"], meta["payload_bytes"], meta["kinds"])


def read_columns(inp: Input, columns: list[str]) -> pa.Table:
    return pq.read_table(
        [os.path.join(inp.path, n) for n in sorted(os.listdir(inp.path)) if n.endswith(".parquet")],
        columns=columns,
    )
