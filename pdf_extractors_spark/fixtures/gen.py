"""Synthetic transcripts table generator (FIXTURES.md §1).

Produces the exact ``input_hint`` shape:
``(conv_id string, turn_idx int32, role string, text string, tool string,
ts timestamp)`` with power-law conversation lengths (1..max_turns) to
exercise salted skew handling. Deterministic: seed fixed, payloads are pure
functions of (conv_id, turn_idx).

Generation is itself distributed when a SparkSession is given (mapInPandas
over a range of conv ids) so large bench tables don't bottleneck on the
driver — the same pattern a 100 TB fixture build would use.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta, timezone

import pandas as pd

from . import payloads

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
_ROLES = ("user", "assistant", "tool")


def conv_length(conv_id: str, max_turns: int = 200, alpha: float = 1.5) -> int:
    """Power-law conversation length, deterministic per conv_id."""
    h = int.from_bytes(hashlib.md5(f"len:{conv_id}".encode()).digest()[:8], "big")
    u = (h % 10**9) / 10**9
    # inverse-CDF sample of P(L >= x) ~ x^-(alpha-1), truncated at max_turns
    length = int(1.0 / max(1e-9, (1.0 - u)) ** (1.0 / (alpha - 1.0)))
    return max(1, min(length, max_turns))


def turns_for_conv(conv_id: str, max_turns: int = 200) -> pd.DataFrame:
    n = conv_length(conv_id, max_turns)
    rows = []
    for t in range(n):
        fam, text = payloads.payload_for(conv_id, t)
        rows.append(
            (
                conv_id,
                t,
                _ROLES[t % 3],
                text,
                fam,
                _EPOCH + timedelta(seconds=7 * t),
            )
        )
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


def gen_pandas(n_convs: int, max_turns: int = 200) -> pd.DataFrame:
    parts = [turns_for_conv(f"conv-{i:08d}", max_turns) for i in range(n_convs)]
    df = pd.concat(parts, ignore_index=True)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def gen_spark(spark, n_convs: int, max_turns: int = 200, partitions: int | None = None):
    """Distributed generation: fan conv ids across executors."""
    from pyspark.sql import functions as F

    from ..pipeline import TRANSCRIPTS_SCHEMA

    partitions = partitions or max(8, int(spark.conf.get("spark.sql.shuffle.partitions")))
    ids = spark.range(n_convs).select(
        F.format_string("conv-%08d", F.col("id").cast("int")).alias("conv_id")
    )
    mt = max_turns

    def build(batches):
        for pdf in batches:
            for conv_id in pdf["conv_id"]:
                yield turns_for_conv(conv_id, mt)

    turns = ids.repartition(partitions, "conv_id").mapInPandas(
        build, schema=TRANSCRIPTS_SCHEMA
    )
    # rebalance at TURN granularity: partitioning by conv_id alone leaves
    # power-law-sized partitions (one 200-turn conversation ≫ eight
    # short ones), which skews downstream input splits; hashing on
    # (conv_id, turn_idx) yields uniform, deterministic files — the same
    # write-distribution an Iceberg table would use at scale.
    return turns.repartition(partitions, "conv_id", "turn_idx")


def materialize_pandas(path: str, n_convs: int, max_turns: int = 200) -> str:
    """Driver-side single-file parquet of the same deterministic rows as
    ``gen_spark`` (payloads are pure functions of (conv_id, turn_idx), so
    writer choice cannot change the data). Used by the DuckDB oracles in
    ``__spark_entry__.oracle_sql()``, which must be able to read the
    transcripts table without a SparkSession. Atomic create via rename so
    concurrent callers never see a half-written file."""
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = gen_pandas(n_convs, max_turns)
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


def materialize(
    spark,
    path: str,
    n_convs: int,
    max_turns: int = 200,
    overwrite: bool = False,
    partitions: int | None = None,
) -> str:
    """Write the transcripts parquet once; reuse across runs (cache keyed by
    caller-chosen path). Returns the path."""
    marker = os.path.join(path, "_SUCCESS")
    if not overwrite and os.path.exists(marker):
        return path
    # write to a unique temp dir and rename into place: two concurrent
    # callers both overwriting `path` directly can interleave their
    # part-files into one corrupted directory (the check-then-write race)
    tmp = f"{path}.tmp-{os.getpid()}-{os.urandom(4).hex()}"
    df = gen_spark(spark, n_convs, max_turns, partitions=partitions)
    df.write.mode("overwrite").parquet(tmp)
    try:
        if overwrite and os.path.isdir(path):
            import shutil

            shutil.rmtree(path)
        os.rename(tmp, path)
    except OSError:
        # lost the race: another caller installed the directory first —
        # use theirs (identical by determinism) and drop ours
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):
            raise
    return path
