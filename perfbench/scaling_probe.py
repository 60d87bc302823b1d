"""Sequential reference for ``pipeline.scaling_eff``: the traced run's
extraction repeated in a second process at ``local[1]``.

    python3 -m perfbench.scaling_probe --input DIR

Prints one JSON line: the turns extracted and the last repetition's
seconds."""

from __future__ import annotations

import argparse
import contextlib
import json
import time

from . import sparkenv

REPS = 2  # the first warms the JVM and the Python worker; the last is reported


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    args = ap.parse_args()

    sparkenv.contain_scratch()
    spark, _, _ = sparkenv.start_session("local[1]", lambda _: contextlib.nullcontext())
    try:
        src = spark.read.parquet(args.input)
        for _ in range(REPS):
            t0 = time.perf_counter()
            turns, _errors = sparkenv.extract_count(src)
            seconds = time.perf_counter() - t0
        print(json.dumps({"turns": turns, "extract_s": seconds}), flush=True)
    finally:
        sparkenv.shutdown(spark)


if __name__ == "__main__":
    main()
