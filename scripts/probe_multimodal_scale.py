#!/usr/bin/env python
"""Multimodal (PNG encode/decode) throughput at 200k images.

The multimodal family is the engine's one DELIBERATELY Python-bound
path: codec work is imperative, so it runs as Arrow-batched mapInPandas
over a binary column (the container ships no image libraries — the
codec is the repo's own stdlib zlib+struct PNG implementation). This
probe measures what that choice costs at 400× the fixture's image count:
encode(synthesize pixels → PNG bytes) and encode+decode(+CRC-verify +
unfilter + pixel stats) over 200k images, reporting imgs/s.

The honest framing for 100 TB: the plan is a pure map stage — no
shuffle, no driver traffic — so throughput scales with executor count;
per-core imgs/s is the number that matters, and swapping the stdlib
codec for a native one (Pillow/libvips) changes ONLY the UDF body, not
the plan, schemas, or batch shape.

Usage: python scripts/probe_multimodal_scale.py [n_images]
Run EXCLUSIVELY.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.perf_counter()
    for _ in range(3):
        a = a @ a / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from kafka_stream_sorter_spark.operators.multimodal import (
        decode_metadata,
        with_png_blob,
    )
    from kafka_stream_sorter_spark.session import get_spark

    c_before = calib()
    spark = get_spark(app_name="probe-multimodal")
    docs = spark.range(0, N, 1, 64).select(F.col("id").alias("doc_id")).localCheckpoint()

    results: dict = {"n_images": N}

    t0 = time.perf_counter()
    with_png_blob(docs).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    results["png_encode"] = {"sec": round(dt, 1), "imgs_per_sec": int(N / dt)}

    t0 = time.perf_counter()
    decode_metadata(docs).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    # decode_metadata re-encodes internally (separate Arrow stage), so
    # this is the full encode→binary column→decode round trip
    results["png_encode_decode_stats"] = {
        "sec": round(dt, 1),
        "imgs_per_sec": int(N / dt),
    }

    c_after = calib()
    results["calib_matmul_sec"] = {"before": c_before, "after": c_after}
    results["load_avg"] = round(os.getloadavg()[0], 2)
    results["probe"] = "multimodal_scale_r5"
    print(json.dumps(results))


if __name__ == "__main__":
    main()
