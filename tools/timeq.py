#!/usr/bin/env python
"""Time individual registry queries with the exact bench.py session
configs (min-of-2 after warmup) — the fast inner loop for perf work.

    python tools/timeq.py ivf_ann_topk quantized_embeddings
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_CONF, SF_DIR, run_query  # noqa: E402
from football_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark(
        app_name="timeq",
        extra_conf=BENCH_CONF,
    )
    run_query(spark, "top_event_types")  # warmup
    for name in sys.argv[1:]:
        cold = run_query(spark, name)
        steady = min(run_query(spark, name), run_query(spark, name))
        print(f"{name}: steady={steady:.3f}s cold={cold:.3f}s", flush=True)


if __name__ == "__main__":
    main()
