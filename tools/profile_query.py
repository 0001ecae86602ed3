#!/usr/bin/env python
"""Per-query profiler for the optimization rounds (guide §1).

For each named query: time plan construction vs noop-sink execution over N
repeats, print per-run seconds, and optionally dump `.explain("formatted")`
to a file — the `plans/r14/<name>_{before,after}.txt` evidence the round
deliverable requires.

Usage:
  python tools/profile_query.py name1,name2 [--repeats 3] \
      [--plans-dir plans/r14 --suffix before] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkexp_spark.registry import queries  # noqa: E402
from flinkexp_spark.session import get_session  # noqa: E402


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", help="comma list of query names")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    spark = get_session(app_name="flinkexp_profile")
    spark.sparkContext.setLogLevel("ERROR")
    for t in ("nation", "documents", "events", "lineitem", "embeddings"):
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).count()

    qs = queries()
    for name in args.names.split(","):
        name = name.strip()
        if name not in qs:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            print(
                f"{name} run{i}: build={t1 - t0:.3f}s action={t2 - t1:.3f}s "
                f"total={t2 - t0:.3f}s",
                flush=True,
            )
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            out = os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt")
            with open(out, "w") as f:
                f.write(formatted_plan(df))
            print(f"{name}: plan -> {out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
