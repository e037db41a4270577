#!/usr/bin/env python
"""Per-query timing + plan capture through bench.py's timing loop.

Usage: python scripts/qtime.py [--passes N] [--plan OUTDIR] q01_pricing_summary d03_...
Times each named query with ``bench.time_queries`` (warm-up, then the
noop sink with clearCache after every run), min-of-N over interleaved
passes. With --plan <dir>, writes <dir>/<name>.txt explain("formatted")
captures before timing.
"""
import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

p = argparse.ArgumentParser()
p.add_argument("--passes", type=int, default=3)
p.add_argument("--plan", type=str, default=None)
p.add_argument("--sf", type=str, default="/root/testdata/sf0.1")
p.add_argument("names", nargs="+")
args = p.parse_args()

from bench import time_queries  # noqa: E402
from european_public_data_pipeline_spark import plans  # noqa: E402
from european_public_data_pipeline_spark.session import get_spark  # noqa: E402

cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
spark = get_spark(app_name="qtime", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
spark.sparkContext.setLogLevel("ERROR")

specs = plans.all_specs()
sel = [specs[n] for n in args.names]

if args.plan:
    os.makedirs(args.plan, exist_ok=True)
    import contextlib
    import io

    for s in sel:
        df = s.builder(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out = os.path.join(args.plan, f"{s.name}.txt")
        with open(out, "w") as f:
            f.write(buf.getvalue())
        print(f"plan written: {out}")
    spark.catalog.clearCache()

samples = time_queries(spark, sel, args.sf, args.passes)

for name, ts in samples.items():
    if ts:
        print(f"{name:34s} min {min(ts):7.3f}  all {' '.join(f'{t:.3f}' for t in ts)}")
