"""Time named registry queries at an SF dir through the noop sink.

Usage: python tools/time_queries.py name1,name2,... [--sf /root/testdata/sf0.1]
                                    [--repeat 1]

Per-query wall seconds to stdout; a CPU-probe witness brackets the run so a
contended measurement is visibly contended (quiet mark ~0.95s on this box).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.scaling_bench import cpu_probe  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()
    names = [n.strip() for n in args.names.split(",") if n.strip()]

    import __spark_entry__ as entry
    from crawler_spark.session import get_spark
    spark = get_spark()
    qs = entry.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        sys.exit(f"unknown queries: {missing}")
    print(f"probe_pre {cpu_probe()}")
    for n in names:
        for r in range(args.repeat):
            t0 = time.perf_counter()
            qs[n](spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            print(f"{n} run{r}: {dt:.2f}s", flush=True)
    print(f"probe_post {cpu_probe()}")


if __name__ == "__main__":
    main()
