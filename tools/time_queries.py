"""Time individual registry queries in isolation (noop sink, min-of-N).

Usage: python tools/time_queries.py [-nN] <query> [query ...]

Same methodology as bench.py (one JVM warmup execution, noop sink, min
over N passes — default 3) but only for the named queries, so an
optimization loop gets a per-query read in seconds instead of a full
8-minute bench sweep.  Stores are not prebuilt: a named query that
probes a missing at-rest store builds it in its first pass, and the
min over N passes drops that pass.  Prints one line per query:
``<name> <min> s  (passes: t1 t2 ...)``.

Times from separate runs also differ by host drift; to compare two
commits, run ``tools/ab.py``, which alternates runs of this script
between them.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lofar_bf_pulsar_scripts_spark.session import get_spark
from __spark_entry__ import queries


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0].startswith("-n"):
        n = int(args[0][2:])
        args = args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="time-queries")
    qs = queries()

    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # JVM/codegen warmup (bench.py methodology)
    execute(qs[sorted(qs)[0]](spark, sf_dir))
    for name in args:
        if name not in qs:
            print(f"{name}: unknown query")
            continue
        ts = []
        for _ in range(n):
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.time()
            execute(qs[name](spark, sf_dir))
            ts.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        print(f"{name:40s} {min(ts):7.3f} s  (passes: {' '.join(str(t) for t in ts)})")


if __name__ == "__main__":
    main()
