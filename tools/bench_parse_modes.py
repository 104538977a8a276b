"""Compare regex-parse physical strategies on the bench transcript table.

A: per-key regexp_extract (N+1 regex executions per row, pure codegen)
B: sentinel regexp_replace into a \\x01-delimited string + split (1 pass)
C: Arrow pandas str.extract (1 pass, Python worker)
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F

from ilogtail_spark.operators.parse import regex_parse
from ilogtail_spark.plans.pipeline import NGINX_KEYS, NGINX_PATTERN
from ilogtail_spark.session import get_spark

SEP = "\x01"
SENT = "\x02"


def main() -> None:
    spark = get_spark(master="local[32]", shuffle_partitions=32,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.read.parquet("/tmp/ilogtail_spark_bench_transcripts_60000").cache()
    n = src.count()
    print("turns:", n)

    def timeit(name, df):
        df.write.format("noop").mode("overwrite").save()
        best = 1e9
        for _ in range(2):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        print(f"{name}: {best:.2f}s  {n/best/1e3:.0f}k turns/s")

    a = regex_parse(src, NGINX_PATTERN, NGINX_KEYS, "text",
                    keep_source=True).select("conv_id", "turn_idx", *NGINX_KEYS)
    timeit("A per-key extract (10 passes)", a)

    repl = SENT + SEP.join(f"${i}" for i in range(1, len(NGINX_KEYS) + 1))
    packed = F.regexp_replace(F.col("text"), "(?s)^(?:" + NGINX_PATTERN + ")$", repl)
    matched = packed.startswith(SENT)
    arr = F.split(F.substring(packed, 2, 2147483), SEP)
    b = src.select(
        "conv_id", "turn_idx",
        *[F.when(matched, arr.getItem(i)).alias(k) for i, k in enumerate(NGINX_KEYS)],
    )
    timeit("B sentinel replace+split (1 pass)", b)

    c = regex_parse(src, NGINX_PATTERN, NGINX_KEYS, "text", keep_source=True,
                    mode="arrow").select("conv_id", "turn_idx", *NGINX_KEYS)
    timeit("C arrow str.extract", c)

    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    print("A vs B diff rows:", diff)
    spark.stop()


if __name__ == "__main__":
    main()
