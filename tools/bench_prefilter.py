"""Measure: does a cheap prefix guard before the heavy nginx regex pay off?
Only ~20% of transcript rows are nginx-format; the sentinel regex still
scans every row (the lazy ^.*? wrapper walks the whole string on failure)."""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F

from ilogtail_spark.operators.parse import _ONEPASS_SENT, _ONEPASS_SEP
from ilogtail_spark.plans.pipeline import NGINX_KEYS, NGINX_PATTERN
from ilogtail_spark.session import get_spark


def main() -> None:
    spark = get_spark(master="local[32]", shuffle_partitions=32,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.read.parquet("/tmp/ilogtail_spark_bench_transcripts_150000").cache()
    n = src.count()
    print("turns:", n)

    def timeit(name, df):
        df.write.format("noop").mode("overwrite").save()
        best = 1e9
        for _ in range(3):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        print(f"{name}: {best:.2f}s  {n/best/1e3:.0f}k t/s")

    wrapped = "(?s)^(?:.*?)(?:" + NGINX_PATTERN + ")(?:.*)$"
    repl = _ONEPASS_SENT + _ONEPASS_SEP.join(f"${i}" for i in range(1, 10))

    packed_plain = F.regexp_replace(F.col("text"), wrapped, repl)
    arr_p = F.split(F.substring(packed_plain, 2, 2147483647), _ONEPASS_SEP)
    a = src.select(
        "conv_id",
        *[F.when(packed_plain.startswith(_ONEPASS_SENT), arr_p.getItem(i)).alias(k)
          for i, k in enumerate(NGINX_KEYS)],
    )
    timeit("no guard", a)

    guard = F.col("text").startswith("1")  # nginx lines start '192.168.'
    packed_g = F.when(guard, F.regexp_replace(F.col("text"), wrapped, repl))
    arr_g = F.split(F.substring(packed_g, 2, 2147483647), _ONEPASS_SEP)
    b = src.select(
        "conv_id",
        *[F.when(packed_g.startswith(_ONEPASS_SENT), arr_g.getItem(i)).alias(k)
          for i, k in enumerate(NGINX_KEYS)],
    )
    timeit("prefix guard", b)

    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    print("diff rows:", diff)
    spark.stop()


if __name__ == "__main__":
    main()
