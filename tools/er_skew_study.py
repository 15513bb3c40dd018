#!/usr/bin/env python
"""ER hot-block skew study (r10 verdict item 5): plant one hot
surname-style block (shared 4-char prefix) at 1x and 10x occupancy and
time the skew-guarded pair generation + clustering end to end.

Without the guard the hot block's pair work is occupancy^2 (100x at
10x); with the deletion-key route it is key-collision-bound (~linear),
so the 10x wall ratio should sit in the same 1-1.5x band as the other
BASELINE.md §4 map-shaped rows.

    python tools/er_skew_study.py [HOT_1X]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

HOT_1X = int(sys.argv[1]) if len(sys.argv) > 1 else 3000


def build(spark, hot: int, cold: int = 2000):
    rows = []
    for k in range(hot):
        base = "aaaa" + hashlib.md5(str(k).encode()).hexdigest()[:8]
        rows.append((k * 4, base))
        if k % 2 == 0:
            rows.append((k * 4 + 1, base))  # exact dup
        if k % 3 == 0:
            rows.append((k * 4 + 2, base[:6] + base[7:]))  # lev-1 variant
    for k in range(cold):
        nm = hashlib.md5(str(-k - 1).encode()).hexdigest()[:12]
        rows.append((10**7 + k * 4, nm))
        if k % 2 == 0:
            rows.append((10**7 + k * 4 + 1, nm + "q"))
    return spark.createDataFrame(rows, "doc_id long, name string").repartition(32)


def run(spark, mentions) -> tuple[float, int]:
    from vector_ai_npm_spark.dedup.components import assign_components
    from vector_ai_npm_spark.dedup.components import _er_pairs

    best = float("inf")
    n = 0
    for _ in range(2):
        t0 = time.monotonic()
        n = assign_components(mentions, _er_pairs(mentions)).count()
        best = min(best, time.monotonic() - t0)
    return best, n


def main() -> None:
    from vector_ai_npm_spark.session import get_spark

    spark = get_spark()
    m1 = build(spark, HOT_1X)
    m1.cache().count()
    t1, n1 = run(spark, m1)
    m10 = build(spark, HOT_1X * 10)
    m10.cache().count()
    t10, n10 = run(spark, m10)
    print(f"hot block {HOT_1X} -> {HOT_1X * 10} records (guarded route)")
    print(
        f"er pairs+components   1x {t1:6.2f} s ({n1} rows)   "
        f"10x {t10:6.2f} s ({n10} rows)   ratio {t10 / t1:.2f}x"
    )


if __name__ == "__main__":
    main()
