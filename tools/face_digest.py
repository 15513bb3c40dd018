#!/usr/bin/env python
"""Result, plan and job digest of registry faces, for before/after checks.

    python tools/face_digest.py --sf DIR [--repeats N] FACE [FACE ...]
    python tools/face_digest.py --oracles

Per face it prints one JSON line: the row count, the sha256 of the rows
normalized the way the oracle harness compares them (columns sorted by
name, values stringified, rows sorted), the column list, the plan
markers of the executed plan (RoundRobinPartitioning present; counts of
MapInPandas and Exchange nodes), and the Spark jobs and wall seconds of
each call (the face's build plus its collect; jobs counted through a
job group).  Run it on two checkouts and diff the output: a refactor
whose lines differ only in jobs and seconds kept results and plan shape.

``--oracles`` prints the sha256 of the sorted (name, oracle SQL) dump,
one JSON ``[name, oracle]`` line per registered query (oracle null when
the face has none).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

PLAN_MARKERS = ("MapInPandas", "Exchange")


def oracle_dump_sha256() -> tuple[int, str]:
    from vector_ai_npm_spark import registry

    oracles = registry.all_oracles()
    names = sorted(registry.all_queries())
    dump = "".join(json.dumps([n, oracles.get(n)]) + "\n" for n in names)
    return len(names), hashlib.sha256(dump.encode()).hexdigest()


def digest(spark, name: str, sf_dir: str, repeats: int) -> dict:
    from tests.oracle_harness import _normalize
    from vector_ai_npm_spark import registry

    sc = spark.sparkContext
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    jobs, wall = [], []
    for i in range(repeats):
        group = f"face-digest-{name}-{i}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            df = registry.run(name, spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            cols = list(df.columns)
            rows = [tuple(r) for r in df.collect()]
            wall.append(round(time.perf_counter() - t0, 3))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    norm = _normalize(cols, rows)
    sha = hashlib.sha256("\n".join(map(repr, norm)).encode()).hexdigest()
    return {
        "face": name,
        "sf": Path(sf_dir).name,
        "rows": len(rows),
        "sha256": sha,
        "columns": cols,
        "RoundRobinPartitioning": "RoundRobinPartitioning" in plan,
        **{m: plan.count(m) for m in PLAN_MARKERS},
        "jobs": jobs,
        "wall_s": wall,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("faces", nargs="*")
    ap.add_argument("--sf", help="fixture directory (required with faces)")
    ap.add_argument("--repeats", type=int, default=2,
                    help="calls per face; the first one warms caches")
    ap.add_argument("--oracles", action="store_true")
    args = ap.parse_args()
    if args.oracles:
        n, sha = oracle_dump_sha256()
        print(json.dumps({"names": n, "oracle_dump_sha256": sha}))
    if not args.faces:
        return 0
    if not args.sf:
        ap.error("--sf is required with faces")

    from vector_ai_npm_spark.session import get_spark

    spark = get_spark("face-digest")
    try:
        for name in args.faces:
            print(json.dumps(digest(spark, name, args.sf, args.repeats)),
                  flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
