#!/usr/bin/env python
"""Dump .explain("formatted") for registry queries to plans/r{N}/<name>_<tag>.txt.

Usage: python scripts/explain_dump.py <tag> <query-name> [...more names]
       python scripts/explain_dump.py <tag> --all-heavy   (the bench median set)

The optimization-round evidence trail (guide §1/§7.2): every optimized query
commits a _before and _after plan so plan-shape claims (Exchange counts, join
strategy, PushedFilters, Batch/ArrowEvalPython) are checkable without Spark.
Serialize with other Spark work (CLAUDE.md bench rule).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("SPARK_GRAFT_ROUND", "16")


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]

    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.session import get_session

    if "--all-heavy" in names:
        # expand to the bench median set of the latest BENCH_DETAIL file
        # (ADVICE r16: the flag was advertised but unimplemented)
        import json
        import re

        # the default-core runs only: BENCH_DETAIL_r{N}_c{cores}.json files
        # come from other core counts
        details = sorted(
            (int(m.group(1)), f)
            for f in os.listdir(REPO)
            if (m := re.fullmatch(r"BENCH_DETAIL_r(\d+)\.json", f))
        )
        if not details:
            sys.exit("--all-heavy needs a BENCH_DETAIL_r{N}.json to read the median set")
        with open(os.path.join(REPO, details[-1][1])) as fh:
            heavy = json.load(fh)["heavy_top10"]
        names = [n for n in names if n != "--all-heavy"] + [
            n for n in heavy if n in REGISTRY
        ]

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        "explain-dump", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(REPO, "plans", f"r{ROUND}")
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        spec = REGISTRY[name]
        df = spec.spark(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")
        # index-replay queries leave persisted tables/RDDs behind; clean
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    sys.exit(main())
