#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries to plans/<tag>/ and
append physical-operator counts to plans/<tag>/_stats_<suffix>.json.

Usage: PYTHONPATH=/root/repo python tools/dump_plans.py TAG SUFFIX Q [Q ...]
       (TAG like r17, SUFFIX like before/after; Q like gopher_repetition,
        or 'ALL' for every benched row)

Plan generation only (no execution) — safe to run on a busy box; the
stats file is merged per query so repeated invocations accumulate.
"""
from __future__ import annotations

import json
import os
import re
import sys


def plan_stats(plan_text: str) -> dict:
    """Count physical operators from an explain('formatted') header
    tree (node name with join type/build side, no ids)."""
    counts: dict[str, int] = {}
    for line in plan_text.splitlines():
        if line.startswith("== "):
            continue
        m = re.match(r"^[\s:+-]*([A-Za-z][A-Za-z0-9 ]*?) \(\d+\)\s*$", line)
        if not m:
            continue
        name = m.group(1)
        counts[name] = counts.get(name, 0) + 1
    return counts


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit("usage: dump_plans.py TAG SUFFIX QUERY [QUERY ...]")
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    outdir = os.path.join(repo, "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    import bench
    from cubert_spark import get_session
    from cubert_spark.queries import (
        all_queries,
        extra_bench_queries,
        folded_queries,
    )

    queries = all_queries()
    _extra = extra_bench_queries()
    _extra.update(folded_queries())
    if names == ["ALL"]:
        names = list(bench.BENCH_QUERIES)

    spark = get_session(
        "cubert-plandump",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    stats_path = os.path.join(outdir, f"_stats_{suffix}.json")
    stats: dict = {}
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            stats = json.load(f)
    for name in names:
        fn = queries.get(name) or _extra[name]
        df = fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        stats[name] = plan_stats(txt)
        print(f"# {name}: {sum(stats[name].values())} nodes", file=sys.stderr)
    with open(stats_path, "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
