#!/usr/bin/env python
"""Same-window query A/B: current tree vs a previous round's git rev.

This sandbox's shared-host throughput swings multi-x between time
windows, so a cross-round delta (BENCH_r{N} vs BENCH_r{N-1}) can NOT
attribute a slowdown to code — only an interleaved same-window pair can
(this technique caught the round-4 minhash LSH reuse regression). The
bench delta table flags any query whose anchor-normalized delta exceeds
bench.FLAG_RATIO; this tool is the follow-up:

    python tools/query_ab.py doc_minhash_sig --rev <rev> --rounds 3

extracts `rev` with `git archive` into a temporary directory (under
$TMPDIR), then runs the named query interleaved x rounds, the first side
alternating between rounds (current, rev, rev, current, ...). Each cell
runs in a FRESH SUBPROCESS with PYTHONPATH pinned to its tree (two
versions of binlogpipe must never share one Python process). The tool
prints one JSON line with per-round walls, best-of walls, and the
cur/prev ratio.

Each cell: own Spark session, JVM+UDF warm-up, 2 timed noop-forced runs,
best-of (bench.py methodology).
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

RUNNER = r"""
import json, sys, time
tree, query, sf_dir, cores = sys.argv[1:5]
sys.path.insert(0, tree)
import __spark_entry__ as entry_mod
from binlogpipe.session import build_spark

spark = build_spark(app=f"qab-{query}", cores=int(cores))
spark.range(1000).selectExpr("sum(id)").collect()
q = entry_mod.queries()[query]
best = None
for _ in range(2):
    t0 = time.time()
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    w = time.time() - t0
    best = w if best is None or w < best else best
spark.stop()
print(json.dumps({"wall": round(best, 3)}))
"""


def run_cell(tree: str, query: str, sf_dir: str, cores: int) -> float:
    p = subprocess.run(
        [sys.executable, "-c", RUNNER, tree, query, sf_dir, str(cores)],
        capture_output=True, text=True, cwd=tree, timeout=1800)
    if p.returncode != 0:
        raise RuntimeError(f"cell failed in {tree}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["wall"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--rev", required=True,
                    help="git rev for the B side")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    with tempfile.TemporaryDirectory(prefix="qab_") as wt:
        archive = subprocess.run(["git", "archive", args.rev], cwd=REPO,
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", wt], input=archive, check=True)
        ab(args, wt)


def ab(args: argparse.Namespace, wt: str) -> None:
    walls = {str(REPO): [], wt: []}
    for i in range(args.rounds):
        # alternate which side runs first, so a position bias cancels
        for tree in list(walls)[::1 if i % 2 == 0 else -1]:
            walls[tree].append(run_cell(tree, args.query, args.sf_dir,
                                        args.cores))
        print(f"# round {i}: cur={walls[str(REPO)][-1]}s "
              f"rev={walls[wt][-1]}s", file=sys.stderr)
    cur_walls, prev_walls = walls[str(REPO)], walls[wt]

    cur, prev = min(cur_walls), min(prev_walls)
    print(json.dumps({
        "query": args.query, "rev": args.rev, "rounds": args.rounds,
        "cur_walls": cur_walls, "rev_walls": prev_walls,
        "cur_best": cur, "rev_best": prev,
        "cur_median": round(statistics.median(cur_walls), 3),
        "rev_median": round(statistics.median(prev_walls), 3),
        "ratio_best": round(cur / prev, 3),
        "ratio_median": round(statistics.median(cur_walls)
                              / statistics.median(prev_walls), 3),
    }))


if __name__ == "__main__":
    main()
