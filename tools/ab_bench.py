"""Interleaved A/B of two repo checkouts (docs/BENCH_NOTES.md protocol).

Bench wall-clock swings +/-25% with machine load, so a regression claim
needs back-to-back interleaved runs, not two numbers from different hours.
Usage:
  python tools/ab_bench.py <repoA> <repoB> [n_pairs=3]
  python tools/ab_bench.py <repoA> <repoB> [n_pairs=3] --query NAME [--sf DIR]

Each iteration runs A then B (fresh processes, same env), alternating.
Without ``--query`` each side runs its bench.py and the report gives
per-side best/median of the headline total plus the per-query deltas of
the best runs.  With ``--query`` each side runs ONE registered query
(warm-up + 3 timed passes, forced through a noop sink, no base-table
pre-cache — bench.py's methodology) and the report gives per-side
min/median; this answers "did THIS query's steady-state cost move"
without paying two full bench runs per pair.  Exit 0 always — this is a
measurement tool, not a gate.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

QUERY_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from postpy_spark import registry
from postpy_spark.session import get_spark
name, sf_dir = sys.argv[1], sys.argv[2]
spark = get_spark("ab-query")
spark.sparkContext.setLogLevel("ERROR")
fn = registry.load_all()[name].fn

def force(df):
    df.write.format("noop").mode("overwrite").save()

force(fn(spark, sf_dir))  # warm-up: codegen + python worker pool
times = []
for _ in range(3):
    t0 = time.perf_counter()
    force(fn(spark, sf_dir))
    times.append(round(time.perf_counter() - t0, 3))
print("ABQ " + json.dumps(times))
spark.stop()
"""


def _last_line(repo: str, argv: list[str], marker) -> str:
    """Run ``python *argv`` in ``repo``; return the last stdout line
    ``marker`` accepts."""
    out = subprocess.run(
        [sys.executable, *argv],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=900,
    )
    line = None
    for ln in out.stdout.splitlines():
        if marker(ln):
            line = ln
    if line is None:
        raise RuntimeError(
            f"no result line from {repo}: {out.stdout[-500:]}\n{out.stderr[-500:]}"
        )
    return line


def run_bench(repo: str) -> dict:
    line = _last_line(
        repo, ["bench.py"], lambda ln: ln.startswith("{") and '"metric"' in ln
    )
    return json.loads(line)


def run_query(repo: str, query: str, sf_dir: str) -> list[float]:
    line = _last_line(
        repo, ["-c", QUERY_RUNNER, query, sf_dir], lambda ln: ln.startswith("ABQ ")
    )
    return json.loads(line[4:])


def ab_query(a: str, b: str, n: int, query: str, sf_dir: str) -> None:
    times: dict[str, list[float]] = {"A": [], "B": []}
    for i in range(n):
        pair = {side: run_query(repo, query, sf_dir) for side, repo in (("A", a), ("B", b))}
        for side, t in pair.items():
            times[side] += t
        print(f"pair {i + 1}: A={pair['A']} B={pair['B']}", flush=True)
    ta, tb = times["A"], times["B"]
    print(
        f"\n{query} @ {sf_dir}\n"
        f"A ({a}): min={min(ta):.3f} median={statistics.median(ta):.3f}\n"
        f"B ({b}): min={min(tb):.3f} median={statistics.median(tb):.3f}\n"
        f"delta(min) = {min(tb) - min(ta):+.3f}s "
        f"({(min(tb) / min(ta) - 1) * 100:+.1f}%)"
    )


def ab_bench(a: str, b: str, n: int) -> None:
    results: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(n):
        for side, repo in (("A", a), ("B", b)):
            r = run_bench(repo)
            results[side].append(r)
            print(
                f"pair {i + 1}/{n} side {side} ({repo}): "
                f"best={r['value']:.2f}s median={r.get('value_median', r['value']):.2f}s",
                flush=True,
            )
    summary = {}
    for side in ("A", "B"):
        bests = [r["value"] for r in results[side]]
        medians = [r.get("value_median", r["value"]) for r in results[side]]
        summary[side] = {
            "repo": a if side == "A" else b,
            "best_of_bests": min(bests),
            "median_of_medians": statistics.median(medians),
            "bests": [round(x, 3) for x in bests],
        }
    best_a = min(results["A"], key=lambda r: r["value"])
    best_b = min(results["B"], key=lambda r: r["value"])
    shared = sorted(set(best_a["queries"]) & set(best_b["queries"]))
    deltas = {
        q: round(best_a["queries"][q] - best_b["queries"][q], 3) for q in shared
    }
    summary["per_query_delta_A_minus_B_best"] = dict(
        sorted(deltas.items(), key=lambda kv: -abs(kv[1]))
    )
    only_a = sorted(set(best_a["queries"]) - set(best_b["queries"]))
    if only_a:
        summary["queries_only_in_A"] = {
            q: best_a["queries"][q] for q in only_a
        }
        summary["A_total_on_shared_set"] = round(
            sum(best_a["queries"][q] for q in shared), 3
        )
        summary["B_total_on_shared_set"] = round(
            sum(best_b["queries"][q] for q in shared), 3
        )
    print(json.dumps(summary, indent=2))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("repo_a")
    ap.add_argument("repo_b")
    ap.add_argument("n_pairs", nargs="?", type=int, default=3)
    ap.add_argument("--query", help="A/B one registered query instead of bench.py")
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="data dir for --query (default: $SPARK_GRAFT_SF_DIR, as bench.py)",
    )
    args = ap.parse_args()
    if args.query and not args.sf:
        ap.error("--query needs --sf DIR or $SPARK_GRAFT_SF_DIR")
    if args.query:
        ab_query(args.repo_a, args.repo_b, args.n_pairs, args.query, args.sf)
    else:
        ab_bench(args.repo_a, args.repo_b, args.n_pairs)


if __name__ == "__main__":
    main()
