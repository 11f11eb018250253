"""Same-session worktree A/B: discriminate code regressions from host noise.

The round-10 verdict's process finding: a bench-flagged query whose
official number moves >1.5x round-over-round was attributed to host
degradation when it was a real code regression (stream_corpus_curation,
cd86f16). min-of-N absorbs spiky noise but cannot discriminate a code
regression from a uniformly-inflated host window — only running BOTH
revisions back-to-back on the same box can. This harness institutionalizes
that: check out a baseline rev into a throwaway git worktree, time the
named queries there and at the working tree, min-of-N each, same process
recipe (warmed session, noop sink, cache release between repeats), and
print one JSON comparison line. PERF.md policy (r11): every query whose
official bench number moves >1.5x round-over-round gets one of these runs
recorded BEFORE the move is attributed to noise or accepted as a cost.

Usage:
  python scripts/regression_ab.py --rev e9aec13 \
      --queries stream_corpus_curation,pipeline_corpus_curation \
      [--repeats 4] [--sf-dir /root/testdata/sf0.1]

Ratio > ~1.2 with both sides quiet = code regression at the working tree;
ratio ~1.0 while the official numbers moved = host-noise attribution holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Child runner: executed once per side with PYTHONPATH pointed at that
# side's checkout, so each side imports its own code. Bench recipe matches
# bench.py: warmed session, noop sink (all columns computed + serialized),
# persist/cache release between repeats, min-of-N.
_RUNNER = r"""
import json, os, sys, time
names = sys.argv[1].split(",")
repeats = int(sys.argv[2])
from clinical_bi_spark import caching
from clinical_bi_spark.queries import load_all
from clinical_bi_spark.session import get_spark, warm
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
reg = load_all()
spark = get_spark("regression-ab")
spark.sparkContext.setLogLevel("ERROR")
def run_fully(df):
    df.write.format("noop").mode("overwrite").save()
run_fully(reg["agg_pricing_summary"].fn(spark, sf_dir))
warm(spark)
out = {}
for name in names:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        run_fully(reg[name].fn(spark, sf_dir))
        best = min(best, time.perf_counter() - t0)
        caching.release_all(spark)
        spark.catalog.clearCache()
    out[name] = round(best, 3)
print("AB_RESULT " + json.dumps(out))
spark.stop()
"""


def _time_side(tree: str, queries: str, repeats: int, sf_dir: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = tree
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, queries, str(repeats)],
        env=env,
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT ") :])
    raise RuntimeError(
        f"runner in {tree} produced no result:\n{proc.stdout[-2000:]}\n"
        f"{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", required=True, help="baseline git rev to A/B against")
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--repeats", type=int, default=4)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    wt = tempfile.mkdtemp(prefix=f"ab_{args.rev.replace('/', '_')}_")
    subprocess.run(
        ["git", "-C", REPO, "worktree", "add", "--detach", "--force", wt, args.rev],
        check=True,
        capture_output=True,
    )
    try:
        # baseline first, then working tree — interleaving order is fixed
        # so a monotonically-degrading host biases AGAINST the baseline,
        # i.e. toward a conservative (regression-flagging) read.
        base = _time_side(wt, args.queries, args.repeats, args.sf_dir)
        head = _time_side(REPO, args.queries, args.repeats, args.sf_dir)
    finally:
        subprocess.run(
            ["git", "-C", REPO, "worktree", "remove", "--force", wt],
            capture_output=True,
        )
    report = {
        "baseline_rev": args.rev,
        "repeats": args.repeats,
        "sf_dir": args.sf_dir,
        "queries": {
            n: {
                "baseline_sec": base.get(n),
                "worktree_sec": head.get(n),
                "ratio": (
                    round(head[n] / base[n], 3)
                    if base.get(n) and head.get(n)
                    else None
                ),
            }
            for n in sorted(set(base) | set(head))
        },
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
