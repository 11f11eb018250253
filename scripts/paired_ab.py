"""Paired, interleaved A/B of two revisions on this host.

    python scripts/paired_ab.py --base REV [--change REV] --workload W --pairs N --seeds A-B [--trace]
    python scripts/paired_ab.py --base REV [--change REV] --queries a,b --pairs N --seeds A-B

Each revision is exported with ``git worktree add --detach`` under the
temp directory (``$TMPDIR``, else ``/tmp``); without ``--change`` the
change side is the working tree. The pairs run strictly one after the
other, and pair i runs the base first when i is even, so a host that
drifts during the run favours neither side. The worktrees are removed
at the end, also after a failure.

* **Workload mode** runs each tree's own ``BENCHMARK.json`` command
  (``perfbench/run.py --workload W --seed S --seconds <run_seconds>``)
  unchanged, pair i with the i-th seed. It refuses to time anything if
  ``perfbench/`` or ``BENCHMARK.json`` differ between the two trees. It
  compares the end-to-end metrics with their ``better`` direction and
  ``bound`` from ``BENCHMARK.json``; with ``--trace`` it passes
  ``--trace 1`` and compares the per-layer metrics instead.
* **Query mode** runs each tree's ``bench.main(names)`` in a fresh
  process: warm-up, min of 3 ``noop`` writes per query, caches released
  between repeats. bench.py has no seed; there the seed only labels the
  pair.

For each metric (or query) it prints both sides' median and quartiles,
the pairs the change won (ties count for neither side), the range of
per-pair change/parent ratios and one verdict, tried in this order:

* ``gain``: the change wins at least 9 in 10 pairs, and its median is
  better than the parent's by more than the parent's interquartile range;
* ``worse``: the change's median is worse than the parent's by more than
  the metric's relative bound; a metric without a bound (per-layer,
  query mode) reads ``worse`` by the gain rule with the sides swapped;
* ``unresolved``: the parent's interquartile range is wider than the
  bound, unless every change run beats every parent run;
* ``same``: none of the above.

A run that dies, reads ``correct: false`` or ``failed > 0``, or (query
mode) reports a query error is listed as a row and counted in its
pair's denominator. A run with metrics keeps them in the medians; one
without leaves its pair incomplete, which counts against ``gain``. The
exit status is 1 if any run was not clean, 2 if the trees cannot be
compared.
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: What the benchmark runs besides the engine: it must be identical on
#: both sides of a workload A/B.
BENCH_PATHS = ("perfbench", "BENCHMARK.json")
RUN_TIMEOUT_S = 1800


@dataclass
class Run:
    pair: int
    seed: int
    side: str  # "base" or "change"
    values: dict[str, float]
    problem: str = ""  # empty for a clean run


def parse_seeds(text: str) -> list[int]:
    """``"7001-7010"`` -> [7001, ..., 7010]; ``"5"`` -> [5]."""
    first, _, last = text.partition("-")
    lo, hi = int(first), int(last or first)
    if hi < lo:
        raise ValueError(f"empty seed range {text!r}")
    return list(range(lo, hi + 1))


def side_order(pair: int) -> tuple[str, str]:
    """The order pair ``pair`` runs its sides in: base first when even."""
    return ("base", "change") if pair % 2 == 0 else ("change", "base")


def bench_digest(tree: str) -> str:
    """Digest of the benchmark files of ``tree``: the tracked and
    untracked, not ignored, files under BENCH_PATHS, as they are on
    disk."""
    listed = subprocess.run(
        ["git", "-C", tree, "ls-files", "-z", "--cached", "--others",
         "--exclude-standard", "--", *BENCH_PATHS],
        capture_output=True, text=True, check=True,
    ).stdout
    h = hashlib.sha256()
    for rel in sorted(set(filter(None, listed.split("\0")))):
        path = os.path.join(tree, rel)
        if not os.path.isfile(path):  # deleted in the working tree
            continue
        h.update(rel.encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def same_benchmark(base_tree: str, change_tree: str) -> bool:
    return bench_digest(base_tree) == bench_digest(change_tree)


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def compare(
    pairs: list[tuple[float | None, float | None]],
    better: str = "lower",
    bound: float | None = None,
) -> dict:
    """Summary and verdict of one metric over ``pairs`` of
    (parent, change) values, None where a run has no value. ``bound`` is
    relative to the parent's median; None for a metric without one."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")
    # compare in "lower is better" terms
    sign = 1.0 if better == "lower" else -1.0
    parent = [sign * p for p, _ in pairs if p is not None]
    change = [sign * c for _, c in pairs if c is not None]
    complete = [(sign * p, sign * c) for p, c in pairs if p is not None and c is not None]
    out = {
        "n": len(pairs),
        "wins": sum(c < p for p, c in complete),
        "losses": sum(c > p for p, c in complete),
        "parent": None,
        "change": None,
        "ratios": None,
        "verdict": "unresolved",
    }
    if not parent or not change:
        return out
    p_q, c_q = _quartiles(parent), _quartiles(change)
    out["parent"] = tuple(sorted(sign * v for v in p_q))
    out["change"] = tuple(sorted(sign * v for v in c_q))
    ratios = [c / p for p, c in complete if p]
    out["ratios"] = (min(ratios), max(ratios)) if ratios else None

    def beats(ref: tuple, other: tuple, other_wins: int) -> bool:
        # ``other`` wins at least 9/10 of all pairs, and its median is
        # better than ``ref``'s by more than ``ref``'s interquartile range
        return 10 * other_wins >= 9 * len(pairs) and ref[1] - other[1] > abs(ref[2] - ref[0])

    if beats(p_q, c_q, out["wins"]):
        out["verdict"] = "gain"
    elif (
        c_q[1] - p_q[1] > bound * abs(p_q[1])
        if bound is not None
        else beats(c_q, p_q, out["losses"])
    ):
        out["verdict"] = "worse"
    elif (
        bound is not None
        and abs(p_q[2] - p_q[0]) > bound * abs(p_q[1])
        and not max(change) < min(parent)
    ):
        out["verdict"] = "unresolved"
    else:
        out["verdict"] = "same"
    return out


def _child(cmd: list[str], tree: str, env: dict | None = None) -> tuple[dict, str]:
    """Run ``cmd`` in ``tree``: (the JSON object on its last stdout line,
    problem); an empty dict and why when it dies."""
    try:
        proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {}, f"died: no result within {RUN_TIMEOUT_S} s"
    lines = proc.stdout.strip().splitlines()
    try:
        doc = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except ValueError:
        doc = None
    if not isinstance(doc, dict):
        last = (proc.stderr.strip().splitlines() or ["no output"])[-1]
        return {}, f"died (exit {proc.returncode}): {last[:160]}"
    return doc, ""


def run_workload(tree: str, spec: dict, workload: str, seed: int, trace: bool) -> tuple[dict, str]:
    """One ``perfbench`` run in ``tree``: (metric values, problem)."""
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"])]
    if trace:
        cmd += ["--trace", "1"]
    result, problem = _child(cmd, tree)
    if problem:
        return {}, problem
    values = {k: m["value"] for k, m in result["metrics"].items()}
    problem = ""
    if not result["correct"] or result["failed"]:
        problem = f"correct={str(result['correct']).lower()} failed={result['failed']}"
    return values, problem


#: Child program of query mode: the tree's own bench.main on the names.
_BENCH_CHILD = "import sys, bench; bench.main(sys.argv[1].split(','))"


def run_queries(tree: str, names: list[str]) -> tuple[dict, str]:
    """One ``bench.main(names)`` run in ``tree``: (seconds per query,
    problem)."""
    result, problem = _child([sys.executable, "-c", _BENCH_CHILD, ",".join(names)],
                             tree, env={**os.environ, "PYTHONPATH": tree})
    if problem:
        return {}, problem
    errors = result.get("errors") or {}
    return result["queries"], "; ".join(f"{n}: {e}" for n, e in errors.items())


def bench_takes_names(tree: str) -> bool:
    """Whether ``tree``'s ``bench.main`` takes the query names."""
    with open(os.path.join(tree, "bench.py")) as f:
        module = ast.parse(f.read())
    return any(
        isinstance(node, ast.FunctionDef) and node.name == "main" and node.args.args
        for node in module.body
    )


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout.strip()


def _fmt(v: float) -> str:
    return f"{v:.3g}" if abs(v) < 1000 else f"{v:.0f}"


def report(title: str, metrics: list[dict], runs: list[Run], n_pairs: int) -> None:
    """Print one row per metric and one per run that was not clean."""
    print(title)
    rows = [("metric", "unit", "parent median [q1, q3]", "change median [q1, q3]",
             "change wins", "change/parent", "verdict")]
    for m in metrics:
        by_pair: dict[int, list] = {i: [None, None] for i in range(n_pairs)}
        for r in runs:
            if m["name"] in r.values:
                by_pair[r.pair][r.side == "change"] = r.values[m["name"]]
        s = compare([tuple(v) for v in by_pair.values()], m["better"], m.get("bound"))
        sides = [
            "-" if q is None else f"{_fmt(q[1])} [{_fmt(q[0])}, {_fmt(q[2])}]"
            for q in (s["parent"], s["change"])
        ]
        ratios = "-" if s["ratios"] is None else f"{s['ratios'][0]:.2f}-{s['ratios'][1]:.2f}"
        rows.append((m["name"], m["unit"], *sides, f"{s['wins']}/{s['n']}", ratios, s["verdict"]))
    widths = [max(len(str(r[i])) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(str(c).ljust(w) for c, w in zip(r, widths)).rstrip())
    bad = [r for r in runs if r.problem]
    print(f"runs not clean: {len(bad)} of {len(runs)}")
    for r in bad:
        print(f"  pair {r.pair} seed {r.seed} {r.side}: {r.problem}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True, help="parent revision")
    p.add_argument("--change", help="changed revision (default: the working tree)")
    mode = p.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload", help="a BENCHMARK.json workload")
    mode.add_argument("--queries", help="comma-separated registry query names")
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seeds", required=True, help="A-B, one seed per pair")
    p.add_argument("--trace", action="store_true", help="compare the per-layer metrics")
    args = p.parse_args(argv)
    seeds = parse_seeds(args.seeds)
    if len(seeds) != args.pairs:
        p.error(f"--seeds {args.seeds} names {len(seeds)} seeds for {args.pairs} pairs")
    if args.trace and not args.workload:
        p.error("--trace needs --workload")

    revs = {"base": _git("rev-parse", "--short", f"{args.base}^{{commit}}")}
    if args.change:
        revs["change"] = _git("rev-parse", "--short", f"{args.change}^{{commit}}")
    scratch = tempfile.mkdtemp(prefix="paired_ab_")
    trees = {"change": REPO}
    made = []
    try:
        for side, rev in revs.items():
            trees[side] = os.path.join(scratch, side)
            made.append(trees[side])
            _git("worktree", "add", "--detach", trees[side], rev)

        if args.workload:
            if not same_benchmark(trees["base"], trees["change"]):
                print(f"paired_ab: {' or '.join(BENCH_PATHS)} differ between the two "
                      "trees; the benchmark code would not be identical", file=sys.stderr)
                return 2
            with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
                spec = json.load(f)
            if args.workload not in {w["name"] for w in spec["workloads"]}:
                p.error(f"unknown workload {args.workload!r}")
            metrics = spec["per_layer" if args.trace else "end_to_end"]

            def one(tree: str, seed: int) -> tuple[dict, str]:
                return run_workload(tree, spec, args.workload, seed, args.trace)
        else:
            names = args.queries.split(",")
            old = [side for side in trees if not bench_takes_names(trees[side])]
            if old:
                print(f"paired_ab: bench.main() of the {' and '.join(old)} revision takes "
                      "no query names; query mode needs a revision where it does",
                      file=sys.stderr)
                return 2
            metrics = [{"name": n, "unit": "s", "better": "lower"} for n in names]

            def one(tree: str, seed: int) -> tuple[dict, str]:
                return run_queries(tree, names)

        runs = []
        for pair, seed in enumerate(seeds):
            for side in side_order(pair):
                values, problem = one(trees[side], seed)
                runs.append(Run(pair, seed, side, values, problem))
                print(f"pair {pair} seed {seed} {side}: {problem or 'ok'}", file=sys.stderr, flush=True)
    finally:
        for tree in made:
            subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", tree],
                           capture_output=True)
        shutil.rmtree(scratch, ignore_errors=True)

    change = revs.get("change", "working tree")
    if args.workload:
        what = f"workload {args.workload}{' (traced)' if args.trace else ''}"
    else:
        what = f"queries at {os.environ.get('SPARK_GRAFT_SF_DIR', 'the bench.py default SF')}"
    report(f"paired A/B: base {revs['base']} vs change {change}, {what}, "
           f"{args.pairs} pairs, seeds {args.seeds}", metrics, runs, args.pairs)
    return 1 if any(r.problem for r in runs) else 0


if __name__ == "__main__":
    sys.exit(main())
