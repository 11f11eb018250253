"""scripts/paired_ab.py without Spark: the verdict rules on synthetic
pairs, the order of sides across pairs, and the benchmark-identity
guard on two throwaway git repositories."""

from __future__ import annotations

import subprocess

from scripts import paired_ab

BASE = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]


def _pairs(changes: list[float]) -> list[tuple[float, float]]:
    return list(zip(BASE, changes))


def test_nine_of_ten_wins_beyond_the_iqr_is_a_gain():
    change = [0.6] * 9 + [1.5]
    s = paired_ab.compare(_pairs(change), "lower", 0.25)
    assert (s["wins"], s["losses"], s["verdict"]) == (9, 1, "gain")
    assert s["ratios"] == (0.6 / 1.03, 1.5 / 0.98)


def test_eight_of_ten_wins_is_not_a_gain():
    change = [0.6] * 8 + [1.5, 1.5]
    s = paired_ab.compare(_pairs(change), "lower", 0.25)
    assert s["wins"] == 8
    assert s["verdict"] == "same"


def test_a_drop_within_the_parent_iqr_is_not_a_gain():
    # wins every pair, by less than the parent's interquartile range
    s = paired_ab.compare(_pairs([b - 0.005 for b in BASE]), "lower", 0.25)
    assert s["wins"] == 10
    assert s["verdict"] == "same"


def test_ties_count_for_neither_side():
    change = [0.6] * 9 + [BASE[9]]
    s = paired_ab.compare(_pairs(change), "lower", 0.25)
    assert (s["wins"], s["losses"]) == (9, 0)
    assert s["verdict"] == "gain"
    change = [0.6] * 8 + [BASE[8], BASE[9]]
    s = paired_ab.compare(_pairs(change), "lower", 0.25)
    assert (s["wins"], s["losses"], s["verdict"]) == (8, 0, "same")


def test_higher_is_better():
    s = paired_ab.compare(_pairs([1.6] * 9 + [0.5]), "higher", 0.25)
    assert (s["wins"], s["verdict"]) == (9, "gain")
    assert s["change"][1] == 1.6
    s = paired_ab.compare(_pairs([0.6] * 10), "higher", 0.25)
    assert (s["wins"], s["losses"], s["verdict"]) == (0, 10, "worse")


def test_worse_beyond_the_bound():
    s = paired_ab.compare(_pairs([1.3] * 10), "lower", 0.25)
    assert s["verdict"] == "worse"
    s = paired_ab.compare(_pairs([1.2] * 10), "lower", 0.25)
    assert s["verdict"] == "same"


def test_without_a_bound_worse_is_the_swapped_gain_rule():
    assert paired_ab.compare(_pairs([1.2] * 10), "lower")["verdict"] == "worse"
    assert paired_ab.compare(_pairs([1.2] * 8 + [0.5] * 2), "lower")["verdict"] == "same"


def test_a_wide_parent_iqr_is_unresolved():
    wide = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
    change = [1.1, 1.9, 1.1, 1.9, 1.1, 1.9, 1.1, 1.9, 1.1, 1.9]
    s = paired_ab.compare(list(zip(wide, change)), "lower", 0.25)
    assert s["verdict"] == "unresolved"
    # unless every change run beats every parent run
    s = paired_ab.compare(list(zip(wide, [0.9] * 10)), "lower", 0.25)
    assert s["verdict"] == "same"


def test_a_missing_run_counts_against_a_gain():
    pairs = _pairs([0.6] * 10)
    pairs[3] = (pairs[3][0], None)
    pairs[5] = (None, pairs[5][1])
    s = paired_ab.compare(pairs, "lower", 0.25)
    assert (s["n"], s["wins"], s["verdict"]) == (10, 8, "same")
    # the lone change value of pair 5 still counts in its median
    assert s["change"][1] == 0.6


def test_sides_alternate_base_first_on_even_pairs():
    orders = [paired_ab.side_order(i) for i in range(4)]
    assert orders == [
        ("base", "change"),
        ("change", "base"),
        ("base", "change"),
        ("change", "base"),
    ]
    assert paired_ab.parse_seeds("7001-7010") == list(range(7001, 7011))
    assert paired_ab.parse_seeds("5") == [5]


def _repo(root, perfbench_run: str):
    root.mkdir()
    (root / "perfbench").mkdir()
    (root / "perfbench" / "run.py").write_text(perfbench_run)
    (root / "BENCHMARK.json").write_text("{}\n")
    (root / "engine.py").write_text(f"# {root.name}\n")
    git = ["git", "-C", str(root), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "add", "-A"], check=True)
    subprocess.run([*git, "commit", "-qm", "init"], check=True)
    return str(root)


def test_guard_refuses_differing_benchmark_trees(tmp_path):
    a = _repo(tmp_path / "a", "print(1)\n")
    b = _repo(tmp_path / "b", "print(1)\n")
    c = _repo(tmp_path / "c", "print(2)\n")
    # engine code may differ; the benchmark must not
    assert paired_ab.same_benchmark(a, b)
    assert not paired_ab.same_benchmark(a, c)
    # an uncommitted edit or a new untracked file counts too
    (tmp_path / "b" / "perfbench" / "extra.py").write_text("x = 1\n")
    assert not paired_ab.same_benchmark(a, b)
