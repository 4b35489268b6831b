"""The contingency scorer agrees with a brute-force pair count."""

import itertools
import random

import pytest
import score


def brute(clusters, truth):
    keys = sorted(truth)
    same_c = {(a, b) for a, b in itertools.combinations(keys, 2) if clusters[a] == clusters[b]}
    same_g = {(a, b) for a, b in itertools.combinations(keys, 2) if truth[a] == truth[b]}
    tp = len(same_c & same_g)
    return (tp / len(same_g) if same_g else 1.0, tp / len(same_c) if same_c else 1.0)


def test_hand_built_case():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2, "e": 2, "f": 3}
    clusters = {"a": "a", "b": "a", "c": "c", "d": "a", "e": "e", "f": "f"}
    s = score.pair_scores(clusters, truth)
    # truth pairs ab ac bc de; predicted pairs ab ad bd; shared ab
    assert (s["true_pairs"], s["predicted_pairs"], s["found_pairs"]) == (4, 3, 1)
    assert (s["recall"], s["precision"]) == brute(clusters, truth) == (0.25, 1 / 3)


@pytest.mark.parametrize("seed", range(20))
def test_matches_brute_force_on_random_cases(seed):
    rng = random.Random(seed)
    keys = [f"k{i}" for i in range(rng.randint(1, 30))]
    truth = {k: rng.randint(0, 6) for k in keys}
    clusters = {k: rng.randint(0, 6) for k in keys}
    s = score.pair_scores(clusters, truth)
    assert (s["recall"], s["precision"]) == pytest.approx(brute(clusters, truth))


def test_missing_key_raises():
    with pytest.raises(ValueError):
        score.pair_scores({"a": 1}, {"a": 1, "b": 1})


def test_digest_ignores_order():
    rows = [("b", "a", False), ("a", "a", True), ("c", "c", True)]
    assert score.digest(rows) == score.digest(reversed(rows))
    assert score.digest(rows) != score.digest(rows[:2])


def test_report_problems():
    good = [("a", "a", True), ("b", "a", False), ("c", "c", True)]
    assert score.report_problems(good, "abc") == []
    assert score.report_problems(good[:2], "abc")  # c missing
    assert score.report_problems([("a", "b", True), ("b", "b", False)], "ab")  # id not min
    assert score.report_problems([("a", "a", True), ("b", "a", True)], "ab")  # two best
    assert score.report_problems([("a", "a", None), ("b", "a", None)], "ab") == []
