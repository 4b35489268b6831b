"""Output checks: pair recall/precision against planted truth, structural
checks on a cluster report, and an order-independent digest.

Pair counts come from the cluster x truth-group contingency table, so no
pair is enumerated: the pairs two docs share a cluster *and* a group number
sum(C(n_cg, 2)); the truth pairs sum(C(n_g, 2)); the predicted pairs
sum(C(n_c, 2)).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Hashable, Iterable, Mapping


def _pairs(counts: Iterable[int]) -> int:
    return sum(n * (n - 1) // 2 for n in counts)


def pair_scores(
    clusters: Mapping[Hashable, Hashable], truth: Mapping[Hashable, Hashable]
) -> dict:
    """Recall and precision of same-cluster pairs over the keys of ``truth``.

    ``clusters`` must assign every truth key; a missing key raises, because
    a dropped doc is an output defect, not a scoring choice.
    """
    missing = [k for k in truth if k not in clusters]
    if missing:
        raise ValueError(f"{len(missing)} truth keys missing from output, e.g. {missing[:3]}")
    joint = Counter((clusters[k], g) for k, g in truth.items())
    tp = _pairs(joint.values())
    truth_pairs = _pairs(Counter(truth.values()).values())
    pred_pairs = _pairs(Counter(clusters[k] for k in truth).values())
    return {
        "recall": tp / truth_pairs if truth_pairs else 1.0,
        "precision": tp / pred_pairs if pred_pairs else 1.0,
        "true_pairs": truth_pairs,
        "found_pairs": tp,
        "predicted_pairs": pred_pairs,
    }


def digest(rows: Iterable[tuple]) -> str:
    """sha256 over the sorted row reprs: equal for equal row multisets,
    whatever order the engine returned them in."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def report_problems(rows: list[tuple], keys: Iterable[Hashable]) -> list[str]:
    """Structural defects of ``(key, cluster_id, is_best)`` rows: every key
    exactly once, no key the input lacks, the cluster id is the smallest
    member key, and one best member per cluster.  ``is_best`` may be None
    when the output has no best pick."""
    problems = []
    seen = Counter(r[0] for r in rows)
    keys = set(keys)
    dup = [k for k, n in seen.items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} keys repeated")
    if set(seen) != keys:
        problems.append(
            f"{len(keys - set(seen))} keys missing, {len(set(seen) - keys)} unexpected"
        )
    members: dict[Hashable, list] = {}
    for key, cid, best in rows:
        members.setdefault(cid, []).append((key, best))
    bad_id = sum(1 for cid, m in members.items() if min(k for k, _ in m) != cid)
    if bad_id:
        problems.append(f"{bad_id} clusters not named by their smallest member")
    if rows and rows[0][2] is not None:
        bad_best = sum(1 for m in members.values() if sum(bool(b) for _, b in m) != 1)
        if bad_best:
            problems.append(f"{bad_best} clusters without exactly one best member")
    return problems
