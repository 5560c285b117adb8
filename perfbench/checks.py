"""Output checks, one per workload. Each takes plain Python values
collected from the engine's outputs and returns a list of problems
(empty when the output is right), so the tests can plant wrong answers
without a Spark session."""

from __future__ import annotations

from collections import Counter

MIN_RECALL = 0.99
FLAGGED = frozenset({"ref_dup", "batch_dup"})


def check_images(
    assigned: list[tuple[str, str]],
    readable_ids: set[str],
    golden_pairs: list[tuple[str, str]],
) -> list[str]:
    """Every readable image is assigned exactly once, and at least
    MIN_RECALL of the planted golden pairs share a cluster."""
    problems = []
    counts = Counter(i for i, _ in assigned)
    repeated = [i for i, c in counts.items() if c > 1]
    if repeated:
        problems.append(f"{len(repeated)} images assigned more than once")
    missing = readable_ids - counts.keys()
    extra = counts.keys() - readable_ids
    if missing or extra:
        problems.append(
            f"assignment covers {len(missing)} too few and "
            f"{len(extra)} unexpected images"
        )
    cluster = dict(assigned)
    if not golden_pairs:
        problems.append("no golden pairs to score")
        return problems
    hit = sum(
        1
        for a, b in golden_pairs
        if a in cluster and cluster.get(a) == cluster.get(b)
    )
    recall = hit / len(golden_pairs)
    if recall < MIN_RECALL:
        problems.append(f"planted-pair recall {recall:.4f} < {MIN_RECALL}")
    return problems


def check_caption_stream(
    streamed: dict[str, str], reference: dict[str, str]
) -> list[str]:
    """The stream's final assignment equals the batch caption chain's."""
    if streamed == reference:
        return []
    differ = {
        i
        for i in streamed.keys() | reference.keys()
        if streamed.get(i) != reference.get(i)
    }
    return [f"{len(differ)} images assigned differently from the batch chain"]


def check_media_stream(
    verdicts: list[tuple[str, str]],
    landed_ids: list[str],
    resent_ids: set[str],
) -> list[str]:
    """Exactly one verdict per landed id, and every re-sent copy of
    already-indexed content is flagged as a duplicate."""
    problems = []
    counts = Counter(i for i, _ in verdicts)
    landed = set(landed_ids)
    if len(landed) != len(landed_ids):
        problems.append("the generator landed an id twice")
    repeated = [i for i, c in counts.items() if c > 1]
    if repeated:
        problems.append(f"{len(repeated)} ids have more than one verdict")
    missing = landed - counts.keys()
    extra = counts.keys() - landed
    if missing or extra:
        problems.append(
            f"verdicts miss {len(missing)} landed ids and add "
            f"{len(extra)} unknown ones"
        )
    outcome = dict(verdicts)
    unflagged = [
        i for i in resent_ids if i in outcome and outcome[i] not in FLAGGED
    ]
    if unflagged:
        problems.append(f"{len(unflagged)} re-sent copies not flagged as dups")
    return problems
