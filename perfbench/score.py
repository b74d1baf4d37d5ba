"""Correctness scorers: pure functions over plain Python values.

Each returns a share in [0, 1]. A score whose population is empty on a
workload (no golden contract rows, no planted near-duplicate) is 1.0:
nothing to reproduce was missed.
"""

from __future__ import annotations


def span_key(spans) -> tuple:
    """(kind, text, media_ref) in offset order — the north-rule
    invariant surface."""
    return tuple(
        (s["kind"], s["text"], s["media_ref"])
        for s in sorted(spans, key=lambda s: s["offset"])
    )


def span_exact_match(got: dict[str, tuple], want: dict[str, tuple | None]) -> float:
    """Share of golden documents whose output spans equal the golden.
    A golden of ``None`` marks a damaged input, which matches when the
    output carries no text-bearing span; a document missing from the
    output never matches."""
    if not want:
        return 1.0
    hits = 0
    for doc, spans in want.items():
        out = got.get(doc)
        if out is None:
            continue
        if spans is None:
            hits += all(text is None for _, text, _ in out)
        else:
            hits += out == spans
    return hits / len(want)


def contract_match(got: set[tuple], want: list[tuple]) -> float:
    """Share of golden (doc_id, contract, field, value) rows present
    in the output rows."""
    if not want:
        return 1.0
    return sum(row in got for row in want) / len(want)


def near_dup_recall(clusters: list[list[str]], kept: set[str]) -> float:
    """Share of planted near-duplicate copies removed, counted only in
    clusters that still keep at least one member."""
    extra = sum(len(c) - 1 for c in clusters)
    if not extra:
        return 1.0
    removed = 0
    for c in clusters:
        n_kept = sum(doc in kept for doc in c)
        if n_kept >= 1:
            removed += len(c) - n_kept
    return removed / extra


def delivered_frac(n_input: int, accounted: int) -> float:
    """Share of input documents written or dropped with a recorded
    reason (capped at 1: accounting more than the input is no gain)."""
    return min(accounted, n_input) / n_input if n_input else 1.0
