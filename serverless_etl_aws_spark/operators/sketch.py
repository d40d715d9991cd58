"""Frequency-sketch primitives shared by the sketch-routed aggregates.

The Misra-Gries summary here is the map-side half of
``agg_heavy_hitters`` (queries/aggregates.py): each partition maintains at
most ``k`` counters and merges batch counts in; the union of every
partition's surviving keys is then verified by ONE exact filtered count.
The function is kept pure (dict in, dict out, no Spark) so its
correctness contract — the superset guarantee below — is
property-testable without an engine in the loop
(tests/test_sketch_property.py).

Superset guarantee (why a plain SQL oracle can check a sketch-routed
plan): every merge subtracts at most the (k+1)-th largest count from
every key, and the total subtracted per key over a partition's stream of
n_p items is at most n_p/(k+1). Hence any key with partition count
c_p > n_p/(k+1) survives that partition's summary; and a key with GLOBAL
count ≥ N/k must have c_p > n_p/(k+1) in at least one partition (if
c_p ≤ n_p/(k+1) everywhere, summing gives C ≤ N/(k+1) < N/k). So the
union of partition summaries contains every true heavy hitter, and the
exact verify pass returns exactly the true set.
"""

from __future__ import annotations

from collections.abc import Mapping


def misra_gries_update(
    counters: dict[str, int], batch_counts: Mapping[str, int], k: int
) -> dict[str, int]:
    """Merge a batch's exact counts into a Misra-Gries summary, keeping
    at most ``k`` counters: add the counts, and if more than ``k`` keys
    remain, subtract the (k+1)-th largest count from every key and drop
    the non-positive ones (the MG merge of Agarwal et al. — the batched
    equivalent of the classic one-decrement-per-unmatched-item loop)."""
    for key, n in batch_counts.items():
        counters[key] = counters.get(key, 0) + int(n)
    if len(counters) > k:
        cut = sorted(counters.values(), reverse=True)[k]
        counters = {key: c - cut for key, c in counters.items() if c - cut > 0}
    return counters
