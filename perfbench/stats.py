"""Percentiles for the benchmark's latency metrics."""

from __future__ import annotations


def percentile(xs: list[float], q: float, weights: list[float] | None = None) -> float:
    """The q-th percentile (q in [0, 100]) of `xs`, interpolated linearly.

    With `weights`, each value stands for its share of the total weight,
    centred on its place in the sorted order; without them every value
    weighs the same, which gives the usual linear-interpolated percentile
    (the same as numpy's default).
    """
    if not xs:
        return 0.0
    if weights is None:
        weights = [1.0] * len(xs)
    pairs = sorted(zip(xs, weights))
    total = sum(w for _, w in pairs)
    # position of each value on [0, 1]: the middle of its weight, rescaled
    # so that the smallest value sits at 0 and the largest at 1
    mids, acc = [], 0.0
    for _, w in pairs:
        mids.append(acc + w / 2)
        acc += w
    lo_mid, hi_mid = mids[0], mids[-1]
    if hi_mid == lo_mid:
        return pairs[0][0]
    target = lo_mid + (hi_mid - lo_mid) * q / 100
    for i in range(1, len(pairs)):
        if mids[i] >= target:
            f = (target - mids[i - 1]) / (mids[i] - mids[i - 1])
            return pairs[i - 1][0] + (pairs[i][0] - pairs[i - 1][0]) * f
    return pairs[-1][0]
