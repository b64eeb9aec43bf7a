"""Pure pieces of the benchmark: the percentile rule, span self-time, the
phase-locked tail schedule, and the replicate manifest check. Covered by
``perfbench/tests/test_stats.py``."""
import math

import numpy as np

BEYOND = 10


def percentile(values, q):
    """Nearest-rank ``q``-th percentile. Refuses unless at least ten
    samples lie beyond it, so a tail figure always rests on ten or more
    observations."""
    n = len(values)
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < BEYOND:
        raise ValueError(f"p{q} of {n} samples has {n - rank} beyond it, needs {BEYOND}")
    return float(np.partition(np.asarray(values, float), rank - 1)[rank - 1])


def median(values):
    if not len(values):
        raise ValueError("median of no samples")
    return float(np.median(np.asarray(values, float)))


def self_times(spans):
    """``spans``: iterable of (id, parent, name, layer, start, end).
    Returns {id: self time}: a span's duration minus the part of it its
    children cover (overlapping children are counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    out = {}
    for sid, _, _, _, start, end in spans:
        covered, reach = 0.0, start
        for c0, c1 in sorted(children.get(sid, [])):
            c0, c1 = max(c0, reach), min(c1, end)
            if c1 > c0:
                covered += c1 - c0
                reach = c1
        out[sid] = (end - start) - covered
    return out


def layer_self_times(spans):
    """Self time summed per layer."""
    per_span = self_times(spans)
    out = {}
    for s in spans:
        out[s[3]] = out.get(s[3], 0.0) + per_span[s[0]]
    return out


def schedule(t0_ms, period_ms, per_period, n):
    """Due times of ``n`` files, ``per_period`` to a trigger period, each at
    the centre of its slot, starting at the trigger boundary ``t0_ms``."""
    i = np.arange(n)
    return t0_ms + (i // per_period) * period_ms + (i % per_period + 0.5) * period_ms / per_period


def check_schedule(due, released, period_ms, per_period, tolerance_ms=1.0):
    """Checks that ``due`` is the phase-locked schedule (its origin a
    multiple of the trigger period) and returns how late the generator
    released files: max(released - due)."""
    due = np.asarray(due, float)
    t0 = due[0] - 0.5 * period_ms / per_period
    if abs(t0 - round(t0 / period_ms) * period_ms) > tolerance_ms:
        raise ValueError(f"schedule origin {t0} is not on a {period_ms} ms trigger boundary")
    if np.abs(due - schedule(t0, period_ms, per_period, len(due))).max() > tolerance_ms:
        raise ValueError("due times do not follow the phase-locked schedule")
    return float((np.asarray(released, float) - due).max())


def check_manifest(expected, counts, digests, ranges):
    """Replicate delivery check. ``expected``/``digests`` are per-offset
    digests from the generator and the sink, ``counts`` the sink's
    delivery count per offset, ``ranges`` [(first, end, times)] the
    offsets released and how often each must arrive. Returns
    (rows checked, rows wrong); a row is wrong when it is missing,
    duplicated, or differs in any delivered byte."""
    checked = wrong = 0
    for first, end, times in ranges:
        c = counts[first:end]
        bad = c != times
        if times:
            bad |= digests[first:end] != expected[first:end]
        checked += end - first
        wrong += int(bad.sum())
    return checked, wrong
