"""Pure metric logic of the benchmark (no I/O): percentiles, interval
unions, span self time, result digests and repeatability."""
import hashlib
import math
import statistics


def tail(samples, beyond=10):
    """The highest whole percentile p (nearest-rank) whose value still
    has at least ``beyond`` samples strictly above it.

    Returns ``(value, p, n)``, or None when fewer than ``beyond + 1``
    samples exist (no percentile then has enough samples past it)."""
    s = sorted(samples)
    n = len(s)
    for p in range(99, 0, -1):
        v = s[max(math.ceil(p * n / 100) - 1, 0)]
        if sum(1 for x in s if x > v) >= beyond:
            return v, p, n
    return None


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, within):
    return max(interval[0], within[0]), min(interval[1], within[1])


def driver_gap(op, jobs):
    """Op wall time not covered by any of its Spark jobs: the time the
    driver spends between, before and after jobs."""
    return (op[1] - op[0]) - union_length([clip(j, op) for j in jobs])


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval that its child spans cover, summed by span name (the layer).

    ``spans``: dicts with ``id``, ``parent`` (None for a root),
    ``name``, ``start``, ``end``."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        iv = (sp["start"], sp["end"])
        covered = union_length(
            [clip((c["start"], c["end"]), iv) for c in children.get(sp["id"], [])])
        out[sp["name"]] = out.get(sp["name"], 0.0) + (iv[1] - iv[0]) - covered
    return out


def digest(rows):
    """Order-insensitive digest of a multiset of row strings: the sum,
    modulo 2^64, of the first 8 bytes of each row's MD5."""
    acc = 0
    for r in rows:
        acc += int.from_bytes(hashlib.md5(r.encode()).digest()[:8], "big")
    return f"{acc % (1 << 64):016x}:{len(rows)}"


def repeatability(records, keys):
    """For each counter in ``keys``: the op names whose value differs
    between passes. ``records``: dicts with ``name`` and the counters,
    one per op executed."""
    out = {}
    for k in keys:
        seen = {}
        for r in records:
            seen.setdefault(r["name"], set()).add(r[k])
        out[k] = sorted(n for n, vals in seen.items() if len(vals) > 1)
    return out


def per_pass(records, key):
    """Sum over op names of the mean of ``key`` over that name's
    executions: the counter's value for one pass over the op list,
    also when the window ends inside a pass."""
    by = {}
    for r in records:
        by.setdefault(r["name"], []).append(r[key])
    return sum(statistics.fmean(v) for v in by.values())
