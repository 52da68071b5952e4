"""Pure functions that turn the harness's raw records into metrics.

Kept free of I/O so the tests in tests/ can pin each rule down.
"""
import bisect
import math
import random
import re
import statistics


def highest_percentile(n, candidates=(99.9, 99.0, 90.0, 50.0)):
    """The highest candidate percentile that leaves at least ten of `n`
    samples beyond it, or None when even the median does not."""
    for p in candidates:
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def geomean_of_medians(samples_by_query):
    """Geometric mean over queries of each query's median sample."""
    meds = [statistics.median(v) for v in samples_by_query.values() if v]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def permutations(names, seed, count):
    """`count` orders of `names`, each a fresh shuffle drawn from one stream
    seeded by `seed` alone."""
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def abba(blocks):
    """Traced flags for `blocks` blocks of four passes: untraced, traced,
    traced, untraced."""
    return [False, True, True, False] * blocks


def paired_overhead(passes):
    """Tracing overhead from (traced, seconds) pairs in pass order, in abba
    blocks: the mean over blocks of the traced passes' mean minus the
    untraced passes' mean. A drift in pass time that is linear over a block
    cancels."""
    diffs = []
    for i in range(0, len(passes), 4):
        block = passes[i:i + 4]
        if [t for t, _ in block] != abba(1):
            raise ValueError(f"passes {i}..{i + 3} are not an abba block")
        diffs.append(sum(s if t else -s for t, s in block) / 2)
    if not diffs:
        raise ValueError("no passes")
    return sum(diffs) / len(diffs)


def parse_selfcheck(text):
    """{query: (status, detail)} from the oracle gate's PASS, FAIL and SKIP
    lines; a query with several lines keeps the first FAIL."""
    out = {}
    for line in text.splitlines():
        status, _, rest = line.partition(" ")
        name, sep, detail = rest.partition(": ")
        if status in ("PASS", "FAIL", "SKIP") and sep:
            if name not in out or status == "FAIL" and out[name][0] != "FAIL":
                out[name] = (status, detail)
    return out


def rows_only_count(detail):
    """The row count the gate reports for a query without an oracle, or None."""
    m = re.search(r"rows-only: (\d+) rows", detail)
    return int(m.group(1)) if m else None


class Windows:
    """Non-overlapping [start, end] intervals, each with an owner. `owner(t)`
    is the owner of the interval running at time t: the last one that started
    at or before t, provided it had not yet ended. Events are attributed by
    when they started, never by job group or tag."""

    def __init__(self, intervals):
        self.items = sorted(intervals, key=lambda w: w[0])
        self.starts = [w[0] for w in self.items]

    def owner(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i < 0:
            return None
        start, end, who = self.items[i]
        return who if t <= end else None


def self_times(spans):
    """Self time per span name: each span's duration minus the part of it
    that its children cover. `spans` are dicts with id, parent, name, start,
    end; returns {name: seconds} with times in ms in, seconds out."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union_length([
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])])
        own = max(0.0, (s["end"] - s["start"]) - covered)
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1000
    return out


def _union_length(intervals):
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


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
