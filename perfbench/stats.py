"""Pure helpers of the benchmark: the tail percentile, the host steal
stamp and span self time. Nothing here starts a process."""
import math


def p90(samples, min_beyond=10):
    """Nearest-rank 90th percentile, or None when fewer than
    `min_beyond` samples lie beyond it: a tail quantile resting on a
    handful of samples is one slow sample, not a percentile."""
    s = sorted(samples)
    if not s:
        return None
    rank = math.ceil(0.9 * len(s))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]


def cpu_ticks(stat_text):
    """(total, steal) jiffies from the `cpu` line of /proc/stat. The
    total counts every state, idle included, so steal is judged against
    the machine's whole capacity and not only the cycles asked for."""
    line = next(l for l in stat_text.splitlines() if l.startswith("cpu "))
    fields = [int(x) for x in line.split()[1:]]
    # guest time is already inside user/nice; count the first 8 states
    states = fields[:8]
    steal = states[7] if len(states) > 7 else 0
    return sum(states), steal


def steal_share(before, after):
    """Stolen share of total cpu capacity between two cpu_ticks samples."""
    total = after[0] - before[0]
    return 0.0 if total <= 0 else (after[1] - before[1]) / total


def self_times(spans):
    """{span id: duration minus the time its direct children cover}.
    Each span is a dict with `id`, `parent`, `start_ns` and `end_ns`."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
            for s in spans}
