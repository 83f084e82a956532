"""Pure arithmetic behind the benchmark's numbers, kept apart so it can be
tested without Spark: percentiles and the tail rule, span self time, and
open-loop due-time accounting for the live stream.
"""

import math
import statistics

# Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 66.0, 60.0, 50.0)
MIN_BEYOND = 10


def _rank(n, p):
    # rounding first keeps 99.9 % of 10 000 at rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def quantile(values, p):
    """Nearest-rank ``p``-th percentile (0 < p <= 100) of ``values``."""
    if not values:
        raise ValueError("no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def median(values):
    """Median, the mean of the two middle values for an even count."""
    return statistics.median(values)


def samples_beyond(n, p):
    """How many of ``n`` samples lie above the nearest-rank ``p``-th percentile."""
    return n - _rank(n, p)


def tail_percentile(n, ladder=TAIL_LADDER):
    """The highest percentile of ``ladder`` with at least ten of ``n``
    samples beyond it, or None when even the lowest has fewer."""
    for p in ladder:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def timing(values):
    """Median and the highest percentile with ten samples beyond it (None
    when there are too few samples), with the sample count."""
    n = len(values)
    pct = tail_percentile(n)
    return {"n": n, "p50": median(values), "tail_pct": pct,
            "tail": quantile(values, pct) if pct else None}


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(lo, s), min(hi, e)) for s, e in intervals
                     if min(hi, e) > max(lo, s))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_of(name):
    """Spans are named ``<layer>.<call>``; undotted names are the
    benchmark's own containers (setup, warmup, pass, query, ...)."""
    return name.split(".", 1)[0] if "." in name else "harness"


def self_times(spans):
    """Self time of every span: its duration minus the part of that
    interval its child spans cover. Returns {span id: ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = dur - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
    return out


def self_time_by_layer(spans):
    st = self_times(spans)
    acc = {}
    for s in spans:
        layer = layer_of(s["name"])
        acc[layer] = acc.get(layer, 0.0) + st[s["id"]]
    return acc


def open_loop(files, batches):
    """Due-time accounting for an open-loop stream.

    ``files``: the generator log's entries (name, due_ms, written_ms,
    events). ``batches``: executed micro-batches (start_ms, end_ms, files).
    Each file's events are timed from when the file was due, not from when
    it was written, so a generator or pipeline stall is charged to every
    file it delays. All events of a file share its due time and the batch
    that read it, so there is one latency sample per file (weighting them
    by event count would multiply samples, not observations; the files
    hold equal counts, so the median is the same). Returns per-file
    latencies (ms), each file's pick-up lag (batch start minus written time), the backlog of written
    but unconsumed files at each batch start, and the names of files no
    batch read.
    """
    done = {}
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        for f in b["files"]:
            done.setdefault(f, b)
    latencies, pickup, missing = [], [], []
    for f in files:
        b = done.get(f["name"])
        if b is None:
            missing.append(f["name"])
            continue
        latencies.append(b["end_ms"] - f["due_ms"])
        pickup.append(b["start_ms"] - f["written_ms"])
    backlog = []
    consumed = 0
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        written = sum(1 for f in files if f["written_ms"] <= b["start_ms"])
        backlog.append(max(0, written - consumed))
        consumed += len(b["files"])
    return {"latencies": latencies, "pickup_lag": pickup, "backlog": backlog,
            "missing": missing}
