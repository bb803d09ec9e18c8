"""Sample statistics shared by the benchmark runner and its tests."""
import math

# A tail is reported only where the sample leaves at least this many
# samples beyond it.
TAIL_MIN_BEYOND = 10


def percentile(xs, p):
    """Linear-interpolated percentile `p` (0-100) of `xs`; None when empty."""
    if not xs:
        return None
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)


def beyond(n, p):
    """How many of `n` samples lie beyond percentile `p`."""
    return n - math.ceil(n * p / 100.0)


def supports(n, p):
    """True when `n` samples leave at least TAIL_MIN_BEYOND beyond `p`."""
    return beyond(n, p) >= TAIL_MIN_BEYOND


def highest_supported(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile `n` samples support, or None."""
    for p in candidates:
        if supports(n, p):
            return p
    return None


def ratio(num, den):
    """num ÷ den, 0 when nothing was attempted."""
    return num / den if den else 0.0


def ingest_lags(files, file_batch, progress):
    """Per landed file: seconds from its due time to the end of the
    micro-batch that committed it. `files` holds {name, due_ms}; `file_batch`
    maps a file name to its micro-batch id (the file source's log);
    `progress` holds {batch, start_ms, trigger_ms}. Files no batch committed
    are returned by name as the second element."""
    ends = {p["batch"]: p["start_ms"] + p["trigger_ms"] for p in progress}
    lags, missing = [], []
    for f in files:
        b = file_batch.get(f["name"])
        if b is None or b not in ends:
            missing.append(f["name"])
        else:
            lags.append((ends[b] - f["due_ms"]) / 1000.0)
    return lags, missing


def backlog_max(files, file_batch, progress):
    """Largest number of files landed but not yet committed at any moment."""
    ends = {p["batch"]: p["start_ms"] + p["trigger_ms"] for p in progress}
    events = []
    for f in files:
        events.append((f["landed_ms"], 1))
        b = file_batch.get(f["name"])
        if b in ends:
            events.append((ends[b], -1))
    # at equal times a commit is applied before a landing
    events.sort(key=lambda e: (e[0], e[1]))
    cur = peak = 0
    for _, d in events:
        cur += d
        peak = max(peak, cur)
    return peak


def self_times(spans):
    """Span id → its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out
