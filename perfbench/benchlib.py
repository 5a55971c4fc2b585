"""Pure metric arithmetic of the benchmark: percentiles, the tail sample
rule, span self times and the result line.
Nothing here touches Spark or the file system."""
import json
import math

# Self-time priority: an instant of an op belongs to the highest-priority
# layer whose span covers it. Jobs own the time they run; planning and
# trigger bookkeeping own what jobs leave; the harness-timed library calls
# own the rest of the calling thread's work (metadata I/O, commits).
LAYER_PRIORITY = ["spark", "plans", "streaming", "sql", "merge", "manifest"]

# The latency a failed op counts with: above every limit, and still a
# finite JSON number.
FAILED_S = 1e9


def percentile(values, q):
    """Linear-interpolation percentile (q in [0, 1]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, q):
    """How many of n samples lie strictly above the q-th percentile."""
    return n - math.floor(q * (n - 1)) - 1 if n else 0


def union_length(intervals):
    """Total length covered by a list of (start, end) intervals."""
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


def self_times(op_start, op_end, spans):
    """Splits one op's wall time [op_start, op_end] among layers.

    `spans` is a list of (layer, start, end). Each instant of the op goes to
    the highest-priority layer covering it (LAYER_PRIORITY), or to
    "unattributed". Returns {layer: seconds-in-the-spans'-unit} whose values
    sum to op_end - op_start exactly (up to float rounding)."""
    clipped = [(l, max(s, op_start), min(e, op_end)) for l, s, e in spans
               if l in LAYER_PRIORITY and min(e, op_end) > max(s, op_start)]
    cuts = sorted({op_start, op_end} | {s for _, s, _ in clipped}
                  | {e for _, _, e in clipped})
    out = {l: 0.0 for l in LAYER_PRIORITY}
    out["unattributed"] = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        covering = {l for l, s, e in clipped if s <= mid < e}
        owner = next((l for l in LAYER_PRIORITY if l in covering),
                     "unattributed")
        out[owner] += b - a
    return out


def result_line(correct, attempted, failed, metrics, units):
    """The benchmark's last stdout line: exactly correct, attempted,
    failed and metrics, each metric with its value and unit."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}, separators=(",", ":"))


def parse_result_line(line):
    """Inverse of result_line: (correct, attempted, failed, {name: value},
    {name: unit})."""
    d = json.loads(line)
    if set(d) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(d)}")
    return (d["correct"], d["attempted"], d["failed"],
            {k: v["value"] for k, v in d["metrics"].items()},
            {k: v["unit"] for k, v in d["metrics"].items()})
