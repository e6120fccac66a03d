"""The benchmark's arithmetic: key orders, percentiles, span attribution
and the per-layer sums. run.py feeds it the harness's raw records;
test_stats.py checks it."""

import bisect
import math
import random
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def key_orders(keys, seed, passes):
    """One order of `keys` per pass; the seed alone decides them."""
    orders = []
    for p in range(passes):
        order = sorted(keys)
        random.Random(f"{seed}/{p}").shuffle(order)
        orders.append(order)
    return orders


def percentile(values, pct):
    """Harrell-Davis estimate of the pct-th percentile: a weighted mean of
    all order statistics, with Beta((n+1)p, (n+1)(1-p)) weights. Warm
    samples cluster by key, and a single order statistic taken at the
    edge of a cluster jumps between runs; this estimate moves less."""
    v = sorted(values)
    n = len(v)
    if n == 1:
        return v[0]
    a, b = (n + 1) * pct / 100.0, (n + 1) * (1 - pct / 100.0)
    per_sample = 200
    steps = per_sample * n
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    # Beta CDF at i/n by the trapezoid rule.
    weights, cdf, prev_pdf = [], 0.0, pdf(0.0)
    for i in range(1, n + 1):
        start = cdf
        for j in range(1, per_sample + 1):
            x = ((i - 1) * per_sample + j) / steps
            cur = pdf(x)
            cdf += (prev_pdf + cur) / (2 * steps)
            prev_pdf = cur
        weights.append(cdf - start)
    return sum(w * x for w, x in zip(weights, v)) / sum(weights)


def tail(values):
    """The highest ladder percentile with at least TAIL_BEYOND samples
    above its nearest rank, as (percentile, value, samples above). A
    sample too small for any gives the median."""
    n = len(values)
    for pct in TAIL_LADDER:
        rank = -(-n * pct // 100)
        if n - rank >= TAIL_BEYOND or pct == TAIL_LADDER[-1]:
            return pct, percentile(values, pct), int(n - rank)


def union_seconds(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals (ms), clipped
    to [lo, hi] when given, in seconds."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def driver_gap(wall_s, stage_intervals, lo, hi):
    """Key wall time not covered by any running stage."""
    return max(0.0, wall_s - union_seconds(stage_intervals, lo, hi))


class Spans:
    """Key spans of one run, sorted by start; finds the span and phase
    ("build" or "action") that contains an event time."""

    def __init__(self, spans):
        self.spans = sorted(spans, key=lambda s: s["start_ms"])
        self.starts = [s["start_ms"] for s in self.spans]

    def at(self, ms):
        i = bisect.bisect_right(self.starts, ms) - 1
        if i < 0 or ms > self.spans[i]["end_ms"]:
            return None, None
        span = self.spans[i]
        return span, ("build" if ms < span["build_end_ms"] else "action")


LAYER_SUMS = (
    "operators.build_s", "operators.build_jobs", "operators.action_s",
    "plans.planning_s", "plans.plans",
    "engine.cache_builds", "engine.cache_scans", "engine.checkpoint_mb",
    "streaming.triggers", "streaming.trigger_s", "streaming.addbatch_s",
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.stage_busy_s", "spark.driver_gap_s", "spark.task_s",
    "spark.single_task_stages",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.input_mb", "spark.output_mb", "spark.gc_s",
)
LAYER_RATIOS = ("engine.cache_hit_ratio", "spark.core_util", "spark.skew_max")
MB = 1024.0 * 1024.0


def key_layers(spans, events):
    """Per-key layer counts: {(pass, key): {metric: value}} plus each
    key's stage intervals and the per-stage skews that the ratios
    need."""
    index = Spans(spans)
    out = {}
    for s in spans:
        out[(s["pass"], s["key"])] = dict(
            {m: 0.0 for m in LAYER_SUMS},
            **{"operators.build_s": s["build_s"],
               "operators.action_s": s["action_s"],
               "_wall_s": s["build_s"] + s["action_s"],
               "_span": s, "_intervals": [], "_skews": []})
    for e in events:
        span, phase = index.at(e["ms"])
        if span is None:
            continue
        k = out[(span["pass"], span["key"])]
        kind = e["kind"]
        if kind == "job":
            k["spark.jobs"] += 1
            if phase == "build":
                k["operators.build_jobs"] += 1
        elif kind == "stage":
            k["spark.stages"] += 1
            k["spark.tasks"] += e["tasks"]
            k["spark.task_s"] += sum(e["task_ms"]) / 1000.0
            if e["tasks"] == 1:
                k["spark.single_task_stages"] += 1
            if len(e["task_ms"]) >= 2:
                med = statistics.median(e["task_ms"])
                if med > 0:
                    k["_skews"].append(max(e["task_ms"]) / med)
            k["_intervals"].append((e["start_ms"], e["end_ms"]))
            k["spark.shuffle_write_mb"] += e["shuffle_write"] / MB
            k["spark.shuffle_read_mb"] += e["shuffle_read"] / MB
            k["spark.spill_mb"] += e["spill"] / MB
            k["spark.input_mb"] += e["input"] / MB
            k["spark.output_mb"] += e["output"] / MB
            k["spark.gc_s"] += e["gc_ms"] / 1000.0
            k["engine.cache_builds"] += e["cache_builds"]
            k["engine.checkpoint_mb"] += e["checkpoint_bytes"] / MB
        elif kind == "plan":
            k["plans.plans"] += 1
            k["plans.planning_s"] += e["planning_ms"] / 1000.0
            k["engine.cache_scans"] += e["cache_scans"]
        elif kind == "trigger":
            k["streaming.triggers"] += 1
            k["streaming.trigger_s"] += e["trigger_ms"] / 1000.0
            k["streaming.addbatch_s"] += e["addbatch_ms"] / 1000.0
    for k in out.values():
        span = k["_span"]
        k["spark.stage_busy_s"] = union_seconds(
            k["_intervals"], span["start_ms"], span["end_ms"])
        k["spark.driver_gap_s"] = driver_gap(
            k["_wall_s"], k["_intervals"], span["start_ms"], span["end_ms"])
    return out


def pass_layers(keys, cores):
    """Sum per-key layer counts over one pass and derive the ratios."""
    tot = {m: sum(k[m] for k in keys) for m in LAYER_SUMS}
    builds, scans = tot["engine.cache_builds"], tot["engine.cache_scans"]
    tot["engine.cache_hit_ratio"] = scans / (scans + builds) if scans + builds else 0.0
    busy = tot["spark.stage_busy_s"]
    tot["spark.core_util"] = tot["spark.task_s"] / (busy * cores) if busy else 0.0
    skews = [x for k in keys for x in k["_skews"]]
    tot["spark.skew_max"] = max(skews) if skews else 0.0
    return tot


def unit(name):
    """Unit of a layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_util", "_max")):
        return "ratio"
    return "count"
