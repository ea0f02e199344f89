"""Pure arithmetic of the benchmark: medians, the call tail, the key
geomean, span self-time and the per-layer aggregation of a trace."""
import math
from collections import defaultdict
from statistics import median

# Self-time priority: an instant of a call belongs to the first layer
# in this list with a span covering it; what no span covers is the
# driver's own time in the operator code (operators.driver_self_s).
LAYER_OF_SPAN = [("streaming", "trigger"), ("exec", "job"), ("plans", "phase.")]
SELF_LAYERS = ["streaming", "exec", "plans", "operators"]
# per-call counters that are peaks: a lap reports their maximum, not a sum
PEAKS = {"exec.peak_task_mem_bytes", "sources.scratch_peak_bytes"}


def tail_rank(n, beyond=10):
    """Index (0-based, ascending order) of the call tail among n calls.

    The tail is the highest percentile of call latency with at least
    `beyond` calls above it. A run with fewer than 3*beyond calls keeps
    a third of its calls above the tail instead, so the figure is never
    the single slowest call. Returns (index, percentile, calls_beyond)."""
    if n < 1:
        raise ValueError("no calls")
    k = min(beyond, n // 3)
    idx = n - 1 - k
    return idx, 100.0 * (idx + 1) / n, k


def call_tail(xs, beyond=10):
    s = sorted(xs)
    idx, pct, k = tail_rank(len(s), beyond)
    return s[idx], pct, k


def key_geomean(times_by_key):
    """Geometric mean over keys of each key's median call time."""
    meds = [median(v) for v in times_by_key.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(call_start, call_end, spans):
    """Splits [call_start, call_end] among layers by LAYER_OF_SPAN.

    `spans` is a list of (name, start, end); each span is clipped to
    the call. Returns {layer: seconds-or-ms in the input's unit}; the
    values add up to call_end - call_start exactly."""
    by_layer = defaultdict(list)
    for name, s, e in spans:
        s, e = max(s, call_start), min(e, call_end)
        if e <= s:
            continue
        for layer, prefix in LAYER_OF_SPAN:
            if name == prefix or (prefix.endswith(".") and name.startswith(prefix)):
                by_layer[layer].append((s, e))
                break
    cuts = sorted({call_start, call_end} | {t for iv in by_layer.values() for p in iv for t in p})
    out = {layer: 0.0 for layer in SELF_LAYERS}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        owner = "operators"
        for layer, _ in LAYER_OF_SPAN:
            if any(s <= mid < e for s, e in by_layer[layer]):
                owner = layer
                break
        out[owner] += b - a
    return out


def layer_metrics(trace, cpus):
    """Per-lap per-layer metrics from a raw trace (see Tracer.write).

    Returns (metrics, per_key, self_table): metrics are medians over the
    traced laps of per-lap totals; per_key holds the same totals per
    key (median over laps); self_table maps layer -> self seconds per
    lap."""
    spans_by_call = defaultdict(list)
    for sp in trace["spans"]:
        spans_by_call[sp["call"]].append(sp)
    per_lap = defaultdict(lambda: defaultdict(float))
    per_key = defaultdict(lambda: defaultdict(list))
    for c in trace["calls"]:
        m = call_metrics(c, spans_by_call.get(c["id"], []))
        lap = per_lap[c["lap"]]
        for k, v in m.items():
            lap[k] = max(lap[k], v) if k in PEAKS else lap[k] + v
            per_key[c["key"]][k].append(v)
    laps = [finish_lap(v, cpus) for v in per_lap.values()]
    names = sorted({k for lap in laps for k in lap})
    metrics = {k: median([lap.get(k, 0.0) for lap in laps]) for k in names}
    keys = {key: {k: median(v) for k, v in sorted(ms.items())} for key, ms in per_key.items()}
    table = {layer: metrics.get(f"self.{layer}_s", 0.0) for layer in SELF_LAYERS}
    return metrics, keys, table


def call_metrics(call, spans):
    """Raw per-call totals (ms-based spans converted to seconds)."""
    cs, built, ce = call["start"], call["built"], call["end"]
    m = defaultdict(float)
    m.update(call.get("counters", {}))
    m["call_s"] = (ce - cs) / 1e3
    m["operators.build_s"] = (built - cs) / 1e3
    for layer, v in self_times(cs, ce, [(s["name"], s["start"], s["end"]) for s in spans]).items():
        m[f"self.{layer}_s"] = v / 1e3
    m["operators.driver_self_s"] = m["self.operators_s"]
    jobs = [s for s in spans if s["name"] == "job"]
    m["exec.jobs"] = len(jobs)
    eager = [s for s in jobs if s["start"] < built]
    m["operators.eager_jobs"] = len(eager)
    m["operators.eager_job_s"] = union_length([(s["start"], min(s["end"], built)) for s in eager]) / 1e3
    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_ms"] = sum(s["end"] - s["start"] for s in spans if s["name"] == f"phase.{ph}")
    trig = [s for s in spans if s["name"] == "trigger"]
    if trig:
        m["streaming.call_s"] = m["call_s"]
        m["streaming.triggers"] = len(trig)
        m["streaming.trigger_ms"] = sum(s["end"] - s["start"] for s in trig)
        for k in ("add_batch_ms", "query_planning_ms", "latest_offset_ms", "commit_ms", "state_commit_ms"):
            m[f"streaming.{k}"] = sum(s.get(k, 0.0) for s in trig)
        m["streaming.state_rows"] = max(s.get("state_rows", 0.0) for s in trig)
        m["streaming.state_mem_bytes"] = max(s.get("state_mem_bytes", 0.0) for s in trig)
        covered = union_length([(max(s["start"], cs), min(s["end"], ce)) for s in trig])
        m["streaming.outside_trigger_s"] = m["call_s"] - covered / 1e3
        m["streaming.assemble_s"] = max(0.0, ce - max(s["end"] for s in trig)) / 1e3
    return m


def finish_lap(t, cpus):
    """Turns one lap's summed counters into the reported ratios."""
    out = dict(t)
    out["exec.busy_frac"] = t.get("exec.task_run_s", 0.0) / (cpus * t["call_s"]) if t.get("call_s") else 0.0
    skew_n = t.get("exec.skew_stages", 0.0)
    out["exec.stage_skew"] = t.get("exec.stage_skew_sum", 0.0) / skew_n if skew_n else 0.0
    widest = t.get("operators.join_widest_rows", 0.0)
    out["operators.join_yield"] = t.get("operators.join_out_rows", 0.0) / widest if widest else 0.0
    return out
