"""Arithmetic that turns one workload's raw record into metrics.

The JVM side (perfbench.Main) records send times, Spark's per-trigger
progress, operation timings, jobs, actions and spans; everything here
is plain arithmetic over those records, covered by tests/test_metrics.py.
"""
import bisect
import math
import statistics

QUERIES = ("ingest_prices", "fuel_qbar_live", "qmap_live")
STREAM_FIELDS = (
    ("trigger_ms_p50", "triggerExecution"),
    ("latest_offset_ms_p50", "latestOffset"),
    ("get_batch_ms_p50", "getBatch"),
    ("planning_ms_p50", "queryPlanning"),
    ("add_batch_ms_p50", "addBatch"),
    ("wal_commit_ms_p50", "walCommit"),
)


def rank(n, q):
    """1-based nearest rank of the q-th percentile among n samples."""
    return max(1, math.ceil(q * n / 100.0 - 1e-9))


def percentile(values, q):
    """The q-th percentile, interpolated linearly between the closest
    ranks (numpy's default). 0 for no samples."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values):
    return float(statistics.median(values)) if values else 0.0


def highest_reportable(ticks, candidates=(99.9, 99.0, 90.0, 50.0)):
    """The highest candidate percentile with at least ten independent
    ticks or operations beyond it, or None when there are fewer than
    twenty. Events that one tick commits or shows share its timing, so
    `ticks` counts ticks, not events."""
    for q in candidates:
        if ticks - rank(ticks, q) >= 10:
            return q
    return None


def batches(progress, query):
    """Executed micro-batches of one query, in batch order."""
    return sorted((p for p in progress if p["q"] == query and "addBatch" in p["dur"]),
                  key=lambda p: p["batch"])


def batch_end(p):
    return p["start"] + p["dur"].get("triggerExecution", 0)


def commit_times(progress, n_events, query="ingest_prices"):
    """Commit time of each event: the end of the trigger whose input holds
    it. Events land in publish order, so a batch's events are the next
    N in cumulative numInputRows order. None for an event never read."""
    out = [None] * n_events
    i = 0
    for p in batches(progress, query):
        end = batch_end(p)
        for _ in range(p["rows"]):
            if i < n_events:
                out[i] = end
            i += 1
    return out


def shown_times(commits, ticks, deadline):
    """When the dashboard first shows each event: the end of the first
    refresh tick that starts at or after the event's commit. An event
    not shown by the deadline counts at the deadline; returns
    (times, number missed)."""
    starts = [t[0] for t in ticks]
    out, missed = [], 0
    for c in commits:
        k = len(starts) if c is None else bisect.bisect_left(starts, c)
        if k < len(ticks) and ticks[k][1] <= deadline:
            out.append(ticks[k][1])
        else:
            out.append(deadline)
            missed += 1
    return out, missed


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_ms(children, s, e)


def files_before(files, t):
    return sum(1 for mtime, _ in files if mtime < t)


def live_end_to_end(raw):
    """Freshness, refresh time and derived event timelines of live_trickle."""
    events = raw["events"]
    warm = raw["warmup_events"]
    progress = raw["progress"]
    deadline = raw["deadline"]
    commits = commit_times(progress, len(events))
    ticks = [(p["start"], batch_end(p)) for p in batches(progress, "qmap_live")]
    shown, _ = shown_times(commits, ticks, deadline)
    window = range(warm, len(events))
    due = [events[i][0] for i in window]
    fresh_wh = [(deadline if commits[i] is None else min(commits[i], deadline)) - events[i][0]
                for i in window]
    fresh_dash = [shown[i] - events[i][0] for i in window]
    _, missed = shown_times([commits[i] for i in window], ticks, deadline)
    lo, hi = due[0], due[-1] + 1000.0
    refresh_ticks = [p for p in batches(progress, "qmap_live") if lo <= p["start"] <= hi]
    return {
        "fresh_wh": fresh_wh,
        "fresh_dash": fresh_dash,
        # Independent timings behind each figure: the distinct commit
        # and show times (the deadline counts as one).
        "wh_ticks": len({commits[i] for i in window if commits[i] is not None}),
        "dash_ticks": len({shown[i] for i in window}),
        "refresh": [p["dur"]["addBatch"] for p in refresh_ticks],
        "ops": [(p["start"], batch_end(p)) for p in refresh_ticks],
        "window": (lo, hi),
        "missed": missed,
        "commits": commits,
        "shown": shown,
    }


def dash_end_to_end(raw):
    ops = raw["ops"]
    return {
        "fresh_wh": [a - s for s, a, _ in ops],
        "fresh_dash": [e - s for s, _, e in ops],
        "wh_ticks": len(ops),
        "dash_ticks": len(ops),
        "refresh": [e - a for _, a, e in ops],
        "ops": [(a, e) for _, a, e in ops],
        "window": (ops[0][0], ops[-1][2]) if ops else (0.0, 0.0),
        "missed": 0,
    }


def end_to_end(raw):
    return live_end_to_end(raw) if raw["workload"] == "live_trickle" else dash_end_to_end(raw)


def summary(raw, e2e):
    """The end-to-end metrics of one run."""
    return {
        "setup_s": raw["session_s"] + median(raw["setup_reps_s"]),
        "fresh_wh_p50_ms": median(e2e["fresh_wh"]),
        "fresh_wh_p90_ms": percentile(e2e["fresh_wh"], 90),
        "fresh_dash_p50_ms": median(e2e["fresh_dash"]),
        "fresh_dash_p90_ms": percentile(e2e["fresh_dash"], 90),
    }


def classify_action(columns):
    """Which fuel query an action ran, from its output columns."""
    if columns == "fueltype,avg_price":
        return "qbar"
    if columns == "fueltype,day,p":
        return "qline"
    if columns.startswith("name,brand,prices") or columns.startswith("location_longitude,location_latitude"):
        return "qmap"
    return None


def per_layer(raw, e2e):
    """The per-layer metrics of one traced run. A layer the workload does
    not exercise reads 0."""
    live = raw["workload"] == "live_trickle"
    lo, hi = e2e["window"]
    ops = e2e["ops"]
    n_ops = max(len(ops), 1)
    m = {}

    if live:
        ev = raw["events"][raw["warmup_events"]:]
        m["gen.late_ms_max"] = max(s - d for d, s, _ in ev)
        m["mqtt.publish_us_p50"] = median([p for _, _, p in ev])
        landed = raw["landed"][raw["warmup_events"]:]
        lags = [t - e[1] for t, e in zip(landed, ev) if t > 0]
        m["mqtt.land_lag_ms_p50"] = median(lags)
        m["mqtt.land_lag_ms_p90"] = percentile(lags, 90)
        m["mqtt.landed_files"] = len(raw["landed"])
    else:
        o = raw["ops"]
        m["gen.late_ms_max"] = max([b[0] - a[2] for a, b in zip(o, o[1:])] or [0.0])
        for k in ("mqtt.publish_us_p50", "mqtt.land_lag_ms_p50", "mqtt.land_lag_ms_p90", "mqtt.landed_files"):
            m[k] = 0

    progress = raw.get("progress", [])
    for q in QUERIES:
        bs = [p for p in batches(progress, q) if lo <= p["start"] <= hi]
        for name, key in STREAM_FIELDS:
            m[f"stream.{q}.{name}"] = median([p["dur"].get(key, 0) for p in bs])
        m[f"stream.{q}.batches"] = len(bs)
        m[f"stream.{q}.rows_per_batch_p50"] = median([p["rows"] for p in bs])

    prices = raw["warehouse"]["prices"]
    stations = raw["warehouse"]["stations"]
    rows = len(raw["events"]) if live else raw["history_rows"] + raw["batch_rows"] * (len(raw["ops"]) + raw["warmup_ops"])
    m["warehouse.prices_files"] = len(prices)
    m["warehouse.bytes_per_row"] = sum(b for _, b in prices) / max(rows, 1)
    m["warehouse.files_per_refresh"] = statistics.mean(
        [files_before(prices, s) + files_before(stations, s) for s, _ in ops]) if ops else 0

    in_window = [a for a in raw["actions"] if lo <= a[1] <= hi]
    by_kind = {}
    for cols, _, ms, _ in in_window:
        by_kind.setdefault(classify_action(cols), []).append(ms)
    m["fuel.qbar_ms_p50"] = median(by_kind.get("qbar", []))
    m["fuel.qmap_ms_p50"] = median(by_kind.get("qmap", []))
    m["fuel.qline_ms_p50"] = median(by_kind.get("qline", []))

    jobs = [j for j in raw["jobs"] if lo <= j[1] <= hi]
    refresh_jobs = [j for j in jobs if (j[6] == "qmap_live" if live else j[7] not in ("", None) and int(j[7]) >= 0)]
    m["fuel.refresh_ms_p50"] = median(e2e["refresh"])
    m["fuel.refresh_ms_p90"] = percentile(e2e["refresh"], 90)
    m["fuel.render_jobs"] = len([j for j in refresh_jobs if any(s <= j[1] <= e for s, e in ops)]) / n_ops
    m["fuel.render_self_ms_p50"] = median(
        [self_time((s, e), [(j[1], j[2]) for j in refresh_jobs]) for s, e in ops])
    m["fuel.dash_missed"] = e2e["missed"]

    # An op is one dashboard refresh: a qmap_live tick, or one append+render.
    op_spans = ops if live else [(s, e) for s, _, e in raw["ops"]]
    plan = sum(a[3] for a in in_window)
    if live:
        plan += sum(p["dur"].get("queryPlanning", 0) for p in progress if lo <= p["start"] <= hi)
    m["spark.plan_ms_per_op"] = plan / n_ops
    m["spark.jobs_per_op"] = len(jobs) / n_ops
    m["spark.tasks_per_op"] = sum(j[3] for j in jobs) / n_ops
    m["spark.job_ms_per_op"] = sum(j[2] - j[1] for j in jobs) / n_ops
    m["spark.gap_ms_per_op"] = sum(self_time(sp, [(j[1], j[2]) for j in refresh_jobs]) for sp in op_spans) / n_ops
    m["spark.shuffle_bytes_per_op"] = sum(j[4] for j in jobs) / n_ops
    m["spark.spill_bytes"] = sum(j[5] for j in jobs)
    m["spark.gc_ms"] = raw["gc_ms"]

    m["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    m["calib.cpu_ms.first"], m["calib.fs_rename_ms.first"] = raw["calib_first"]
    m["calib.cpu_ms.last"], m["calib.fs_rename_ms.last"] = raw["calib_last"]
    return m


def event_spans(raw, e2e):
    """Per-event spans derived from the timelines, one trace id per event:
    publish, land, warehouse commit and dashboard."""
    out = []
    if raw["workload"] != "live_trickle":
        return out
    landed = raw["landed"]
    for i, (due, sent, pub_us) in enumerate(raw["events"]):
        t = f"e{i}"
        out.append([t, "event", due, e2e["shown"][i]])
        if i < len(landed) and landed[i] > 0:
            out.append([t, "mqtt.land", sent, landed[i]])
        if e2e["commits"][i] is not None:
            out.append([t, "stream.ingest_prices", due, e2e["commits"][i]])
            out.append([t, "stream.qmap_live", e2e["commits"][i], e2e["shown"][i]])
    return out
