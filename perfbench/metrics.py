"""Turns one run's raw measurements (the JSON file the JVM side writes)
into the benchmark's metrics: the end-to-end metrics from untraced rounds,
the per-layer metrics from traced rounds, and a full report that also
carries the per-kind names (backfill_p50_s, dash_tail_s, ...)."""
import math
import statistics

NAN = float("nan")
MB = 1e6

# span names, by the layer they time (see README.md)
BUILD_SPANS = {"build", "operators.energy", "operators.weather", "operators.fact"}
ACTION_SPANS = {"action", "operators.energy_probe", "operators.quality",
                "operators.sink_parquet", "operators.sink_csv"}
STAGE_SPANS = ["operators.energy", "operators.energy_probe", "operators.weather",
               "operators.fact", "operators.quality", "operators.sink_parquet",
               "operators.sink_csv"]


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else NAN


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (value, percentile, sample count). The k-th smallest of n samples has
    n - k above it, so k = n - beyond. Below 2 * beyond + 1 samples that
    percentile is at or under the median, so no tail qualifies; the
    maximum is returned then, at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return NAN, NAN, 0
    if n <= 2 * beyond:
        return s[-1], 100.0, n
    k = n - beyond
    return s[k - 1], 100.0 * k / n, n


def ratio(num, den):
    """num / den, or 0.0 when the base is zero (nothing attempted)."""
    return num / den if den else 0.0


def spread(values):
    """Interquartile range as a share of the median, the way the
    benchmark's stability is judged."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, statistics.median(values))


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, -math.inf
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _within(t, rounds):
    return any(r["start"] <= t <= r["end"] for r in rounds)


def _counters(raw, traced):
    """Per-round counters merged across the entries a round wrote."""
    by_round = {}
    for c in raw["counters"]:
        if c["traced"] == traced:
            by_round.setdefault(c["round"], {}).update(
                {k: v for k, v in c.items() if v is not None})
    return list(by_round.values())


def _counter(rounds, key):
    return median(r.get(key, 0) for r in rounds) if rounds else 0


def end_to_end(raw):
    """Metrics a user sees, from the untraced rounds."""
    rounds = [r for r in raw["rounds"] if not r["traced"]]
    reqs = [q for q in raw["requests"] if not q["traced"]]
    t, pct, n = tail(q["s"] for q in reqs)
    e2e = {
        "setup_s": (median(raw["setup_reps_s"]), "s"),
        "wall_s": (median(r["end"] - r["start"] for r in rounds), "s"),
        "geomean_s": (geomean_of_medians(reqs), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    return e2e, {"p50_s": median(q["s"] for q in reqs), "tail_s": t,
                 "tail_percentile": pct, "tail_samples": n}


def geomean_of_medians(reqs):
    """Geometric mean, over request kinds, of each kind's median latency.
    Unlike the median over all requests, it does not jump between kinds
    when their latencies sit far apart, and a kind that gets k times
    faster moves it by the same factor whatever its share of the time."""
    by_kind = {}
    for q in reqs:
        by_kind.setdefault(q["kind"], []).append(q["s"])
    if not by_kind:
        return NAN
    return math.exp(statistics.fmean(math.log(median(v)) for v in by_kind.values()))


def by_kind(raw):
    """Median and tail latency per request kind."""
    groups = {"backfill": lambda k: k == "backfill",
              "dash": lambda k: k.startswith("dash."),
              "query": lambda k: k.startswith("query.")}
    out = {}
    for name, match in groups.items():
        xs = [q["s"] for q in raw["requests"] if not q["traced"] and match(q["kind"])]
        if xs:
            t, pct, n = tail(xs)
            out[f"{name}_p50_s"] = median(xs)
            out[f"{name}_tail_s"] = t
            out[f"{name}_tail_percentile"] = pct
            out[f"{name}_samples"] = n
    return out


def per_layer(raw):
    """Per-layer metrics from the traced rounds, per round unless a ratio.
    Returns (metrics with units, extra detail for the report)."""
    tr = raw.get("tracing") or {"spans": [], "jobs": [], "plans": []}
    rounds = [r for r in raw["rounds"] if r["traced"]]
    untraced = [r for r in raw["rounds"] if not r["traced"]]
    n = len(rounds) or 1
    wall = sum(r["end"] - r["start"] for r in rounds)
    spans = [s for s in tr["spans"] if _within(s["start"], rounds)]
    selfs = self_times(spans)

    def self_sum(names):
        return sum(selfs[s["id"]] for s in spans if s["name"] in names)

    jobs = [j for j in tr["jobs"] if _within(j["start"], rounds)]
    plans = [p for p in tr["plans"] if _within(p["start"], rounds)]
    reqs = [q for q in raw["requests"] if q["traced"]]
    gap = sum((r["end"] - r["start"])
              - union_length([(j["start"], j["end"]) for j in jobs], r["start"], r["end"])
              for r in rounds)
    counters = _counters(raw, True)

    def jsum(key):
        return sum(j[key] for j in jobs)

    build = self_sum(BUILD_SPANS)
    m = {
        "build.self_s": (build / n, "s"),
        "build.share": (ratio(build, wall), "frac"),
        "action.self_s": (self_sum(ACTION_SPANS) / n, "s"),
        "catalyst.plan_s": (sum(p["plan_s"] for p in plans) / n, "s"),
        "catalyst.plan_nodes": (_counter(counters, "plan_nodes"), "count"),
        "scheduler.jobs": (len(jobs) / n, "count"),
        "scheduler.stages": (jsum("stages_done") / n, "count"),
        "scheduler.tasks": (jsum("tasks_done") / n, "count"),
        "scheduler.jobs_per_op": (ratio(len(jobs), len(reqs)), "count"),
        "scheduler.driver_gap_s": (gap / n, "s"),
        "executor.task_run_s": (jsum("run_s") / n, "s"),
        "executor.task_cpu_s": (jsum("cpu_s") / n, "s"),
        "executor.gc_s": (jsum("gc_s") / n, "s"),
        "executor.busy_frac": (ratio(jsum("run_s"), wall * raw["cores"]), "frac"),
        "executor.shuffle_read_mb": (jsum("shuffle_read_b") / MB / n, "MB"),
        "executor.shuffle_write_mb": (jsum("shuffle_write_b") / MB / n, "MB"),
        "executor.spill_mb": (jsum("spill_b") / MB / n, "MB"),
        "executor.input_mb": (jsum("input_b") / MB / n, "MB"),
        "executor.output_mb": (jsum("output_b") / MB / n, "MB"),
        "sink.files": (_counter(counters, "sink_files"), "count"),
        "sink.bytes_per_row": (ratio(_counter(counters, "sink_bytes"),
                                     _counter(counters, "sink_rows")), "B/row"),
        "sources.raw_files": (_counter(counters, "raw_files"), "count"),
        "sources.raw_bytes": (_counter(counters, "raw_bytes"), "B"),
        "sources.history_files": (_counter(counters, "history_files"), "count"),
        "pipeline.build_pct": (100 * ratio(self_sum(
            {"operators.energy", "operators.weather", "operators.fact"}), wall), "%"),
        "dash.pct": (100 * ratio(sum(q["s"] for q in reqs if q["kind"].startswith("dash.")), wall), "%"),
        "trace.wall_s": (median(r["end"] - r["start"] for r in rounds), "s"),
        "trace.overhead_s": (median(r["end"] - r["start"] for r in rounds)
                             - median(r["end"] - r["start"] for r in untraced), "s"),
    }
    for name in ("operators.energy_probe", "operators.quality",
                 "operators.sink_parquet", "operators.sink_csv"):
        m[name + "_pct"] = (100 * ratio(self_sum({name}), wall), "%")

    # detail for the report, under the names the layer map uses
    detail = {name + "_s": self_sum({name}) / n for name in STAGE_SPANS}
    detail["pipeline.build_s"] = self_sum(
        {"operators.energy", "operators.weather", "operators.fact"}) / n
    detail["sources.open_s"] = self_sum({"sources.open"}) / n
    kinds = sorted({q["kind"] for q in reqs})
    for k in kinds:
        if k.startswith("dash."):
            detail[f"operators.dash_{k[5:]}_s"] = sum(q["s"] for q in reqs if q["kind"] == k) / n
    if any(k.startswith("query.") for k in kinds):
        detail["queries.build_s"] = self_sum({"build"}) / n
        detail["queries.plan_s"] = m["catalyst.plan_s"][0]
        detail["queries.exec_s"] = self_sum({"action"}) / n
        detail["queries.build_share"] = m["build.share"][0]
    detail["traced_rounds"] = len(rounds)
    detail["dash_plan_nodes"] = _counter(counters, "dash_plan_nodes")
    return m, detail
