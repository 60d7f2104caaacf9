"""Metric math for the graft benchmark: turns the raw samples the JVM
harness writes into the end-to-end and per-layer metrics.

A timing is reported as a median, plus the highest tail percentile that
has at least ten samples beyond it. Per-layer metrics of a layer the
workload does not call read 0 (a count or time of no work), and
ratios without a base read 0 as well.
"""
import math
import statistics

MIN_BEYOND = 10
TAIL_LEVELS = (0.99, 0.95, 0.9, 0.75)

# The operator packs the analytics panel runs. Curation's one query is
# not in the panel; the curate-cycle workload measures that pack.
PACKS = ("Relational", "EventOps", "Dedup", "Similarity", "TextOps",
         "Multimodal", "Drift", "Sampling", "LinkGraph",
         "Snapshot", "Profile", "Bpe", "Featurize", "Spectral", "Extract",
         "Classify", "EventStats", "TopK")

END_TO_END = {
    "op_ms_p50": "ms",
    "rate_per_s": "1/s",
    "setup_s": "s",
}

PER_LAYER = dict(
    [("log.publish.jobs", "count"), ("log.publish.tasks", "count"),
     ("log.publish.files", "count"), ("log.replay.ms_p50", "ms"),
     ("log.replay.read_amp", "ratio"), ("log.ack.ms_p50", "ms"),
     ("log.retain.ms_p50", "ms"), ("log.files_live", "count"),
     ("stream.micro_batches", "count"), ("stream.start_ms", "ms"),
     ("stream.trigger_ms_p50", "ms"), ("stream.latest_offset_ms_p50", "ms"),
     ("stream.add_batch_ms_p50", "ms"),
     ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"),
     ("construct.s", "s"), ("construct.jobs", "count"),
     ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
     ("exec.tasks", "count"), ("exec.shuffle_read_mb", "MB"),
     ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
     ("exec.input_rows", "count"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.busy_frac", "ratio"), ("exec.exchanges", "count"),
     ("exec.task_skew", "ratio")]
    + [(f"pack.{p}.s", "s") for p in PACKS]
    + [("jvm.gc_s", "s"), ("trace.overhead_frac", "ratio")])

# Reported only by the curate-cycle workload.
CURATE_LAYER = {"curate.publish_ms": "ms", "curate.stream_s": "s",
                "curate.batch_s": "s", "curate.jobs": "count",
                "curate.first_cycle_s": "s"}
LAYER_UNITS = {**PER_LAYER, **CURATE_LAYER}


def median(xs):
    """Median of xs, or None when there are none."""
    return statistics.median(xs) if xs else None


def samples_beyond(n, q):
    """How many of n samples lie above the nearest-rank q-percentile."""
    return n - math.ceil(q * n)


def percentile(xs, q):
    """Nearest-rank q-percentile (0.5 <= q < 1) of xs, or None unless at
    least MIN_BEYOND samples lie beyond it. The median needs one sample."""
    if not xs:
        return None
    if q == 0.5:
        return statistics.median(xs)
    if samples_beyond(len(xs), q) < MIN_BEYOND:
        return None
    return sorted(xs)[math.ceil(q * len(xs)) - 1]


def tail(xs):
    """(level, value) of the highest reportable tail percentile, or None."""
    for q in TAIL_LEVELS:
        v = percentile(xs, q)
        if v is not None:
            return q, v
    return None


def read_amp(rows_read, rows_returned):
    """Rows a scan read per row it returned; 0 when nothing returned."""
    return rows_read / rows_returned if rows_returned > 0 else 0.0


def failed_frac(failed, attempted):
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie between 0 and attempted")
    return failed / attempted


def _spans(p, name):
    return [s for s in p["spans"] if s["name"] == name]


def _ms(spans):
    return [s["s"] * 1e3 for s in spans]


def _sum(spans, key):
    return sum(s.get(key, 0) for s in spans)


def _median_of(spans, key):
    return median([s.get(key, 0) for s in spans]) or 0


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_samples(p, workload):
    """Latency samples (ms) of the workload's unit operation."""
    if workload == "topic-log":
        return _ms(_spans(p, "consume_lag"))
    if workload == "analytics":
        # one sample per (query, round): tags are "<query>#<round>"
        by_q = {}
        for s in _spans(p, "construct") + _spans(p, "exec"):
            by_q[s["tag"]] = by_q.get(s["tag"], 0) + s["s"] * 1e3
        return list(by_q.values())
    # curate-cycle: publish + cycle of every batch after the first
    by_b = {}
    for s in _spans(p, "publish") + _spans(p, "cycle"):
        by_b[int(s["tag"])] = by_b.get(int(s["tag"]), 0) + s["s"] * 1e3
    return [v for b, v in sorted(by_b.items()) if b > 0]


def rate(p, workload):
    """Items completed per second of the measured phase."""
    if workload == "topic-log":
        loop = _spans(p, "publish") + _spans(p, "replay") + _spans(p, "ack") \
            + _spans(p, "retain")
        return _sum(_spans(p, "publish"), "records") / sum(s["s"] for s in loop)
    if workload == "analytics":
        spans = _spans(p, "construct") + _spans(p, "exec")
        return len({s["tag"] for s in spans}) / sum(s["s"] for s in spans)
    spans = _spans(p, "publish") + _spans(p, "cycle")
    return _sum(_spans(p, "publish"), "records") / sum(s["s"] for s in spans)


def detail(p, workload):
    """Workload-specific end-to-end figures, for the printed report and
    the detail file (not gated)."""
    d = {}
    if workload == "topic-log":
        pub = _ms(_spans(p, "publish"))
        lag = op_samples(p, workload)
        for name, xs in (("publish_ms", pub), ("consume_lag_ms", lag)):
            d[name + "_p50"] = median(xs)
            t = tail(xs)
            if t:
                d[f"{name}_p{round(t[0] * 100)}"] = t[1]
            d[name + "_n"] = len(xs)
        bulk = _spans(p, "bulk_publish")[0]
        d["bulk_publish_rec_per_s"] = bulk["records"] / bulk["s"]
        drain = _spans(p, "drain")[0]
        d["catchup_rec_per_s"] = drain["records"] / drain["s"]
        d["log_bytes_per_rec"] = p["log_bytes"] / max(1, p["retained_records"])
        d["retained_records"] = p["retained_records"]
    elif workload == "analytics":
        qs = op_samples(p, workload)
        names = {s["tag"].split("#")[0] for s in _spans(p, "exec")}
        d["suite_s"] = sum(qs) / 1e3 * len(names) / len(qs)
        d["query_s_p50"] = median(qs) / 1e3
        t = tail(qs)
        if t:
            d[f"query_s_p{round(t[0] * 100)}"] = t[1] / 1e3
        d["queries"] = len(names)
        d["samples"] = len(qs)
    else:
        cyc = [s["s"] for s in sorted(_spans(p, "cycle"), key=lambda s: int(s["tag"]))]
        d["cycle_s_p50"] = median(cyc[1:])
        d["first_cycle_s"] = cyc[0]
        d["curate_docs_per_s"] = rate(p, workload)
        d["cycles"] = len(cyc)
    return d


def end_to_end(raw):
    p = raw["passes"][0]
    w = raw["workload"]
    return {
        "op_ms_p50": median(op_samples(p, w)),
        "rate_per_s": rate(p, w),
        "setup_s": median(raw["setup_s"]),
    }


def per_layer(raw, plain_p50=None):
    """Per-layer metrics from the traced pass (the last one). The tracing
    overhead compares its op latency with plain_p50, the untraced run's,
    or else with the run's own untraced pass."""
    w = raw["workload"]
    p = raw["passes"][-1]
    m = {}
    pub = _spans(p, "publish") + _spans(p, "bulk_publish")
    m["log.publish.jobs"] = _median_of(pub, "jobs")
    m["log.publish.tasks"] = _median_of(pub, "tasks")
    m["log.publish.files"] = _median_of(_spans(p, "publish"), "files_added")
    replay = _spans(p, "replay")
    m["log.replay.ms_p50"] = median(_ms(replay)) or 0
    m["log.replay.read_amp"] = read_amp(_sum(replay, "records_read"),
                                        _sum(replay, "rows"))
    m["log.ack.ms_p50"] = median(_ms(_spans(p, "ack"))) or 0
    m["log.retain.ms_p50"] = median(_ms(_spans(p, "retain"))) or 0
    m["log.files_live"] = _sum(p["spans"], "files_live")

    triggers = [t for s in p["spans"] for t in s.get("stream_triggers", [])]
    starts = [x for s in p["spans"] for x in s.get("stream_start_ms", [])]
    m["stream.micro_batches"] = len(triggers)
    m["stream.start_ms"] = median(starts) or 0
    for key, name in (("triggerExecution", "trigger"),
                      ("latestOffset", "latest_offset"),
                      ("addBatch", "add_batch")):
        m[f"stream.{name}_ms_p50"] = median(
            [t[key] for t in triggers if key in t]) or 0

    m["catalyst.analysis_s"] = (_sum(p["spans"], "analysis_ms")
                                + _sum(p["spans"], "df_analysis_ms")) / 1e3
    m["catalyst.optimization_s"] = _sum(p["spans"], "optimization_ms") / 1e3
    m["catalyst.planning_s"] = _sum(p["spans"], "planning_ms") / 1e3

    con, ex = _spans(p, "construct"), _spans(p, "exec")
    m["construct.s"] = sum(s["s"] for s in con)
    m["construct.jobs"] = _sum(con, "jobs")
    exec_s = sum(s["s"] for s in ex)
    m["exec.s"] = exec_s
    for k in ("jobs", "stages", "tasks", "exchanges"):
        m[f"exec.{k}"] = _sum(ex, k)
    mb = 1 << 20
    m["exec.shuffle_read_mb"] = _sum(ex, "shuffle_read_bytes") / mb
    m["exec.shuffle_write_mb"] = _sum(ex, "shuffle_write_bytes") / mb
    m["exec.spill_mb"] = _sum(ex, "spill_bytes") / mb
    m["exec.input_rows"] = _sum(ex, "records_read")
    m["exec.cpu_s"] = _sum(ex, "task_cpu_ms") / 1e3
    m["exec.gc_s"] = _sum(ex, "task_gc_ms") / 1e3
    cores = raw.get("cores", 4)
    m["exec.busy_frac"] = (_sum(ex, "task_run_ms") / 1e3 / (exec_s * cores)
                           if exec_s else 0.0)
    mean_task = _sum(ex, "stage_mean_task_ms")
    m["exec.task_skew"] = (_sum(ex, "stage_max_task_ms") / mean_task
                           if mean_task else 0.0)
    for pack in PACKS:
        m[f"pack.{pack}.s"] = sum(s["s"] for s in con + ex
                                  if s.get("pack") == pack)

    if w == "curate-cycle":
        cycles = sorted(_spans(p, "cycle"), key=lambda s: int(s["tag"]))
        m["curate.publish_ms"] = median(_ms(_spans(p, "publish"))) or 0
        stream_ms = [union_ms([(t["start_ms"], t["start_ms"] + t.get("triggerExecution", 0))
                               for t in s.get("stream_triggers", [])])
                     for s in cycles]
        m["curate.stream_s"] = sum(stream_ms) / 1e3
        m["curate.batch_s"] = sum(s["s"] for s in cycles) - m["curate.stream_s"]
        m["curate.jobs"] = median([s.get("jobs", 0) for s in cycles[1:]]) or 0
        m["curate.first_cycle_s"] = cycles[0]["s"]
    m["jvm.gc_s"] = p["jvm_gc_s"]
    plain = plain_p50 or median(op_samples(raw["passes"][0], w))
    m["trace.overhead_frac"] = median(op_samples(p, w)) / plain - 1
    return m


def failures(raw, oracle_checks=()):
    """(attempted, failed): timed operations plus run-level checks,
    against those that threw or gave a wrong result."""
    checks = list(raw["checks"]) + list(oracle_checks)
    ops = raw["passes"][0]["ops"]
    run_level = [c for c in checks if not c["name"].startswith(("run:", "output:", "oracle:"))]
    per_op = {c["name"].split(":", 1)[1] for c in checks
              if c["name"].startswith(("run:", "output:", "oracle:")) and not c["ok"]}
    attempted = ops + len(run_level)
    failed = len(per_op) + sum(1 for c in run_level if not c["ok"])
    return attempted, failed
