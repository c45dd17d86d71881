"""Metric arithmetic: percentiles, error rate, interval unions, span self
time, and the end-to-end and per-layer metrics of one run."""
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two unlucky ops, not a percentile.
TAIL_MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q <= 1), or None if there are fewer than
    TAIL_MIN_BEYOND samples beyond it (the median needs no tail: q <= 0.5
    is always reported when there is a sample)."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if q > 0.5 and len(xs) - rank < TAIL_MIN_BEYOND:
        return None
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def failures(ops, check_failures):
    """(attempted, failed) over the measured ops: an op that raised and a
    failed output check each count once; failed never exceeds attempted."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"]) + len(check_failures)
    return attempted, min(attempted, failed)


def error_rate(attempted, failed):
    """Failed ÷ attempted."""
    if attempted <= 0:
        raise ValueError("error_rate: nothing attempted")
    return failed / attempted


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    xs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            xs.append((s, e))
    xs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in xs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered(start, end, intervals):
    """Part of [start, end] no interval covers: an op's driver gap, or a
    span's self time given its children."""
    return (end - start) - union_length(intervals, start, end)


def owner(ops, t):
    """The op whose [start, end] holds time t, or None."""
    for o in ops:
        if o["start"] <= t <= o["end"]:
            return o
    return None


# ---- end to end -----------------------------------------------------------

def setup_s(meta):
    """JVM start to first timed op, with the set-up (which includes the
    warm-up) counted once at the median of its repetitions and the host
    calibration left out."""
    reps = meta["setup_ms"]
    first_op = meta["window"]["start"]
    ms = (first_op - meta["jvm_start"]) - meta["calib_ms"] - sum(reps) + median(reps)
    return ms / 1000.0


def window_ops(ops):
    ok = [o for o in ops if o["ok"]]
    return ok, [(o["end"] - o["start"]) / 1000.0 for o in ok]


def round_walls(ops):
    """Wall seconds of each round of the window, in round order."""
    rounds = {}
    for o in ops:
        rounds.setdefault(o["round"], []).append(o)
    return [(max(o["end"] for o in r) - min(o["start"] for o in r)) / 1000.0
            for _, r in sorted(rounds.items())]


def round_rate(ops):
    """Completed ops per second: the median over the window's rounds of
    each round's completed ops over its wall time. Every round runs the
    same mix, so this is the window's throughput with one slow round (a
    GC, a noisy neighbour) not moving it."""
    rounds = {}
    for o in ops:
        rounds.setdefault(o["round"], []).append(o)
    return median([sum(1 for o in r if o["ok"]) /
                   ((max(o["end"] for o in r) - min(o["start"] for o in r)) / 1000.0)
                   for r in rounds.values()])


def end_to_end(meta, ops, lake_space):
    ok, lat = window_ops(ops)
    by_cls = {}
    for o, s in zip(ok, lat):
        by_cls.setdefault(o["cls"], []).append(s)
    gated = {
        "setup_s": (setup_s(meta), "s"),
        "ops_per_s": (round_rate(ops), "1/s"),
        "latency_p50_s": (median(lat), "s"),
    }
    extra = {
        "latency_p90_s": (percentile(lat, 0.9), "s"),
        "read_p50_s": (median(by_cls.get("read", [])), "s"),
        "write_p50_s": (median(by_cls.get("write", [])), "s"),
        "refresh_p50_s": (median(by_cls.get("refresh", [])), "s"),
        "space_bytes_per_row": (lake_space, "B"),
    }
    counts = {"latency": len(lat), **{f"{k}_latency": len(v) for k, v in by_cls.items()}}
    return gated, extra, counts


# ---- per layer ------------------------------------------------------------

STREAM_PHASES = [("trigger_ms", "triggerExecution"), ("latest_offset_ms", "latestOffset"),
                 ("get_batch_ms", "getBatch"), ("query_planning_ms", "queryPlanning"),
                 ("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
                 ("commit_offsets_ms", "commitOffsets")]
LAKE_VERBS = [(v, t) for v in ("update", "delete", "merge") for t in ("cow", "mor")]
FAMILIES = [("queries.lab_p50_s", "lab"), ("queries.tpch_p50_s", "tpch"),
            ("queries.ext_p50_s", "ext"), ("operators.llm_p50_s", "llm")]


def attribute(ops, jobs, frames, progress):
    """Jobs go to the op named by their job group; jobs without one (stream
    threads do not inherit the caller's group) and frames and micro-batches
    go to the op whose interval holds their start."""
    ids = {o["id"]: o for o in ops}
    for o in ops:
        o["jobs"], o["frames"], o["batches"] = [], [], []
    for j in jobs:
        o = ids.get(j["group"]) or owner(ops, j["start"])
        if o is not None and j["end"] >= 0:
            o["jobs"].append(j)
    for f in frames:
        starts = [p[0] for p in f["phases"].values()]
        o = owner(ops, min(starts) if starts else f["end"])
        if o is not None:
            o["frames"].append(f)
    for b in progress:
        o = owner(ops, b["start"])
        if o is not None:
            o["batches"].append(b)


def spans(ops, probes):
    """Span records {name, start, end, parent, op, self_ms}: one root per
    op; its Catalyst phases, jobs, snapshot probes and micro-batches as
    children; the micro-batch phases as children of their batch."""
    out = []

    def add(name, s, e, parent, op, children=()):
        sid = len(out)
        out.append({"id": sid, "name": name, "start": s, "end": e, "parent": parent,
                    "op": op, "self_ms": uncovered(s, e, children)})
        return sid

    by_op = {}
    for p in probes:
        by_op.setdefault(p["op"], []).append(p)
    for o in ops:
        kids = []
        for f in o.get("frames", []):
            kids += [(f"catalyst.{k}", v[0], v[1]) for k, v in f["phases"].items()]
        kids += [(f"job.{j['id']}", j["start"], j["end"]) for j in o.get("jobs", [])]
        kids += [(f"probe.snapshot.{p['table']}", p["start"], p["end"]) for p in by_op.get(o["id"], [])]
        batch_kids = []
        for b in o.get("batches", []):
            d = b["durations"]
            t, phases = b["start"], []
            # durationMs has no start times; phases are laid out in the
            # order MicroBatchExecution runs them
            for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                      "commitOffsets"):
                if k in d:
                    phases.append((f"stream.{k}", t, t + d[k]))
                    t += d[k]
            batch_kids.append((f"stream.batch.{b['name']}", b["start"],
                               b["start"] + d.get("triggerExecution", 0), phases))
        root = add(f"op.{o['name']}", o["start"], o["end"], None, o["id"],
                   [(s, e) for _, s, e in kids] + [(s, e) for _, s, e, _ in batch_kids])
        for name, s, e in kids:
            add(name, s, e, root, o["id"])
        for name, s, e, phases in batch_kids:
            b = add(name, s, e, root, o["id"], [(ps, pe) for _, ps, pe in phases])
            for pn, ps, pe in phases:
                add(pn, ps, pe, b, o["id"])
    return out


# The per-layer metrics of the result line: those every workload has, so
# each has a measured value on each. A count, size or ratio of a layer the
# workload never enters reads 0; workload-specific timings (lake verbs,
# snapshot probe, query families, micro-batch phases) are in the report.
LAYER_METRICS = [
    "engine.jobs_per_op", "engine.stages_per_op", "engine.tasks_per_op",
    "engine.driver_gap_s_per_op", "engine.optimization_s_per_op", "engine.planning_s_per_op",
    "plans.frames_per_op", "engine.task_s_per_op", "engine.core_busy_ratio", "engine.shuffle_bytes_per_op", "engine.spill_bytes_per_op",
    "engine.gc_s_per_op", "engine.peak_rss_mb", "sources.input_bytes_per_op",
    "sources.input_rows_per_op", "sources.rows_read_per_result_row",
    "sources.lake.files_scanned_per_read", "sources.lake.files_skipped_ratio",
    "operators.lake.files_rewritten_per_write", "operators.lake.bytes_written_per_op",
    "operators.lake.files_live", "operators.lake.dv_files_live",
    "trace.plain_ops_per_s", "trace.traced_ops_per_s", "trace.overhead_ratio",
]


def per_layer(meta, ops, jobs, frames, progress, probes, plain_ops):
    """Every per-layer metric of one traced window. A layer the workload
    never enters reads 0."""
    win = meta["traced_window"]
    ops = [o for o in ops if o["ok"]]
    attribute(ops, jobs, frames, progress)
    n = max(len(ops), 1)
    wall_s = (win["end"] - win["start"]) / 1000.0
    aj = [j for o in ops for j in o["jobs"]]
    af = [f for o in ops for f in o["frames"]]
    js = lambda k: sum(j[k] for j in aj)
    phase_s = lambda k: sum(f["phases"][k][1] - f["phases"][k][0] for f in af if k in f["phases"]) / 1000.0
    lat = lambda o: (o["end"] - o["start"]) / 1000.0
    m = {
        "engine.jobs_per_op": (len(aj) / n, "count"),
        "engine.stages_per_op": (js("stages") / n, "count"),
        "engine.tasks_per_op": (js("tasks") / n, "count"),
        "engine.driver_gap_s_per_op": (sum(uncovered(o["start"], o["end"],
                                        [(j["start"], j["end"]) for j in o["jobs"]])
                                        for o in ops) / n / 1000.0, "s"),
        "engine.analysis_s_per_op": (phase_s("analysis") / n, "s"),
        "engine.optimization_s_per_op": (phase_s("optimization") / n, "s"),
        "engine.planning_s_per_op": (phase_s("planning") / n, "s"),
        "plans.frames_per_op": (len(af) / n, "count"),
        "engine.task_s_per_op": (js("task_ms") / 1000.0 / n, "s"),
        "engine.core_busy_ratio": (js("task_ms") / 1000.0 / (wall_s * meta["cores"]), "ratio"),
        "engine.shuffle_bytes_per_op": ((js("shuffle_read_bytes") + js("shuffle_write_bytes")) / n, "B"),
        "engine.spill_bytes_per_op": (js("spill_bytes") / n, "B"),
        "engine.gc_s_per_op": (win["gc_ms"] / 1000.0 / n, "s"),
        "engine.peak_rss_mb": (meta["peak_rss_mb"], "MB"),
        "sources.input_bytes_per_op": (js("input_bytes") / n, "B"),
        "sources.input_rows_per_op": (js("input_rows") / n, "count"),
    }
    # lake reads: rows the scans read per row returned, files they read
    reads = [o for o in ops if o["cls"] == "read" and o["rows"] >= 0 and
             any(f["lake_scans"] for f in o["frames"])]
    result_rows = sum(o["rows"] for o in reads)
    read_rows = sum(j["input_rows"] for o in reads for j in o["jobs"])
    scanned = sum(f["lake_files"] for o in reads for f in o["frames"])
    by_op = {}
    for p in probes:
        by_op.setdefault(p["op"], {})[p["table"]] = p
    live_at_read = sum(by_op.get(o["id"], {}).get(o["name"].rsplit("_", 1)[-1], {})
                       .get("stats", {}).get("files", 0) for o in reads)
    m["sources.rows_read_per_result_row"] = (read_rows / max(result_rows, 1) if reads else 0.0, "ratio")
    m["sources.lake.files_scanned_per_read"] = (scanned / len(reads) if reads else 0.0, "count")
    m["sources.lake.files_skipped_ratio"] = (1 - scanned / live_at_read if live_at_read else 0.0, "ratio")
    m["sources.lake.snapshot_s"] = (
        median([(p["end"] - p["start"]) / 1000.0 for p in probes]) or 0.0, "s")
    # lake writes
    writes = [o for o in ops if o["cls"] in ("write", "batch")]
    rewritten = sum(p["removed"] for o in writes for p in by_op.get(o["id"], {}).values())
    m["operators.lake.files_rewritten_per_write"] = (rewritten / len(writes) if writes else 0.0, "count")
    m["operators.lake.bytes_written_per_op"] = (
        sum(j["output_bytes"] for o in writes for j in o["jobs"]) / len(writes) if writes else 0.0, "B")
    last = by_op.get(ops[-1]["id"], {}) if ops else {}
    m["operators.lake.files_live"] = (sum(p["stats"]["files"] for p in last.values()), "count")
    m["operators.lake.dv_files_live"] = (sum(p["stats"]["dv_files"] for p in last.values()), "count")
    for verb, table in LAKE_VERBS:
        v = [lat(o) for o in ops if o["kind"].startswith(verb) and o["name"].endswith(table)]
        m[f"operators.lake.{verb}_{table}_p50_s"] = (median(v) or 0.0, "s")
    m["operators.lake.insert_p50_s"] = (median([lat(o) for o in ops if o["kind"] == "insert"]) or 0.0, "s")
    # streaming: mean of each micro-batch phase
    batches = [b for o in ops for b in o["batches"]]
    for name, key in STREAM_PHASES:
        v = [b["durations"].get(key, 0) for b in batches]
        m[f"streaming.{name}"] = (sum(v) / len(v) if v else 0.0, "ms")
    fixed = [b["durations"].get("triggerExecution", 0) - b["durations"].get("addBatch", 0) for b in batches]
    m["streaming.fixed_ms"] = (sum(fixed) / len(fixed) if fixed else 0.0, "ms")
    # declared queries by family
    for name, fam in FAMILIES:
        m[name] = (median([lat(o) for o in ops if o["kind"] == fam]) or 0.0, "s")
    # tracing overhead: the plain window just before against this one
    plain, traced = round_rate(plain_ops), round_rate(ops)
    m["trace.plain_ops_per_s"] = (plain, "1/s")
    m["trace.traced_ops_per_s"] = (traced, "1/s")
    m["trace.overhead_ratio"] = (1 - traced / plain if plain else 0.0, "ratio")
    return m


def per_query(ops):
    """Median latency of each declared query (traced window)."""
    by = {}
    for o in ops:
        if o["ok"] and o["cls"] == "read" and o["kind"] in ("lab", "tpch", "ext", "llm"):
            by.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1000.0)
    return {f"queries.{k}_s": median(v) for k, v in sorted(by.items())}
