"""Arithmetic of the perfbench metrics: percentiles, self times and the
end-to-end and per-layer metrics of one harness result."""
import math
import statistics

MIN_BEYOND = 10  # a reported percentile needs this many samples beyond it


def percentile(values, p):
    """Nearest-rank percentile `p` (0 < p < 1). Refuses a percentile above
    the median with fewer than MIN_BEYOND samples beyond it, so p90 needs
    at least 100 samples."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    if p > 0.5 and (1.0 - p) * n < MIN_BEYOND - 1e-9:
        raise ValueError(f"p{round(p * 100)} needs {math.ceil(MIN_BEYOND / (1 - p))} "
                         f"samples, have {n}")
    s = sorted(values)
    return s[max(0, math.ceil(p * n) - 1)]


def tail(values):
    """(p, value) for the highest of p99, p95, p90 and p75 that the rule
    allows, else the median."""
    for p in (0.99, 0.95, 0.9, 0.75):
        try:
            return p, percentile(values, p)
        except ValueError:
            pass
    return 0.5, statistics.median(values)


def union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of its interval that its
    children cover (children clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        cover = [(a, b) for a, b in cover if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(cover)
    return out


# ------------------------------------------------------------- metrics
END_TO_END = [("ops_per_s", "1/s"), ("setup_s", "s"), ("retained_heap_mb", "MB")]

LAYER_SHARES = [
    "jobs.submit_overhead_share", "jobs.wait_share", "jobs.market_job_share",
    "io.csv_infer_share", "io.csv_write_share", "report.chart_share",
    "queries.build_share", "queries.action_share", "queries.tpc_share",
    "queries.finance_share", "text.rows_share", "streaming.rows_share",
    "ops.versioned.merge_share", "ops.versioned.append_share",
    "ops.versioned.delete_share", "ops.versioned.update_share",
    "ops.versioned.compact_share", "ops.versioned.read_share",
    "ops.versioned.time_travel_share", "sources.sql_analyze_share",
    "sources.sql_read_share"]

PER_LAYER = [("client.op_p50_s", "s"), ("client.op_tail_s", "s"),
             ("client.error_rate", "share")] + \
    [(n, "share") for n in LAYER_SHARES] + [
    ("queries.memo_build_share", "share"),
    ("ops.versioned.manifest_rows", "count"), ("ops.versioned.segment_refs", "count"),
    ("ops.versioned.live_files", "count"), ("ops.versioned.dv_rows", "count"),
    ("ops.versioned.write_amp", "ratio"), ("ops.versioned.storage_ratio", "ratio"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.planning_s_per_op", "s"),
    ("spark.core_busy_share", "share"), ("spark.serial_wall_share", "share"),
    ("spark.max_task_share", "share"), ("spark.executor_run_s_per_op", "s"),
    ("spark.executor_cpu_s_per_op", "s"), ("spark.input_bytes_per_op", "bytes"),
    ("spark.shuffle_read_bytes_per_op", "bytes"),
    ("spark.shuffle_write_bytes_per_op", "bytes"),
    ("spark.spill_bytes_per_op", "bytes"), ("spark.cached_relations_end", "count"),
    ("spark.tasks_failed", "count"), ("setup.session_s", "s"), ("setup.init_s", "s"),
    ("setup.warm_s", "s"), ("probe.tmp_mb_growth", "MB"), ("probe.cpu_s_per_op", "s")]


def latency(op):
    return (op["end"] - op["start"]) / 1000.0


def end_to_end(res):
    """The end-to-end metrics of one harness result (values only)."""
    ops = [o for o in res["ops"] if o["ok"]]
    if not ops:
        raise ValueError("no successful operation")
    # client busy time: excludes the benchmark's own checks between ops
    busy = sum(latency(o) for o in res["ops"])
    setups = [s["session_s"] + s["init_s"] + s["warm_s"] for s in res["setups"]]
    return {"ops_per_s": len(ops) / busy,
            "setup_s": statistics.median(setups),
            "retained_heap_mb": res["probes"]["retained_heap_mb"]}


def op_p50(ops):
    """Median over operation kinds (registry rows, the report request,
    commit kinds) of each kind's median latency: one slow kind cannot drag
    the figure."""
    by_kind = {}
    for o in ops:
        if o["ok"]:
            by_kind.setdefault(o["kind"], []).append(latency(o))
    return statistics.median(statistics.median(v) for v in by_kind.values()) if by_kind else 0.0


def classify_job(callsite):
    """io layer of a Spark job from its short call site (MarketJob calls
    Csv internally, so the job's call site is the only attribution)."""
    if "Csv.scala" not in callsite:
        return None
    return "io.csv_write" if callsite.startswith("csv at") else "io.csv_infer"


def job_spans(res, next_id):
    out = []
    for j in res["jobs"]:
        if j["end"] < 0:
            continue
        out.append({"id": next_id, "parent": j["span"], "req": j["req"],
                    "name": classify_job(j["callsite"]) or "spark.job",
                    "start": float(j["start"]), "end": float(j["end"])})
        next_id += 1
    return out


def per_layer(res):
    """The per-layer metrics of one traced harness result, plus the spans
    (Spark jobs included), their self times per span name and the Spark
    jobs and tasks per operation of each operation kind."""
    ops = res["ops"]
    reqs = {o["req"] for o in ops}
    total = sum(latency(o) for o in ops) or 1.0
    n = max(len(ops), 1)
    spans = [s for s in res["spans"] if s["req"] in reqs]
    spans += job_spans(res, max([s["id"] for s in res["spans"]] + [0]) + 1)
    spans = [s for s in spans if s["req"] in reqs]
    dur = {}
    for s in spans:
        dur[s["name"]] = dur.get(s["name"], 0.0) + (s["end"] - s["start"]) / 1000.0
    m = {}
    for name in LAYER_SHARES:
        m[name] = dur.get(name[:-len("_share")], 0.0) / total
    m["jobs.submit_overhead_share"] = max(
        dur.get("jobs.submit", 0.0) - dur.get("jobs.market_job", 0.0), 0.0) / total
    lat = [latency(o) for o in ops if o["ok"]] or [0.0]
    m["client.op_p50_s"] = op_p50(ops)
    m["client.op_tail_s"] = tail(lat)[1]
    m["client.error_rate"] = sum(not o["ok"] for o in ops) / n
    setups = res["setups"]
    m["queries.memo_build_share"] = (statistics.median(s["memo_s"] for s in setups) /
                                     max(statistics.median(s["warm_s"] for s in setups), 1e-9))
    lake = res["lake"]
    for k in ("manifest_rows", "segment_refs", "live_files", "dv_rows"):
        m[f"ops.versioned.{k}"] = statistics.mean(r[k] for r in lake) if lake else 0.0
    batch = sum(r["batch_bytes"] for r in lake)
    added = sum(r["bytes_added"] for r in lake if r["batch_bytes"] > 0)
    m["ops.versioned.write_amp"] = added / batch if batch else 0.0
    m["ops.versioned.storage_ratio"] = res["probes"].get("storage_ratio", 0.0)

    jobs = [j for j in res["jobs"] if j["req"] in reqs]
    w0, w1 = res["window"]
    wall = (w1 - w0) / 1000.0
    cpus = res["cpus"]
    sumk = lambda k: sum(j[k] for j in jobs)
    m["spark.jobs_per_op"] = len(jobs) / n
    m["spark.stages_per_op"] = sumk("stages") / n
    m["spark.tasks_per_op"] = sumk("tasks") / n
    m["spark.planning_s_per_op"] = sum(s for t, s in res["planning"] if w0 <= t <= w1) / n
    m["spark.core_busy_share"] = sumk("run_ms") / 1000.0 / (wall * cpus)
    run_by_req = {}
    for j in jobs:
        run_by_req[j["req"]] = run_by_req.get(j["req"], 0.0) + j["run_ms"] / 1000.0
    serial = 0.0
    for o in ops:
        w, e = latency(o), run_by_req.get(o["req"], 0.0)
        if e >= 0.7 * w and e <= 0.3 * w * cpus:
            serial += w
    m["spark.serial_wall_share"] = serial / total
    m["spark.max_task_share"] = sumk("max_task_ms_sum") / max(sumk("task_ms_sum"), 1)
    m["spark.executor_run_s_per_op"] = sumk("run_ms") / 1000.0 / n
    m["spark.executor_cpu_s_per_op"] = sumk("cpu_ns") / 1e9 / n
    for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}_per_op"] = sumk(k) / n
    m["spark.cached_relations_end"] = res["probes"]["cached_relations_end"]
    m["spark.tasks_failed"] = sumk("tasks_failed")
    for k in ("session_s", "init_s", "warm_s"):
        m[f"setup.{k}"] = statistics.median(s[k] for s in setups)
    m["probe.tmp_mb_growth"] = res["probes"]["tmp_bytes_growth"] / 1048576.0
    m["probe.cpu_s_per_op"] = res["probes"]["window_cpu_s"] / n

    kind_of = {o["req"]: o["kind"] for o in ops}
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], {"ops": 0, "jobs": 0, "tasks": 0})["ops"] += 1
    for j in jobs:
        k = by_kind[kind_of[j["req"]]]
        k["jobs"] += 1
        k["tasks"] += j["tasks"]
    counts = {k: {"ops": v["ops"], "jobs_per_op": v["jobs"] / v["ops"],
                  "tasks_per_op": v["tasks"] / v["ops"]} for k, v in sorted(by_kind.items())}

    st = self_times(spans)
    selfs = {}
    for s in spans:
        a = selfs.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        a["count"] += 1
        a["total_s"] += (s["end"] - s["start"]) / 1000.0
        a["self_s"] += st[s["id"]] / 1000.0
    return m, spans, selfs, counts
