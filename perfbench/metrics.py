"""Metrics of one benchmark run, computed from the harness's raw record."""
import math
import statistics

from inputs import ANALYTICS, CORPUS, ROUTES

# ROADMAP targets in catalog_batch's set (q116, q126, q156 and q163 are not)
TARGETS = ["q34", "q128", "q174", "q182", "q183"]
SPANS = {  # per-layer name -> (span name, unit)
    "intent.wants_data_us": ("intent.wants_data", "us"),
    "intent.template_ms": ("intent.template", "ms"),
    "intent.compile_ms": ("intent.compile", "ms"),
    "intent.domains_ms": ("intent.domains", "ms"),
    "guard.run_guarded_ms": ("guard.run_guarded", "ms"),
    "rag.embed_us": ("rag.embed", "us"),
    "rag.retrieve_ms": ("rag.retrieve", "ms"),
    "forecast.build_ms": ("forecast.build", "ms"),
    "result.preview_ms": ("result.preview", "ms"),
    "api.json_ms": ("api.json", "ms"),
    "core.sales_view_ms": ("core.sales_view", "ms"),
}
SCALE = {"us": 1e3, "ms": 1e6, "s": 1e9}  # ns per unit


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs, cap=90, beyond=10):
    """Highest whole percentile, at most `cap`, with at least `beyond`
    samples above its value (nearest rank). Returns (percentile, value);
    (50, median) when the sample is too small for any higher one."""
    s = sorted(xs)
    n = len(s)
    if not s:
        return 50, 0.0
    for p in range(cap, 50, -1):
        v = s[max(0, math.ceil(p * n / 100) - 1)]
        if sum(1 for x in s if x > v) >= beyond:
            return p, v
    return 50, median(s)


def union_ns(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    child spans cover. Children may overlap one another (concurrent jobs);
    the covered part is their union, clipped to the parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_ns([c for c in cover if c[1] > c[0]])
    return out


def _ok(rec, window):
    return [o for o in rec["ops"] if o["window"] == window and o["ok"]]


def _ms(o):
    return (o["t1"] - o["t0"]) / 1e6


def _per_kind_median_s(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(_ms(o) / 1e3)
    return {k: median(v) for k, v in kinds.items()}


def counts(rec):
    """(attempted, failed) over every op of the run."""
    return len(rec["ops"]), sum(1 for o in rec["ops"] if not o["ok"])


def end_to_end(rec):
    """The bounded metrics: the median of the run's cold set-ups, and the
    mean wall time and the process CPU time per op of the timed window.
    The latencies are aggregates over every op of the window, so they are
    steady from run to run; their median and tail are per-layer metrics
    (`latency`)."""
    ops = _ok(rec, "timed")
    return {
        "setup_s": (median(rec["setup_s"]), "s"),
        "op_mean_ms": (statistics.fmean([_ms(o) for o in ops]) if ops else 0.0, "ms"),
        "cpu_ms_per_op": (rec["timed_cpu_s"] * 1e3 / max(len(ops), 1), "ms"),
    }


def latency(rec):
    """Median and tail latency of the timed window, the sum over op kinds
    of each kind's median, and the process's peak resident set."""
    ops = _ok(rec, "timed")
    lat = [_ms(o) for o in ops]
    p, tail = tail_percentile(lat)
    return {
        "op_p50_ms": (median(lat), "ms"),
        "op_p90_ms": (tail, "ms"),
        "op_p90.percentile": (p, "count"),
        "op_samples": (len(lat), "count"),
        "total_s": (sum(_per_kind_median_s(ops).values()), "s"),
        "rss_peak_mb": (rec["rss_peak_mb"], "MB"),
        "heap_live_mb": (rec["heap_live_mb"], "MB"),
        "fail_frac": (counts(rec)[1] / max(counts(rec)[0], 1), "ratio"),
    }


def spark_layers(rec, ops):
    """spark.* per op of `ops` (the traced window). A job belongs to the op
    whose interval holds its start; with one op at a time (batch) that is
    exact. With concurrent requests jobs cannot be attributed from outside,
    so sums are divided by completed requests and the driver gap is taken
    over the whole window."""
    pr = rec["probe"]
    n = max(len(ops), 1)
    jobs = pr["jobs"]
    st = pr["stages"]
    tot = lambda k: sum(s[k] for s in st)
    tasks = tot("tasks")
    job_ns = [(j["start_ms"] * 10**6, j["end_ms"] * 10**6) for j in jobs]
    plan_ms = sum(p["plan_ms"] for p in pr["plans"])
    t0 = min(o["t0"] for o in ops) if ops else 0
    t1 = max(o["t1"] for o in ops) if ops else 1
    wall_s = (t1 - t0) / 1e9
    if rec["workload"] == "bi_serve":
        gap_ms = max(0.0, sum(_ms(o) for o in ops) - plan_ms
                     - sum(b - a for a, b in job_ns) / 1e6)
    else:
        gap_ms = 0.0
        for o in ops:
            inside = [(max(a, o["t0"]), min(b, o["t1"])) for a, b in job_ns if o["t0"] <= a < o["t1"]]
            plans = sum(p["plan_ms"] for p in pr["plans"] if o["t0"] <= p["start_ms"] * 10**6 < o["t1"])
            gap_ms += max(0.0, _ms(o) - plans - union_ns(inside) / 1e6)
    cores = rec["host"]["nproc"]
    return {
        "spark.jobs_per_op": (len(jobs) / n, "count"),
        "spark.tasks_per_op": (tasks / n, "count"),
        "spark.plan_ms_per_op": (plan_ms / n, "ms"),
        "spark.job_wall_ms_per_op": (sum(b - a for a, b in job_ns) / 1e6 / n, "ms"),
        "spark.driver_gap_ms_per_op": (gap_ms / n, "ms"),
        "spark.task_run_s_per_op": (tot("run_ms") / 1e3 / n, "s"),
        "spark.task_cpu_s_per_op": (tot("cpu_ns") / 1e9 / n, "s"),
        "spark.core_util": (tot("run_ms") / 1e3 / max(wall_s * cores, 1e-9), "ratio"),
        "spark.shuffle_write_kb_per_op": (tot("shuffle_write_b") / 1024 / n, "KB"),
        "spark.shuffle_read_kb_per_op": (tot("shuffle_read_b") / 1024 / n, "KB"),
        "spark.spill_kb_per_op": (tot("spill_b") / 1024 / n, "KB"),
        "spark.scan_kb_per_op": (tot("input_b") / 1024 / n, "KB"),
        "spark.gc_ms_per_op": (tot("gc_ms") / n, "ms"),
        "spark.task_failed_frac": (tot("failed") / max(tasks, 1), "ratio"),
    }


def serve_layers(rec):
    timed = _ok(rec, "timed")
    out = {}
    for r in ROUTES:
        out[f"route.{r}.p50_ms"] = (median([_ms(o) for o in timed if o["kind"] == r]), "ms")
    stages = rec["extra"].get("ask_stages", {}) if rec["workload"] == "bi_serve" else {}
    out["api.ask.template_frac"] = (stages.get("template", 0) / max(sum(stages.values()), 1), "ratio")
    spans = rec["spans"]
    own = self_times(spans)
    for metric, (name, unit) in SPANS.items():
        vals = [own[s["id"]] / SCALE[unit] for s in spans if s["name"] == name]
        out[metric] = (median(vals), unit)
    return out


def unmeasured_layers(rec):
    """The span metrics bi_serve's replay should have measured but has no
    spans for; reported as 0, they flag the run as incorrect."""
    if rec["workload"] != "bi_serve":
        return []
    names = {s["name"] for s in rec["spans"]}
    return [m for m, (name, _) in SPANS.items() if name not in names]


def op_layers(rec, ops):
    med = _per_kind_median_s(ops)
    out = {}
    for fam, qs in {**ANALYTICS, **CORPUS}.items():
        out[f"ops.{fam}_s"] = (sum(med.get(q, 0.0) for q in qs), "s")
    pr = rec["probe"]
    for t in TARGETS:
        name = next((k for k in med if k.split("_")[0] == t), None)
        runs = [o for o in ops if o["kind"] == name]
        jobs = sum(1 for j in pr["jobs"] for o in runs
                   if o["t0"] <= j["start_ms"] * 10**6 < o["t1"])
        out[f"{t}.med_s"] = (med.get(name, 0.0), "s")
        out[f"{t}.jobs"] = (jobs / max(len(runs), 1), "count")
    return out


def per_layer(rec):
    traced = _ok(rec, "traced")
    untraced = _ok(rec, "timed")
    out = latency(rec)
    out.update(spark_layers(rec, traced))
    out.update(serve_layers(rec))
    out.update(op_layers(rec, traced))
    mean = lambda ops: statistics.fmean([_ms(o) for o in ops]) if ops else 0.0
    out["trace.overhead_frac"] = (mean(traced) / max(mean(untraced), 1e-9) - 1, "ratio")
    check = [o for o in rec["ops"] if o["window"] == "check"]
    out["setup.check_pass_s"] = (
        (max(o["t1"] for o in check) - min(o["t0"] for o in check)) / 1e9 if check else 0.0, "s")
    out["setup.to_first_op_s"] = (rec["first_op_s"], "s")
    return out
