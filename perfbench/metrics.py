"""Metric arithmetic for the benchmark: percentiles, interval coverage,
self time, and the derivation of every end-to-end and per-layer metric
from the harness's raw result file."""
import math
import statistics

MODULES = ("Transforms", "Aggregates", "Relational", "AsOf", "TimeOps",
           "Features", "Sampling", "NearDup", "TextSim", "Ann", "Cluster",
           "Multimodal")
ERAS = ("basic2016", "validated2018", "parallel2020", "quality2022")
MB = 1024.0 * 1024.0


def percentile(values, q):
    """Harrell-Davis estimate of the q-th percentile (0 < q < 100): the
    mean of the sorted values weighted by a Beta((n+1)p, (n+1)(1-p))
    distribution. Every sample carries weight, so the estimate does not
    jump when the middle rank moves between two groups of calls with
    different latencies, as a single order statistic does on 20-odd
    samples."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n, p = len(xs), q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def beta_cdf(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz), on the side of x where it converges fast."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - beta_cdf(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x)) / a
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-14:
            break
    return front * (f - 1.0)


def median(values):
    return statistics.median(values) if values else 0.0


def covered(intervals, start, end):
    """Length of [start, end] covered by the union of the intervals."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if min(b, end) > max(a, start))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part its children's union covers}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def core_busy(task_run_s, wall_s, cores):
    """Share of the cores' time spent running tasks during a pass."""
    return task_run_s / (wall_s * cores) if wall_s > 0 else 0.0


def end_to_end(raw, launch):
    """End-to-end metrics from an untraced run. Set-up runs from the
    harness's launch (epoch seconds) to the start of the timed window;
    query latency pools the query calls only, not the eras."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    calls = [c for c in raw["calls"] if c["pass"] >= 0 and not c["traced"]
             and c["name"] not in ERAS]
    lat = [c["build_s"] + c["plan_s"] + c["exec_s"] for c in calls]
    return {
        "setup_s": (raw["window_start"] - launch, "s"),
        "wall_s": (median([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": (percentile(lat, 50), "s"),
        "query_p90_s": (percentile(lat, 90), "s"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
    }, {"latency_samples": len(lat), "passes": len(passes)}


def _span_index(raw):
    """call span id -> (pass, call name)."""
    return {str(s["id"]): (s["attrs"]["pass"], s["name"])
            for s in raw["spans"] if s["kind"] == "call"}


def per_layer(raw, modules_of, stream_info=None):
    """Per-layer metrics from a traced run: every metric of every layer,
    each a median over the traced passes; 0 for a layer the workload does
    not exercise."""
    cores = raw["cores"]
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    tpasses = [p["pass"] for p in traced]
    calls = [c for c in raw["calls"] if c["pass"] in tpasses]
    idx = _span_index(raw)
    out = {}

    def per_pass(fn):
        return median([fn(p) for p in tpasses])

    # ops modules: build / plan / execute time and jobs started in build
    jobs_by_call = {}
    for j in raw["jobs"]:
        key, _, phase = j["span"].partition(":")
        if key in idx:
            jobs_by_call.setdefault((idx[key], phase), []).append(j)
    for m in MODULES:
        mine = [c for c in calls if modules_of.get(c["name"]) == m]
        out[f"{m}.build_s"] = (per_pass(lambda p: sum(
            c["build_s"] for c in mine if c["pass"] == p)), "s")
        out[f"{m}.build_jobs"] = (per_pass(lambda p: sum(
            len(jobs_by_call.get(((p, c["name"]), "build"), ()))
            for c in mine if c["pass"] == p)), "count")
        out[f"{m}.plan_s"] = (per_pass(lambda p: sum(
            c["plan_s"] for c in mine if c["pass"] == p)), "s")
        out[f"{m}.exec_s"] = (per_pass(lambda p: sum(
            c["exec_s"] for c in mine if c["pass"] == p)), "s")

    # Spark execution layer, per traced pass
    stages_by_pass = {p: [] for p in tpasses}
    for s in raw["stages"]:
        key, _, _ = s["span"].partition(":")
        if key in idx and idx[key][0] in stages_by_pass:
            stages_by_pass[idx[key][0]].append(s)
    jobs_by_pass = {p: 0 for p in tpasses}
    for j in raw["jobs"]:
        key, _, _ = j["span"].partition(":")
        if key in idx and idx[key][0] in jobs_by_pass:
            jobs_by_pass[idx[key][0]] += 1
    wall = {p["pass"]: p["wall_s"] for p in traced}
    exec_spans = {}
    for s in raw["spans"]:
        if s["kind"] == "execute" and str(s["parent"]) in idx:
            exec_spans.setdefault(idx[str(s["parent"])][0], []).append(s)

    def stage_sum(field, scale=1.0):
        return per_pass(lambda p: sum(s[field] for s in stages_by_pass[p]) / scale)

    def driver_gap(p):
        iv = [(s["submit"], s["complete"]) for s in stages_by_pass[p]]
        return sum((e["end"] - e["start"]) - covered(iv, e["start"], e["end"])
                   for e in exec_spans.get(p, ()))

    out["spark.jobs"] = (per_pass(lambda p: jobs_by_pass[p]), "count")
    out["spark.stages"] = (per_pass(lambda p: len(stages_by_pass[p])), "count")
    out["spark.tasks"] = (stage_sum("tasks"), "count")
    out["spark.task_run_s"] = (stage_sum("run_s"), "s")
    out["spark.task_cpu_s"] = (stage_sum("cpu_s"), "s")
    out["spark.gc_s"] = (stage_sum("gc_s"), "s")
    out["spark.sched_delay_s"] = (stage_sum("sched_delay_s"), "s")
    out["spark.shuffle_write_mb"] = (stage_sum("shuffle_write_b", MB), "MB")
    out["spark.shuffle_read_mb"] = (stage_sum("shuffle_read_b", MB), "MB")
    out["spark.spill_mb"] = (stage_sum("spill_b", MB), "MB")
    out["spark.input_mb"] = (stage_sum("input_b", MB), "MB")
    out["spark.core_busy"] = (per_pass(lambda p: core_busy(
        sum(s["run_s"] for s in stages_by_pass[p]), wall[p], cores)), "ratio")
    out["spark.single_task_stage_s"] = (per_pass(lambda p: sum(
        s["complete"] - s["submit"] for s in stages_by_pass[p]
        if s["num_tasks"] == 1)), "s")
    out["spark.driver_gap_s"] = (per_pass(driver_gap), "s")

    # ingest: eras, sink, stream
    for era in ERAS:
        out[f"Pipelines.{era}_s"] = (per_pass(lambda p: sum(
            c["exec_s"] for c in calls if c["pass"] == p and c["name"] == era)), "s")
    era_s = sum(out[f"Pipelines.{e}_s"][0] for e in ERAS)
    rows = (stream_info or {}).get("users_rows", 0)
    out["Pipelines.rows_per_s"] = (4 * rows / era_s if era_s > 0 else 0.0, "rows/s")
    has_eras = any(c["name"] in ERAS for c in calls)
    out["sink.files"] = (median([p["sink_files"] for p in traced]) if has_eras else 0, "count")
    out["sink.mb"] = (median([p["sink_bytes"] / MB for p in traced]) if has_eras else 0.0, "MB")
    out.update(stream_metrics(stream_info))

    # the trace itself: pass and call self time, and its overhead
    selfs = self_times(raw["spans"])
    out["trace.pass_self_s"] = (median([selfs[s["id"]] for s in raw["spans"]
                                        if s["kind"] == "pass"
                                        and s["attrs"].get("traced")]), "s")
    out["trace.call_self_s"] = (per_pass(lambda p: sum(
        selfs[int(k)] for k, (cp, _) in idx.items() if cp == p)), "s")
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                               - median([p["wall_s"] for p in untraced]), "s")
    return out


STREAM_METRICS = ("stream.batches", "stream.batch_p50_s",
                  "stream.rows_per_batch_p50", "stream.add_batch_s",
                  "stream.offsets_s", "stream.commit_s", "stream.planning_s",
                  "stream.lag_p50_s", "stream.lag_p90_s",
                  "stream.dropper_late_s")
STREAM_UNITS = {"stream.batches": "count", "stream.rows_per_batch_p50": "rows"}


def stream_metrics(info):
    """Micro-batch metrics of the streaming era (medians per batch), and
    the lag from each file's scheduled arrival to the commit of the batch
    that consumed it. Zero when the workload runs no stream."""
    if not info or not info.get("batches"):
        return {m: (0, STREAM_UNITS.get(m, "s")) for m in STREAM_METRICS}
    b = [x for x in info["batches"] if x["rows"] > 0]
    d = lambda k: median([x["durations"].get(k, 0) / 1e3 for x in b])
    lags = info["lags"]
    return {
        "stream.batches": (len(b), "count"),
        "stream.batch_p50_s": (d("triggerExecution"), "s"),
        "stream.rows_per_batch_p50": (median([x["rows"] for x in b]), "rows"),
        "stream.add_batch_s": (d("addBatch"), "s"),
        "stream.offsets_s": (median([(x["durations"].get("latestOffset", 0)
                                      + x["durations"].get("getBatch", 0)) / 1e3
                                     for x in b]), "s"),
        "stream.commit_s": (median([(x["durations"].get("walCommit", 0)
                                     + x["durations"].get("commitOffsets", 0)) / 1e3
                                    for x in b]), "s"),
        "stream.planning_s": (d("queryPlanning"), "s"),
        "stream.lag_p50_s": (percentile(lags, 50), "s"),
        "stream.lag_p90_s": (percentile(lags, 90), "s"),
        "stream.dropper_late_s": (info["dropper_late_max_s"], "s"),
    }


def fmt(metrics):
    """{name: (value, unit)} -> the result line's metrics object."""
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
