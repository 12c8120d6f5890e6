"""Turns one run record (spans, Spark jobs, stream progress, counters)
written by the Scala side into the benchmark's metrics.

All arithmetic lives here so it can be tested without Spark
(see test_metrics.py)."""

import statistics

LAYERS = ["gen", "io", "ops", "stream", "jobs", "ext", "SparkEntry", "Tables"]
ENTRY_QUERIES = ["q184_horizon_dedup", "q193_horizon_parity",
                 "q135_incremental_components", "q215_lsh_band_sweep",
                 "q229_opq_perm_uplift", "q175_containment_blocked",
                 "q102_weighted_median", "q139_mad_outliers",
                 "q17_ngram_jaccard"]
MB = 1048576.0


def timing(values):
    """Median and tail of a timing sample. The tail is the highest
    percentile with at least ten samples beyond it: the eleventh-largest
    sample. Below 20 samples no percentile at or above the median has
    ten beyond it, and the tail is reported as the median."""
    xs = sorted(values)
    n = len(xs)
    med = statistics.median(xs)
    if n < 20:
        return {"p50": med, "tail": med, "tail_pct": 50.0, "n": n}
    return {"p50": med, "tail": xs[n - 11], "tail_pct": 100.0 * (n - 10) / n, "n": n}


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover (ms)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"])
            - covered(kids.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def layer_of_frame(frame):
    """`graft.ops.Serving$.topK(Serving.scala:33)` -> "ops";
    `graft.SparkEntry$.$anonfun...` -> "SparkEntry"."""
    parts = frame.split("(")[0].split(".")
    return parts[1] if len(parts) >= 4 else parts[1].split("$")[0]


def innermost_span(spans, t):
    """The open span that started last before `t`."""
    best = None
    for s in spans:
        if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
            best = s
    return best


def attribute(record):
    """Job id -> (layer, enclosing span id). The layer is that of the
    innermost `graft.*` frame in the job's call site; without one, the
    layer of the enclosing benchmark span. The enclosing span is the one
    named in the job description, else the span that started the job's
    streaming query, else the innermost span open at job start."""
    spans = {s["id"]: s for s in record["spans"]}
    by_query = {}
    for s in record["spans"]:
        if s.get("query_id"):
            by_query[s["query_id"]] = s["id"]
    out = {}
    for j in record["jobs"]:
        sid = None
        desc = j.get("desc") or ""
        if desc.startswith("pb:"):
            sid = int(desc[3:])
        elif j.get("query_id") in by_query:
            sid = by_query[j["query_id"]]
        else:
            s = innermost_span(record["spans"], j["t0"])
            sid = s["id"] if s else None
        if j["frames"]:
            layer = layer_of_frame(j["frames"][0])
        else:
            layer = spans[sid]["layer"] if sid is not None else "bench"
        out[j["id"]] = (layer, sid)
    return out


def ancestors(spans_by_id, sid):
    while sid is not None and sid >= 0:
        yield spans_by_id[sid]
        sid = spans_by_id[sid]["parent"]


def phase(record, name):
    return next(s for s in record["spans"] if s["kind"] == "phase" and s["name"] == name)


def within(span, outer):
    return outer["t0"] <= span["t0"] and span["t1"] <= outer["t1"]


def op_spans(record):
    """Operations of the measured phase, failed ones included: the time
    was spent, and the failure is counted apart."""
    measure = phase(record, "measure")
    return [s for s in record["spans"] if s["kind"] == "op" and within(s, measure)]


def end_to_end(record, spawn_epoch_s):
    """setup_s: process start to the end of set-up. work_s and
    work_cpu_s: median over units of work of the wall time and the JVM's
    CPU time their operations took."""
    wall, cpu = {}, {}
    for s in op_spans(record):
        wall[s["parent"]] = wall.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        cpu[s["parent"]] = cpu.get(s["parent"], 0.0) + s["cpu_ms"]
    return {
        "setup_s": (record["setup_end_epoch_ms"] / 1000.0 - spawn_epoch_s, "s"),
        "work_s": (statistics.median(wall.values()) / 1000.0, "s"),
        "work_cpu_s": (statistics.median(cpu.values()) / 1000.0, "s"),
    }


def job_sum(jobs, key):
    return sum(j[key] for j in jobs)


def per_layer(record):
    """Every per-layer metric of BENCHMARK.json, from a traced record,
    over the measured phase (memo.warm_shared_s: over every warmShared
    call, set-up included). A layer the workload never calls reports
    zeros."""
    cores = record["context"]["default_parallelism"]
    by_id = {s["id"]: s for s in record["spans"]}
    selfs = self_times(record["spans"])
    attr = attribute(record)
    measure = phase(record, "measure")
    spans = [s for s in record["spans"] if within(s, measure)]
    jobs = [j for j in record["jobs"] if measure["t0"] <= j["t0"] <= measure["t1"]]
    out = {}

    def wall(intervals):
        return covered(intervals, min(a for a, _ in intervals), max(b for _, b in intervals)) \
            if intervals else 0.0

    for layer in LAYERS:
        ls = [s for s in spans if s["layer"] == layer]
        lj = [j for j in jobs if attr[j["id"]][0] == layer]
        span_wall = wall([(s["t0"], s["t1"]) for s in ls])
        job_wall = wall([(j["t0"], j.get("t1", j["t0"])) for j in lj])
        w = span_wall if ls else job_wall
        run_ms = job_sum(lj, "run_ms")
        out[layer + ".calls"] = (len(ls), "count")
        out[layer + ".self_s"] = (sum(selfs[s["id"]] for s in ls) / 1000.0, "s")
        out[layer + ".jobs"] = (len(lj), "count")
        out[layer + ".tasks"] = (job_sum(lj, "tasks"), "count")
        out[layer + ".exec_cpu_s"] = (job_sum(lj, "cpu_ns") / 1e9, "s")
        out[layer + ".busy"] = (run_ms / (w * cores) if w else 0.0, "fraction")
        out[layer + ".shuffle_mb"] = ((job_sum(lj, "shuffle_read") + job_sum(lj, "shuffle_write")) / MB, "MB")
        out[layer + ".spill_mb"] = (job_sum(lj, "spill") / MB, "MB")
        out[layer + ".gc_s"] = (job_sum(lj, "gc_ms") / 1000.0, "s")

    ops = op_spans(record)
    op_jobs = [j for j in jobs if any(a["kind"] == "op" for a in ancestors(by_id, attr[j["id"]][1]))]
    out["sched.idle_s"] = ((sum(s["t1"] - s["t0"] for s in ops)
                            - job_sum(op_jobs, "run_ms") / cores) / 1000.0, "s")

    input_bytes = sum(s.get("input_bytes", 0) for s in ops)
    out["io.scan_amplification"] = (job_sum(op_jobs, "input_bytes") / input_bytes
                                    if input_bytes else 0.0, "ratio")
    out["io.bytes_written"] = (record["facts"].get("bytes_written", 0), "bytes")
    out["io.files_written"] = (record["facts"].get("files_written", 0), "count")

    prog = [p for p in record["stream"]
            if measure["t0"] <= p["t"] <= measure["t1"] and p["rows"] > 0]

    def dur(key):
        xs = [p["duration_ms"].get(key, 0) for p in prog]
        return statistics.median(xs) if xs else 0.0
    out["stream.add_batch_ms"] = (dur("addBatch"), "ms")
    out["stream.planning_ms"] = (dur("queryPlanning"), "ms")
    out["stream.wal_commit_ms"] = (dur("walCommit"), "ms")
    out["stream.state_rows"] = (max([p["state_rows"] for p in prog], default=0), "count")
    out["stream.state_mb"] = (max([p["state_bytes"] for p in prog], default=0) / MB, "MB")
    out["stream.dropped_by_watermark"] = (sum(p["dropped_by_watermark"] for p in record["stream"]),
                                          "count")

    serving = [s for s in spans if s["layer"] == "ops" and s["name"].startswith("Serving.")]
    sjobs = {}
    for j in jobs:
        sid = attr[j["id"]][1]
        for a in ancestors(by_id, sid):
            if a in serving:
                sjobs.setdefault(a["id"], []).append(j)
                break
    out["ops.Serving.jobs_per_query"] = (
        sum(len(v) for v in sjobs.values()) / len(serving) if serving else 0.0, "count")
    plan = [min(j["t0"] for j in sjobs[s["id"]]) - s["t0"] for s in serving if s["id"] in sjobs]
    out["ops.Serving.plan_ms"] = (statistics.median(plan) if plan else 0.0, "ms")

    for q in ENTRY_QUERIES:
        qs = [s for s in spans if s["name"] == q and s["layer"] == "SparkEntry"]
        qj = [j for j in jobs if any(a in qs for a in ancestors(by_id, attr[j["id"]][1]))]
        w = sum(s["t1"] - s["t0"] for s in qs)
        out["SparkEntry.%s.self_s" % q] = (
            statistics.median([selfs[s["id"]] for s in qs]) / 1000.0 if qs else 0.0, "s")
        out["SparkEntry.%s.jobs" % q] = (len(qj) / len(qs) if qs else 0.0, "count")
        out["SparkEntry.%s.busy" % q] = (job_sum(qj, "run_ms") / (w * cores) if w else 0.0,
                                         "fraction")

    warm = [s["t1"] - s["t0"] for s in record["spans"] if s["name"] == "warmShared"]
    out["memo.warm_shared_s"] = (statistics.median(warm) / 1000.0 if warm else 0.0, "s")
    out["storage.mb_after"] = (measure.get("storage_mb", 0.0), "MB")
    return out


def class_busy(record):
    """Per operation class, over the measured phase: `<cls>_busy`, the
    executor run time of the class's jobs ÷ (its operations' wall time ×
    cores), and `<cls>_exec_cpu_s`, their executor CPU time. Needs a
    traced record."""
    cores = record["context"]["default_parallelism"]
    by_id = {s["id"]: s for s in record["spans"]}
    attr = attribute(record)
    ops = op_spans(record)
    out = {}
    for cls in sorted({s["cls"] for s in ops}):
        ids = {s["id"] for s in ops if s["cls"] == cls}
        wall = sum(by_id[i]["t1"] - by_id[i]["t0"] for i in ids)
        cj = [j for j in record["jobs"]
              if any(a["id"] in ids for a in ancestors(by_id, attr[j["id"]][1]))]
        out[cls + "_busy"] = job_sum(cj, "run_ms") / (wall * cores) if wall else 0.0
        out[cls + "_exec_cpu_s"] = job_sum(cj, "cpu_ns") / 1e9
    return out


def named(record):
    """The workload's own figures, reported beside the metrics: the
    failed share and the latency of operations, per shipped job and per
    query class for `retail`, per item class for `ext-heavy`."""
    out = {"failed_frac": record["failed"] / record["attempted"]}
    t = timing([s["t1"] - s["t0"] for s in op_spans(record)])
    out.update({"op_p50_ms": t["p50"], "op_tail_ms": t["tail"], "op_tail_pct": t["tail_pct"],
                "ops": t["n"]})
    measure = phase(record, "measure")
    spans = [s for s in record["spans"] if within(s, measure)]
    facts = record["facts"]
    ops = op_spans(record)

    def med_s(name):
        xs = [s["t1"] - s["t0"] for s in spans if s["name"] == name]
        return statistics.median(xs) / 1000.0 if xs else None
    if record["workload"] == "retail":
        out["batch_rows_per_s"] = facts["tx_per_day"] / med_s("BatchPipeline.run")
        out["stream_events_per_s"] = facts["tx_per_day"] / med_s("StreamingRevenue.drain")
        t = timing(facts["stream_batch_ms"])
        out.update({"stream_batch_p50_ms": t["p50"], "stream_batch_tail_ms": t["tail"],
                    "stream_batch_tail_pct": t["tail_pct"], "stream_batches": t["n"]})
        t = timing([s["t1"] - s["t0"] for s in ops if s["cls"] == "query"])
        out.update({"serve_p50_ms": t["p50"], "serve_tail_ms": t["tail"],
                    "serve_tail_pct": t["tail_pct"], "queries": t["n"]})
        out["etl_s"] = statistics.median(s["t1"] - s["t0"] for s in ops if s["cls"] == "etl") / 1000.0
    else:
        per = {}
        for s in ops:
            per.setdefault(s["cls"], {}).setdefault(s["name"], []).append(s["t1"] - s["t0"])
        for cls, items in per.items():
            out[cls + "_s"] = sum(statistics.median(v) for v in items.values()) / 1000.0
        out["rounds"] = max((len(v) for items in per.values() for v in items.values()), default=0)
    if record["jobs"]:
        out.update(class_busy(record))
    return out
