"""Derive the end-to-end and per-layer metrics from one run's raw
records (perfbench/scala/graftbench/Main.scala writes them)."""
import stats

MB = 1024.0 * 1024.0
ANALYSES = ("filt_butter", "filtfilt", "psd_welch", "srs", "rainflow", "resample_cubic",
            "movrms")
FAMILIES = ("tpch", "signal", "kernels", "dedup", "similarity", "text", "media", "stream")
LAYERS = ("harness", "sources", "ops", "datapipe", "streaming", "SparkEntry", "spark")
STREAM_PHASES = {"add_batch_s": "addBatch", "wal_commit_s": "walCommit",
                 "query_planning_s": "queryPlanning", "get_batch_s": "getBatch"}


def ops_of(raw, phase):
    return [o for o in raw["ops"] if o["phase"] == phase]


def phase_of(raw, name):
    return next(p for p in raw["phases"] if p["name"] == name)


class Attribution:
    """Listener records attributed to operations: a job belongs to the
    operation whose job group it carries, else to the operation whose
    wall interval contains its start (streaming jobs run under the
    stream's own group)."""

    def __init__(self, raw):
        c = raw["counters"]
        self.ops = raw["ops"]
        by_group = {f"op-{o['id']}": o["id"] for o in self.ops}
        self.jobs = {}  # op id -> [job]
        for j in c["jobs"]:
            op = by_group.get(j["group"])
            if op is None:
                op = self.op_at(j["start_ms"])
            if op is not None:
                self.jobs.setdefault(op, []).append(j)
        stages = {s["id"]: s for s in c["stages"]}
        self.stages = {}  # op id -> [stage]
        for op, js in self.jobs.items():
            ids = sorted({sid for j in js for sid in j["stages"] if sid in stages})
            self.stages[op] = [stages[i] for i in ids]
        self.sql = {}
        for q in c["sql"]:
            op = self.op_at(q["start_ms"])
            if op is not None:
                self.sql.setdefault(op, []).append(q)

    def op_at(self, t):
        for o in self.ops:
            if o["start_ms"] <= t <= o["end_ms"]:
                return o["id"]
        return None

    def per_op(self, ops, f):
        """Mean over operations of f(op)."""
        return sum(f(o) for o in ops) / len(ops) if ops else 0.0

    def stage_sum(self, op, key):
        return sum(s[key] for s in self.stages.get(op["id"], []))

    def sched_gap_ms(self, op):
        iv = [(j["start_ms"], j["end_ms"]) for j in self.jobs.get(op["id"], []) if j["end_ms"]]
        wall = op["end_ms"] - op["start_ms"]
        return wall - stats.interval_union(iv, op["start_ms"], op["end_ms"])

    def jobs_within(self, span):
        return sum(1 for js in self.jobs.values() for j in js
                   if span["start_ms"] <= j["start_ms"] <= span["end_ms"])


def end_to_end(raw, phase="timed", oracle_failed=()):
    ops = ops_of(raw, phase)
    ph = phase_of(raw, phase)
    wall_s = ph["wall_ms"] / 1e3
    lat = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops]
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in oracle_failed)
    rows = sum(o["rows"] for o in ops)
    if raw["stamp"]["workload"] == "registry_sweep":
        # fixture rows the sweep's scans read
        att = Attribution(raw)
        rows = sum(att.stage_sum(o, "records_read") for o in ops)
    tail, pct, beyond, met = stats.tail(lat)
    return {
        "setup_s": raw["setup"]["setup_s"],
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "ops_per_s": len(ops) / wall_s,
        "rows_per_s": rows / wall_s,
        "cpu_s_per_op": ph["cpu_s"] / len(ops),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "failed_frac": stats.failed_frac(len(ops), failed),
    }, {"tail_percentile": pct, "tail_beyond": beyond, "tail_rule_met": met,
        "attempted": len(ops), "failed": failed}


def op_summary(raw):
    """[name, phase, seconds, jobs] of every operation, in order."""
    att = Attribution(raw)
    return [[o["name"], o["phase"], round((o["end_ms"] - o["start_ms"]) / 1e3, 4),
             len(att.jobs.get(o["id"], []))] for o in raw["ops"]]


def span_medians(raw, phase):
    """Median duration (s) of each span name over the phase's operations."""
    ids = {o["id"] for o in ops_of(raw, phase)}
    out = {}
    for s in raw["spans"]:
        if s["op"] in ids:
            out.setdefault(s["name"], []).append((s["end_ms"] - s["start_ms"]) / 1e3)
    return {k: stats.median(v) for k, v in out.items()}


def layer_table(raw, phase):
    """Mean self time per operation for each layer, in seconds. A span's
    layer is its name up to the first dot; the operation's own self
    time (wall time outside every span) is the harness row."""
    ops = ops_of(raw, phase)
    spans = {}
    for s in raw["spans"]:
        spans.setdefault(s["op"], []).append(s)
    table = {layer: 0.0 for layer in LAYERS}
    for o in ops:
        ss = spans.get(o["id"], [])
        selfs = stats.self_times(o["end_ms"] - o["start_ms"], ss)
        table["harness"] += selfs[-1]
        for s in ss:
            layer = s["name"].split(".")[0]
            table[layer] = table.get(layer, 0.0) + selfs[s["id"]]
    n = max(len(ops), 1)
    return {k: v / n / 1e3 for k, v in table.items()}


def per_layer(raw, phase="traced"):
    ops = ops_of(raw, phase)
    att = Attribution(raw)
    threads = raw["stamp"]["task_threads"]
    extra = raw["extra"]
    m = {}

    # spark: planning, jobs, scheduling, task compute, data movement
    m["spark.plan_s"] = att.per_op(ops, lambda o: sum(q["plan_ms"] for q in att.sql.get(o["id"], []))) / 1e3
    m["spark.jobs"] = att.per_op(ops, lambda o: len(att.jobs.get(o["id"], [])))
    m["spark.stages"] = att.per_op(ops, lambda o: len(att.stages.get(o["id"], [])))
    m["spark.tasks"] = att.per_op(ops, lambda o: att.stage_sum(o, "tasks"))
    m["spark.sched_gap_s"] = att.per_op(ops, att.sched_gap_ms) / 1e3
    m["spark.task_run_s"] = att.per_op(ops, lambda o: sum(sum(s["run_ms"]) for s in att.stages.get(o["id"], []))) / 1e3
    m["spark.task_cpu_s"] = att.per_op(ops, lambda o: att.stage_sum(o, "cpu_ns")) / 1e9
    m["spark.gc_s"] = att.per_op(ops, lambda o: att.stage_sum(o, "gc_ms")) / 1e3
    skews = [max(s["run_ms"]) / stats.median(s["run_ms"])
             for o in ops for s in att.stages.get(o["id"], [])
             if len(s["run_ms"]) >= 2 and stats.median(s["run_ms"]) > 0]
    m["spark.task_skew"] = stats.median(skews)
    m["spark.shuffle_write_mb"] = att.per_op(ops, lambda o: att.stage_sum(o, "shuffle_write")) / MB
    m["spark.shuffle_read_mb"] = att.per_op(ops, lambda o: att.stage_sum(o, "shuffle_read")) / MB
    m["spark.spill_mb"] = att.per_op(ops, lambda o: att.stage_sum(o, "spill")) / MB

    # sources, ops and dsp (sigproc_channels)
    sp = span_medians(raw, phase)
    m["sources.scan_s"] = sp.get("sources.read", 0.0)
    m["sources.scan_mb_per_s"] = (extra.get("scan_bytes", 0) / MB / m["sources.scan_s"]
                                  if m["sources.scan_s"] else 0.0)
    kernel = {a: stats.median(v) for a, v in extra.get("dsp_kernel_s", {}).items()}
    for a in ANALYSES:
        m[f"ops.{a}_s"] = sp.get(f"ops.{a}", 0.0)
    ops_total = sum(m[f"ops.{a}_s"] for a in ANALYSES)
    dsp_total = sum(kernel.values())
    m["ops.overhead_ratio"] = ops_total / (dsp_total / threads) if dsp_total and ops_total else 0.0
    for a in ANALYSES:
        m[f"dsp.{a}_kernel_s"] = kernel.get(a, 0.0)
    m["dsp.samples"] = extra.get("dsp_samples", 0)

    # datapipe (neardup_corpus)
    for k in ("shingle", "lsh", "verify", "cc"):
        m[f"datapipe.{k}_s"] = sp.get(f"datapipe.{k}", 0.0)
    counts = extra.get("datapipe", [])
    for k in ("candidate_pairs", "verified_pairs", "cc_rounds"):
        m[f"datapipe.{k}"] = stats.median([c[k] for c in counts])
    m["datapipe.verify_yield"] = (m["datapipe.verified_pairs"] / m["datapipe.candidate_pairs"]
                                  if m["datapipe.candidate_pairs"] else 0.0)
    cc_spans = [s for s in raw["spans"] if s["name"] == "datapipe.cc"]
    m["datapipe.cc_jobs"] = stats.median([att.jobs_within(s) for s in cc_spans])

    # streaming: trigger progress of the streams the operations ran
    # (admit_stream's micro-batches, registry_sweep's stream queries)
    progress = [p for p in raw["counters"]["progress"] if p["rows"] > 0
                and att.op_at(p["start_ms"]) in {o["id"] for o in ops}]
    m["streaming.trigger_s"] = stats.median(
        [p["durations"].get("triggerExecution", 0) / 1e3 for p in progress])
    for k, name in STREAM_PHASES.items():
        m[f"streaming.{k}"] = stats.median([p["durations"].get(name, 0) / 1e3 for p in progress])
    state = extra.get("state", [])
    m["streaming.state_rows"] = stats.median([s["state_rows"] for s in state])
    m["streaming.state_mb"] = stats.median([s["state_bytes"] for s in state]) / MB
    m["streaming.written_mb_per_batch"] = (
        att.per_op(ops, lambda o: att.stage_sum(o, "bytes_written")) / MB if state else 0.0)
    m["streaming.compactions"] = stats.median([s["compactions"] for s in state])

    # SparkEntry (registry_sweep): operation time per family, one sweep
    fam = extra.get("families", {})
    by_q = {}
    for o in ops:
        by_q.setdefault(o["name"], []).append((o["end_ms"] - o["start_ms"]) / 1e3)
    for f in FAMILIES:
        m[f"SparkEntry.{f}_s"] = sum(stats.median(v) for q, v in by_q.items() if fam.get(q) == f)
    m["SparkEntry.jobs_per_query"] = m["spark.jobs"] if fam else 0.0

    for layer, v in layer_table(raw, phase).items():
        m[f"layer.{layer}.self_s"] = v

    timed = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops_of(raw, "timed")]
    traced = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops]
    m["trace.overhead_s"] = stats.median(traced) - stats.median(timed)
    m["trace.overhead_ratio"] = m["trace.overhead_s"] / stats.median(timed)
    return m
