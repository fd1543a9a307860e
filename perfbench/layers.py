"""Per-layer metrics of a traced run.

In a traced run the harness keeps its own SparkListener attached and
records every op's spans (parse, plan, action, Catalyst phases). Jobs reach their op through the `graftbench.op`
local property (stream micro-batches through their case and trigger
window), stages through their job. Every metric is a median over traced
ops unless it says otherwise.
"""
import stats

MB = 1048576.0

UNITS = {
    "emf.parse.ms": "ms", "emf.plan.ms": "ms", "emf.plan.jobs": "count",
    "emf.plan.persisted": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "physical.exchanges": "count", "physical.joins": "count",
    "physical.nl_joins": "count", "physical.hash_aggs": "count",
    "physical.windows": "count", "physical.cache_scans": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_ms": "ms", "exec.gc_ms": "ms", "exec.task_spread": "ratio",
    "exec.input_mb": "MiB", "exec.shuffle_write_mb": "MiB",
    "exec.shuffle_read_mb": "MiB", "exec.spill_mb": "MiB",
    "exec.driver_gap_ms": "ms",
    "memo.build_s": "s", "memo.cached_mb": "MiB",
    "emf.stream.add_batch_ms": "ms", "emf.stream.query_planning_ms": "ms",
    "emf.stream.wal_commit_ms": "ms", "emf.stream.state_commit_ms": "ms",
    "emf.stream.state_update_ms": "ms", "emf.stream.state_rows": "count",
    "emf.stream.rows_updated": "count", "emf.stream.snapshot_ms": "ms",
    "self.op_pct": "%", "self.parse_pct": "%", "self.plan_pct": "%",
    "self.catalyst_pct": "%", "self.action_pct": "%", "self.job_pct": "%",
    "self.stage_pct": "%",
    "trace.latency_p50_s": "s",
}
# surface: per provider module, the sum of its entries' walls in a pass
MODULES = ("emf", "operators", "functions", "dedup", "ann", "text", "pipeline",
           "sketch", "streaming", "multimodal", "plans", "shared")
UNITS.update({f"surface.{m}_s": "s" for m in MODULES})
UNITS["surface.total_s"] = "s"
SELF_LAYERS = ("op", "parse", "plan", "catalyst", "action", "job", "stage")


def _within(t, span):
    return span is not None and span[0] <= t <= span[1]


def op_jobs(op, jobs):
    if op["kind"] == "micro":
        tag = f"case{op['case']}"
        return [j for j in jobs if j["op"] == tag and _within(j["t0"], (op["t0"], op["t1"]))]
    return [j for j in jobs if j["op"] == str(op["id"])]


def op_spans(op, jobs, stages_by_job):
    """Span tree of one op: id -> (layer, start, end, parent)."""
    spans = {"op": ("op", op["t0"], op["t1"], None)}
    for k in ("parse", "plan", "action"):
        if k in op:
            spans[k] = (k, op[k][0], op[k][1], "op")

    def parent_of(t):
        return next((k for k in ("plan", "action") if _within(t, op.get(k))), "op")
    for name, (a, b) in op.get("catalyst", {}).items():
        spans[f"catalyst.{name}"] = ("catalyst", a, b, parent_of(a))
    for j in jobs:
        spans[f"job{j['id']}"] = ("job", j["t0"], j["t1"], parent_of(j["t0"]))
        for s in stages_by_job.get(j["id"], []):
            spans[f"stage{s['id']}"] = ("stage", s["t0"], s["t1"], f"job{j['id']}")
    return spans


def per_layer(res):
    jobs = res.get("jobs", [])
    stages_by_job = {}
    for s in res.get("stages", []):
        stages_by_job.setdefault(s["job"], []).append(s)
    ok = [o for o in res["ops"] if "err" not in o]
    lat_kinds = ("query", "micro", "entry")
    traced = [o for o in ok if o["kind"] in lat_kinds]
    cases = [c for c in res.get("cases", []) if c["case"] >= 0]

    samples = {k: [] for k in UNITS}
    self_total = {k: 0.0 for k in SELF_LAYERS}
    for o in traced:
        oj = op_jobs(o, jobs)
        ost = [s for j in oj for s in stages_by_job.get(j["id"], [])]
        if "parse" in o:
            samples["emf.parse.ms"].append(o["parse"][1] - o["parse"][0])
        if o["kind"] == "query":  # EmfPlanner.plan; a surface entry's
            # plan span is the making of its frame, which is not EMF
            samples["emf.plan.ms"].append(o["plan"][1] - o["plan"][0])
            samples["emf.plan.jobs"].append(
                sum(1 for j in oj if _within(j["t0"], o["plan"])))
            samples["emf.plan.persisted"].append(o.get("plan_persisted", 0))
        for ph in ("analysis", "optimization", "planning"):
            if "catalyst" in o:
                a, b = o["catalyst"].get(ph, (0, 0))
                samples[f"catalyst.{ph}_ms"].append(b - a)
        for k, v in o.get("physical", {}).items():
            samples[f"physical.{k}"].append(v)
        samples["exec.jobs"].append(len(oj))
        samples["exec.stages"].append(len(ost))
        samples["exec.tasks"].append(sum(s["tasks"] for s in ost))
        samples["exec.task_ms"].append(sum(s["task_ms"] for s in ost))
        samples["exec.gc_ms"].append(sum(s["gc_ms"] for s in ost))
        spreads = [s["max_task_ms"] / max(s["median_task_ms"], 1)
                   for s in ost if s["tasks"] >= 2]
        samples["exec.task_spread"].append(max(spreads) if spreads else 1.0)
        for k in ("input", "shuffle_write", "shuffle_read", "spill"):
            samples[f"exec.{k}_mb"].append(sum(s[f"{k}_b"] for s in ost) / MB)
        action = o.get("action", (o["t0"], o["t1"]))
        samples["exec.driver_gap_ms"].append(
            stats.driver_gap(action, [(j["t0"], j["t1"]) for j in oj]))
        if o["kind"] == "micro":
            d = o["duration_ms"]
            samples["emf.stream.add_batch_ms"].append(d.get("addBatch", 0))
            samples["emf.stream.query_planning_ms"].append(d.get("queryPlanning", 0))
            samples["emf.stream.wal_commit_ms"].append(d.get("walCommit", 0))
            for k in ("state_commit_ms", "state_update_ms", "state_rows", "rows_updated"):
                samples[f"emf.stream.{k}"].append(o[k])
        for layer, t in stats.self_times(op_spans(o, oj, stages_by_job)).items():
            self_total[layer] += t
    for c in cases:
        if "plan" in c:
            samples["emf.plan.ms"].append(c["plan"][1] - c["plan"][0])
        if "snapshot_ms" in c:
            samples["emf.stream.snapshot_ms"].append(c["snapshot_ms"])
    if res["workload"] == "adhoc":
        samples["memo.build_s"] = [s["setup_s"] for s in res["setups"]]
        samples["memo.cached_mb"] = [s["storage_mb"] for s in res["setups"]]
    elif res["workload"] == "surface":
        builds = [o for o in ok if o["kind"] == "shared"]
        samples["memo.build_s"] = [o["wall_s"] for o in builds]
        samples["memo.cached_mb"] = [o["held_mb"] for o in builds]
        passes = {}
        for o in ok:
            passes.setdefault(o["pass"], []).append(o)
        for ps in passes.values():
            for m in MODULES:
                samples[f"surface.{m}_s"].append(
                    sum(o["wall_s"] for o in ps if o["module"] == m))
            samples["surface.total_s"].append(sum(o["wall_s"] for o in ps))

    metrics = {k: float(stats.median(v)) for k, v in samples.items()}
    total = sum(self_total.values()) or 1.0
    shares = {k: 100.0 * v / total for k, v in self_total.items()}
    for k in SELF_LAYERS:
        metrics[f"self.{k}_pct"] = shares[k]
    # the traced run's own median; minus the untraced run's latency_p50_s
    # on the same seed, it is the tracing overhead
    metrics["trace.latency_p50_s"] = stats.median([o["wall_s"] for o in traced])
    summary = {
        "where_the_time_goes_pct": {k: round(v, 2) for k, v in shares.items()},
        "traced_ops": len(traced),
    }
    return metrics, UNITS, summary
