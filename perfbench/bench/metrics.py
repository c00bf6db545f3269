"""Turn one raw run record (written by the benchmark JVM) into the result
line: every end-to-end metric for an untraced run, every per-layer metric
for a traced one, plus the correctness verdict and error accounting."""
from . import stats

# Rag and ServeAll are left out: every row of theirs awaits the replay
# fan-out, which no timed pass runs (see README).
FAMILIES = ["Reference", "Analytics", "Text", "Dedup", "Similarity", "Multimodal",
            "SqlSurface", "Pipeline", "Cdc"]
# Span names of the schema_build layer probe (SchemaBuild.layeredBuild).
PROBE_LAYERS = ["config.load", "catalog.scan", "model.build", "sources.load",
                "generate.views", "generate.render", "generate.yaml", "engine.build"]
COUNTERS = [("exec.jobs", "jobs", "count"), ("exec.stages", "stages", "count"),
            ("exec.tasks", "tasks", "count"), ("exec.task_run_s", "task_run_s", "s"),
            ("exec.task_cpu_s", "task_cpu_s", "s"), ("exec.gc_s", "gc_s", "s"),
            ("exec.input_mb", "input_mb", "MB"),
            ("shuffle.read_mb", "shuffle_read_mb", "MB"),
            ("shuffle.write_mb", "shuffle_write_mb", "MB")]
# An op's layer spans (and the probe's engine.build span's) must cover its
# wall time up to this share (or up to LAYER_GAP_FLOOR_S for very short
# spans, where span bookkeeping dominates).
LAYER_GAP_TOLERANCE = 0.05
LAYER_GAP_FLOOR_S = 0.025


def end_to_end(rec):
    passes = rec["passes"]
    warm = passes[1:]
    warm_ops = [o["wall_s"] for o in rec["ops"] if o["pass"] >= 1 and o["status"] == "ok"] or [0.0]
    return {
        "setup_s": rec["setup"]["total_s"],
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": stats.median([p["wall_s"] for p in warm]),
        "op_p50_s": stats.median(warm_ops),
        "cpu_s": stats.median([p["cpu_s"] for p in warm]),
    }


def probe_layers(spans, selfs):
    """Per-layer metrics of the schema_build layer probes (op ids below -1):
    each layer's total time in one probe, the build's self time and the
    jobs schema inference ran, as medians over the probes."""
    probes = {}
    for s in spans:
        if s["op"] < -1 and s["name"] in PROBE_LAYERS:
            p = probes.setdefault(s["op"], {})
            key = s["name"] + "_s"
            p[key] = p.get(key, 0.0) + s["end_s"] - s["start_s"]
            if s["name"] == "engine.build":
                p["engine.self_s"] = selfs[s["id"]]
            if s["name"] == "sources.load":
                p["sources.jobs"] = p.get("sources.jobs", 0.0) + s["counters"].get("jobs", 0.0)
    keys = [n + "_s" for n in PROBE_LAYERS] + ["engine.self_s", "sources.jobs"]
    return {k: (stats.median([p.get(k, 0.0) for p in probes.values()]) if probes else 0.0)
            for k in keys}


def per_layer(rec, cores):
    out = {}
    setup = rec["setup"]
    for k in ("session_s", "machinery_s"):
        out[f"setup.{k}"] = float(setup.get(k, 0.0))
    catalog = rec.get("catalog", {})
    out["catalog.tables"] = float(catalog.get("tables", 0))
    out["catalog.columns"] = float(catalog.get("columns", 0))

    spans = rec.get("spans", [])
    selfs = stats.self_times(spans)
    out.update(probe_layers(spans, selfs))
    warm_passes = sorted({o["pass"] for o in rec["ops"] if o["pass"] >= 1}) or [0]
    n = len(warm_passes)
    warm_op_ids = {s["op"] for s in spans if s["name"] == "op" and
                   _op_pass(rec, s["op"]) in warm_passes}

    def per_pass(name, field=None):
        total = 0.0
        for s in spans:
            if s["name"] == name and s["op"] in warm_op_ids:
                total += (s["counters"].get(field, 0.0) if field else s["end_s"] - s["start_s"])
        return total / n

    out["queries.construct_s"] = per_pass("construct")
    out["plan.analyze_s"] = per_pass("plan.analyze")
    out["plan.optimize_s"] = per_pass("plan.optimize")
    out["plan.physical_s"] = per_pass("plan.physical")
    out["op.self_s"] = sum(selfs[s["id"]] for s in spans
                           if s["name"] == "op" and s["op"] in warm_op_ids) / n
    fam = {f: 0.0 for f in FAMILIES}
    for o in rec["ops"]:
        if o["pass"] in warm_passes and o["family"] in fam:
            fam[o["family"]] += o["wall_s"]
    for f in FAMILIES:
        out[f"family.{f}.pass_s"] = fam[f] / n
    out["exec.wall_s"] = per_pass("op")
    for metric, field, _ in COUNTERS:
        out[metric] = per_pass("op", field)
    out["exec.slot_util"] = (out["exec.task_run_s"] / (out["exec.wall_s"] * cores)
                             if out["exec.wall_s"] > 0 else 0.0)
    out["functions.interpreted_exprs"] = float(sum(rec.get("interpreted_exprs", {}).values()))
    cps = rec["checkpoints"]
    live = [c for c in cps if c["at"] != "teardown"]
    out["storage.cached_rdds"] = float(max(c["rdds"] for c in live))
    out["storage.cached_mb"] = float(max(c["mb"] for c in live))
    out["storage.leaked_rdds"] = float(len(rec.get("leaked", [])))
    out["jvm.peak_heap_mb"] = float(rec.get("peak_heap_mb", 0.0))
    out["host.steal_share"] = float(rec.get("steal_share", 0.0))

    traced = [p["wall_s"] for p in rec["passes"] if p["traced"]][1:]
    quiet = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
    out["trace.overhead_s"] = (stats.median(traced) - stats.median(quiet)
                               if traced and quiet else 0.0)
    out["trace.layer_gap"] = stats.layer_gap(spans)
    out["ops.samples"] = float(sum(1 for o in rec["ops"]
                                   if o["pass"] in warm_passes and o["status"] == "ok"))
    return out


def _op_pass(rec, op_id):
    if 0 <= op_id < len(rec["ops"]):
        return rec["ops"][op_id]["pass"]
    return -1


UNITS = {"catalog.tables": "count", "catalog.columns": "count", "sources.jobs": "count",
         "exec.slot_util": "fraction",
         "functions.interpreted_exprs": "count", "storage.cached_rdds": "count",
         "storage.cached_mb": "MB", "jvm.peak_heap_mb": "MB", "storage.leaked_rdds": "count",
         "trace.layer_gap": "fraction", "host.steal_share": "fraction", "ops.samples": "count"}
UNITS.update({m: u for m, _, u in COUNTERS})


def unit_of(name):
    return UNITS.get(name, "s")


def summarize(rec, checks, traced, cores, recorded=None):
    """Returns (result line dict, named failures). Op digests are checked
    against ``recorded`` reference digests when given, else against the
    run's own first successful digest per row."""
    refs = dict(stats.reference_digests(rec["ops"]), **(recorded or {}))
    attempted, failed, failures = stats.account_errors(
        rec["ops"], rec["setup"].get("wedged", []), refs)
    failures += [f"check {c['name']}: {c['detail']}" for c in checks if c["status"] == "fail"]
    if traced:
        values = per_layer(rec, cores)
        worst = _worst_gap(rec.get("spans", []))
        if worst is not None:
            failures.append(f"check layer_sum: {worst}")
    else:
        values = end_to_end(rec)
    metrics = {k: {"value": v, "unit": unit_of(k) if traced else "s"} for k, v in values.items()}
    return {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": metrics}, failures


def _worst_gap(spans):
    """Names the first covered span (see stats.COVERED) whose layer spans
    miss more of its wall time than the stated tolerance, or None."""
    selfs = stats.self_times(spans)
    for s in spans:
        dur = s["end_s"] - s["start_s"]
        if s["name"] in stats.COVERED and \
                selfs[s["id"]] > max(LAYER_GAP_TOLERANCE * dur, LAYER_GAP_FLOOR_S):
            return (f"{s['name']} of op {s['op']}: layers cover "
                    f"{dur - selfs[s['id']]:.4f} s of {dur:.4f} s")
    return None
