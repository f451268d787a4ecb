"""Per-layer metrics from a traced run.

The harness records spans around each call it makes into the engine, and
its listeners record every SQL execution, job, stage and planned query
(``trace.jsonl``). This module attributes each Spark job to the engine
module whose code submitted it and sums time, CPU, GC, shuffle and spill per
layer. A layer is a package under ``src/main/scala/graft/`` (``ops``,
``io``, ``pipeline``, ...); a module is one file in it (``ops.Quality``).

Attribution of a job, first rule that applies:

1. the innermost ``graft.*`` frame of the job's call site (the long form;
   the short form ``head at Quality.scala:55`` when the long one has none);
2. the innermost ``graft.*`` frame of the call site of the job's SQL
   execution (adaptive query stages run on a pool thread whose own stack
   holds no engine frame);
3. the module the harness named on the span the job ran in (for example
   the registry module that built a query whose plan a ``noop`` write
   executes);
4. ``spark-internal``.

Every metric is reported per timed iteration (one EP1 month or one pass
over the query mix).
"""

import json
import os
import re

import stats

# The engine packages whose code can submit Spark jobs on the benchmark's
# workloads. ``streaming`` submits jobs only in micro-batch mode, which no
# workload runs, and ``expressions`` holds Catalyst expressions, which never
# submit a job; both are left out.
LAYERS = ["engine", "io", "model", "ops", "pipeline", "queries", "spark-internal"]
EP1_STAGES = ["quality_metrics", "sample_load", "supplier_stats", "bucket_stats",
              "quality_csv", "stage_metrics", "reports"]

# metric -> unit, in report order
PER_LAYER_UNITS = {
    "engine.session_start_s": "s",
    "engine.peak_rss_mb": "MB",
    "engine.plan_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.task_wait_s": "s",
    "engine.driver_gap_s": "s",
    "io.scan_rows": "count",
    "io.scan_bytes": "bytes",
    "io.sink_s": "s",
    "io.sink_bytes": "bytes",
    "io.sink_files": "count",
    "ops.Quality.s": "s",
    "ops.Cleaning.s": "s",
    "ops.Dedup.s": "s",
    "ops.Dedup.checkpoint_jobs": "count",
    "ops.Graph.s": "s",
    "pipeline.self_s": "s",
    **{f"pipeline.ep1.{s}_s": "s" for s in EP1_STAGES},
    "queries.build_s": "s",
    "bench.self_s": "s",
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in
       (("s", "s"), ("job_count", "count"), ("cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))},
    "setup.warmup_s": "s",
    "setup.warmup_jobs": "count",
    "setup.warmup_driver_gap_s": "s",
    "trace.iterations": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_jobs": "count",
}

_FRAME = re.compile(r"(graft\.[\w$.]+?)\.[\w$<>]+\((\w+)\.scala:\d+\)")
_SHORT = re.compile(r" at (\w+)\.scala:\d+")


def file_modules(root):
    """``{"Quality.scala": "ops.Quality", ...}`` for every engine source
    file whose name is unique across the engine's packages."""
    base = os.path.join(root, "src", "main", "scala", "graft")
    seen = {}
    for d, _, files in os.walk(base):
        rel = os.path.relpath(d, base)
        for f in files:
            if f.endswith(".scala"):
                pkg = "graft" if rel == "." else rel.replace(os.sep, ".")
                seen.setdefault(f, []).append(f"{pkg}.{f[:-6]}")
    return {f: mods[0] for f, mods in seen.items() if len(mods) == 1}


def module_of_site(site_long, site_short, modules):
    """The engine module named by a job's call site, or None."""
    for m in _FRAME.finditer(site_long or ""):
        parts = m.group(1).split(".")
        pkg = parts[1] if len(parts) > 2 else "graft"
        return f"{pkg}.{m.group(2)}"
    m = _SHORT.search(site_short or "")
    return modules.get(f"{m.group(1)}.scala") if m else None


def layer_of(module):
    return "spark-internal" if module in (None, "spark-internal") else module.split(".")[0]


def load(path):
    """Records of one trace, with job and execution ends merged in."""
    recs = {"span": [], "job": {}, "stage": [], "exec": {}, "plan": []}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            t = r["t"]
            if t == "job":
                recs["job"].setdefault(r["id"], {}).update(r)
            elif t == "job_end":
                recs["job"].setdefault(r["id"], {}).update(end=r["end"], ok=r["ok"])
            elif t == "exec":
                recs["exec"].setdefault(r["id"], {}).update(r)
            elif t == "exec_end":
                recs["exec"].setdefault(r["id"], {}).update(end=r["end"])
            else:
                recs[t].append(r)
    recs["job"] = [j for j in recs["job"].values() if "start" in j and "end" in j]
    recs["exec"] = [e for e in recs["exec"].values() if "start" in e and "end" in e]
    return recs


def attribute(trace, modules):
    """Set ``module`` on every job (rules in the module docstring)."""
    spans = {s["id"]: s for s in trace["span"]}
    by_exec = {str(e["id"]): module_of_site(e.get("site_long"), "", modules) for e in trace["exec"]}
    for j in trace["job"]:
        j["module"] = (module_of_site(j.get("site_long"), j.get("site"), modules)
                       or by_exec.get(j.get("exec")))
        sid = int(j["span"]) if j.get("span") else 0
        while not j["module"] and sid in spans:
            j["module"] = spans[sid].get("module")
            sid = spans[sid]["parent"]
        j["module"] = j["module"] or "spark-internal"
        j["layer"] = layer_of(j["module"])


def union_s(intervals):
    """Length in seconds of the union of (start, end) microsecond pairs."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e6


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_s(span, busy):
    """Span duration minus the part of it covered by ``busy`` intervals."""
    return (span["end"] - span["start"]) / 1e6 - union_s(clip(busy, span["start"], span["end"]))


def window(trace, spans):
    """The records of ``trace`` that start inside one of ``spans``."""
    def inside(t):
        return any(s["start"] <= t <= s["end"] for s in spans)
    jobs = [j for j in trace["job"] if inside(j["start"])]
    stage_job = {sid: j for j in jobs for sid in j.get("stages", [])}
    return {
        "span": [s for s in trace["span"] if inside(s["start"])],
        "job": jobs,
        "stage": [dict(s, job=stage_job[s["id"]]) for s in trace["stage"] if s["id"] in stage_job],
        "exec": [e for e in trace["exec"] if inside(e["start"])],
        "plan": [p for p in trace["plan"]
                 if p["phases"] and inside(min(v[0] for v in p["phases"].values()))],
    }


def busy_intervals(trace):
    return ([(j["start"], j["end"]) for j in trace["job"]]
            + [tuple(p) for r in trace["plan"] for p in r["phases"].values()])


def per_layer(full, res, modules):
    attribute(full, modules)
    all_iters = [s for s in full["span"] if s["name"] == "bench.iteration"]
    warm = [s for s in all_iters if s.get("warmup")]
    iters = [s for s in all_iters if not s.get("warmup")]
    n = max(1, len(iters))
    trace = window(full, iters)
    jobs = trace["job"]
    stages = trace["stage"]
    busy = busy_intervals(trace)

    def jobs_s(pred):
        return union_s([(j["start"], j["end"]) for j in jobs if pred(j)])

    def stage_sum(key, pred=lambda s: True):
        return sum(s[key] for s in stages if pred(s))

    m = {
        "engine.session_start_s": res["session_start_s"],
        "engine.plan_s": sum((e - s) / 1e6 for r in trace["plan"] for s, e in r["phases"].values()),
        "engine.jobs": len(jobs),
        "engine.stages": len(stages),
        "engine.tasks": stage_sum("tasks"),
        "engine.task_wait_s": sum(max(0, s["first_launch"] - s["submit"]) for s in stages) / 1e6,
        "engine.driver_gap_s": sum(self_s(it, busy) for it in iters),
        "io.scan_rows": stage_sum("in_rows"),
        "io.scan_bytes": stage_sum("in_bytes"),
    }
    is_sink = lambda j: j["module"] == "io.Sinks"  # noqa: E731
    sink_stage = lambda s: s["job"] is not None and is_sink(s["job"])  # noqa: E731
    m["io.sink_s"] = jobs_s(is_sink)
    m["io.sink_bytes"] = stage_sum("out_bytes", sink_stage)
    m["io.sink_files"] = stage_sum("out_tasks", sink_stage)
    for mod in ("ops.Quality", "ops.Cleaning", "ops.Dedup", "ops.Graph"):
        m[f"{mod}.s"] = jobs_s(lambda j, mod=mod: j["module"] == mod)
    m["ops.Dedup.checkpoint_jobs"] = sum(
        1 for j in jobs if j["module"] == "ops.Dedup" and "heckpoint" in (j.get("site") or ""))
    own = [s for s in trace["span"] if s["name"].startswith("pipeline.")]
    m["pipeline.self_s"] = sum(self_s(s, busy) for s in own)
    for stage, secs in ep1_stage_seconds(trace).items():
        m[f"pipeline.ep1.{stage}_s"] = secs
    m["queries.build_s"] = sum((s["end"] - s["start"]) / 1e6
                               for s in trace["span"] if s["name"] == "queries.build")
    children = busy + [(s["start"], s["end"]) for s in trace["span"]
                       if s["name"] != "bench.iteration"]
    m["bench.self_s"] = sum(self_s(it, children) for it in iters)
    for layer in LAYERS:
        mine = lambda j, layer=layer: j["layer"] == layer  # noqa: E731
        st = lambda s, layer=layer: s["job"] is not None and s["job"]["layer"] == layer  # noqa: E731
        m[f"{layer}.s"] = jobs_s(mine)
        m[f"{layer}.job_count"] = sum(1 for j in jobs if mine(j))
        m[f"{layer}.cpu_s"] = stage_sum("cpu_ns", st) / 1e9
        m[f"{layer}.gc_s"] = stage_sum("gc_ms", st) / 1e3
        m[f"{layer}.shuffle_bytes"] = stage_sum("shuffle_write", st)
        m[f"{layer}.spill_bytes"] = stage_sum("spill_bytes", st)
    per_iter = {k: v / n for k, v in m.items() if k != "engine.session_start_s"}
    per_iter["engine.session_start_s"] = m["engine.session_start_s"]
    per_iter["engine.peak_rss_mb"] = res["peak_rss_mb"]
    w = window(full, warm)
    per_iter["setup.warmup_s"] = sum((s["end"] - s["start"]) / 1e6 for s in warm)
    per_iter["setup.warmup_jobs"] = len(w["job"])
    per_iter["setup.warmup_driver_gap_s"] = sum(self_s(s, busy_intervals(w)) for s in warm)
    walls = [x["wall_s"] for x in res["traced_iterations"]]
    base = [x["wall_s"] for x in res["iterations"]]
    per_iter["trace.iterations"] = len(iters)
    per_iter["trace.overhead_s"] = (stats.median(walls) - stats.median(base)) if walls and base else 0.0
    per_iter["trace.unattributed_jobs"] = sum(1 for j in jobs if j["layer"] == "spark-internal")
    return {k: per_iter[k] for k in PER_LAYER_UNITS}


def ep1_stage_seconds(trace):
    """EP1 stage times: sink stages by the output path of their SQL
    execution, the quality stage by its module, EP2 by its span."""
    out = dict.fromkeys(EP1_STAGES, 0.0)
    names = {"quality_report": "quality_csv", "pipeline_quality": "quality_csv",
             "_stage_metrics": "stage_metrics", "sample_load": "sample_load",
             "supplier_stats": "supplier_stats", "bucket_stats": "bucket_stats"}
    reports = [(s["start"], s["end"]) for s in trace["span"] if s["name"] == "pipeline.Reports.generate"]
    for e in trace["exec"]:
        leaf = e.get("sink", "").rstrip("/").rsplit("/", 1)[-1]
        if leaf in names:
            out[names[leaf]] += (e["end"] - e["start"]) / 1e6
    out["quality_metrics"] = union_s([(j["start"], j["end"]) for j in trace["job"]
                                      if j.get("module") == "ops.Quality"])
    out["reports"] = union_s(reports)
    return out
