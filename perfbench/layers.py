"""Per-layer metrics of a traced run.

Reads the spans and Spark listener records one traced benchmark process
wrote (see perfbench/src/main/scala/perfbench/Tracer.scala) and attributes
every job, stage, task, Catalyst phase and streaming trigger to the span
whose job group it ran under. A layer's self time is its spans' duration
minus the part their child spans cover, so per entry the self times of all
layers add up to the entry's traced wall time.

Layers: `parser`, `sparql` (TpchGraph.graph), `exec` (SparqlExecutor
translation) and `build` (a whole entry function) come before execution; `catalyst.analysis`, `catalyst.optimization` and
`catalyst.planning` are the phases Spark's tracker records for the final
write; `execution` is the rest of that write; `entry` is the benchmark's
own glue around them.
"""
import json
import re
import statistics
from collections import defaultdict
from pathlib import Path

PRE_EXEC = ["parser", "sparql", "exec", "build"]
PHASES = ["analysis", "optimization", "planning"]
LAYERS = PRE_EXEC + [f"catalyst.{p}" for p in PHASES] + ["execution", "entry"]
# the tables each workload's entries read: write_amp's denominator
INPUT_TABLES = {
    "kg_ts_query": ["region", "nation", "supplier", "lineitem", "events"],
    "curation_night": ["documents"],
}
CALL_SITE = re.compile(r"^(\w+) at (\w+)\.scala:\d+")
COUNTERS = ["tasks", "task_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes",
            "output_bytes", "output_records"]

# The per-layer metrics the result line carries, in order: (name, unit).
# Every time here is non-zero on every workload; the times of layers that
# a workload bypasses, and Catalyst's analysis phase (whole milliseconds,
# usually 0 for the final write), are in the report only.
METRICS = [
    ("pre_exec.s", "s"), ("build.s", "s"), ("build.jobs", "count"),
    ("parser.calls", "count"), ("sparql.graph_build_jobs", "count"),
    ("exec.translate_jobs", "count"),
    ("sources.schema_inference_jobs", "count"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("execution.s", "s"), ("execution.jobs", "count"),
    ("execution.stages", "count"), ("execution.tasks", "count"),
    ("execution.task_s", "s"), ("execution.busy_frac", "ratio"),
    ("execution.shuffle_read_bytes", "B"),
    ("execution.shuffle_write_bytes", "B"), ("execution.spill_bytes", "B"),
    ("execution.jobs_in_flight_max", "count"), ("sources.input_bytes", "B"),
    ("llm.store_jobs", "count"), ("llm.output_bytes", "B"),
    ("llm.output_records", "count"), ("write_amp", "ratio"),
    ("streaming.triggers", "count"), ("trace.overhead", "ratio"),
]
REPORT_ONLY = [
    ("parser.s", "s"),
    ("sparql.graph_build_s", "s"), ("exec.translate_s", "s"),
    ("catalyst.analysis_s", "s"), ("execution.gc_s", "s"),
    ("llm.store_s", "s"), ("streaming.input_rows", "count"),
    ("streaming.trigger_ms_p50", "ms"), ("streaming.rows_per_s", "1/s"),
]


def modules(root):
    """Source file stem -> module (the directory under graft/)."""
    base = Path(root) / "src" / "main" / "scala" / "graft"
    return {f.stem: (f.parent.name if f.parent != base else "graft")
            for f in base.rglob("*.scala")}


def union_s(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def analyse(spans_path, res, root, workload, data_dir):
    recs = [json.loads(line) for line in open(spans_path)]
    offset = next(r["epoch_ns_minus_nano"] for r in recs
                  if r["kind"] == "clock")
    kinds = defaultdict(list)
    for r in recs:
        kinds[r["kind"]].append(r)
    spans = {s["id"]: dict(s, children=[]) for s in kinds["span"]}
    by_group = {s["group"]: s for s in spans.values()}
    stream_group = {r["run_id"]: r["group"] for r in kinds["stream"]}

    def span_of(group):
        return by_group.get(group) or by_group.get(stream_group.get(group))

    # Catalyst phases of the SQL executions run inside an execution span
    # become that span's children (clipped to it).
    sql_span = {r["execution"]: span_of(r["group"]) for r in kinds["sql"]}
    qe_span = {r["query_execution"]: sql_span.get(r["execution"])
               for r in kinds["sql_end"]}
    next_id = max(spans, default=0) + 1
    for r in kinds["phases"]:
        sp = qe_span.get(r["query_execution"])
        if not sp or sp["layer"] != "execution":
            continue
        for ph in PHASES:
            if ph in r["phases"]:
                s_ms, e_ms = r["phases"][ph]
                start = max(sp["start_ns"], s_ms * 1_000_000 - offset)
                end = min(sp["end_ns"], e_ms * 1_000_000 - offset)
                if end > start:
                    spans[next_id] = dict(sp, id=next_id, parent=sp["id"],
                                          layer=f"catalyst.{ph}",
                                          start_ns=start, end_ns=end,
                                          children=[])
                    next_id += 1
    for s in spans.values():
        if s["parent"] >= 0:
            spans[s["parent"]]["children"].append(s)
    for s in spans.values():
        dur = s["end_ns"] - s["start_ns"]
        covered = union_s([(c["start_ns"], c["end_ns"])
                           for c in s["children"]])
        s["self_s"] = (dur - covered) / 1e9
        s.update(jobs=0, stages=0, **{c: 0 for c in COUNTERS})

    # jobs, stages and tasks, each to the span whose group it ran under
    mod = modules(root)

    def module_of(call_site):
        m = CALL_SITE.match(call_site or "")
        return (m.group(1), mod.get(m.group(2))) if m else (None, None)

    ends = {r["job"]: r["time_ms"] for r in kinds["job_end"]}
    jobs = []
    for r in kinds["job_start"]:
        sp = span_of(r["group"])
        method, module = module_of(r["call_site"])
        job = dict(r, span=sp, method=method, module=module,
                   end_ms=ends.get(r["job"], r["time_ms"]))
        jobs.append(job)
        if sp:
            sp["jobs"] += 1
    stage_span, stage_module = {}, {}
    for r in kinds["stage"]:
        key = (r["stage"], r["attempt"])
        stage_span[key] = span_of(r["group"])
        stage_module[key] = module_of(r["name"])[1]
        if stage_span[key]:
            stage_span[key]["stages"] += 1
    llm_out = defaultdict(int)
    job_of_stage = {st: j["job"] for j in jobs for st in j["stages"]}
    job_out = defaultdict(int)
    for r in kinds["task"]:
        key = (r["stage"], r["attempt"])
        job_out[job_of_stage.get(r["stage"])] += r["output_bytes"]
        sp = stage_span.get(key)
        if sp:
            sp["tasks"] += 1
            sp["task_ms"] += r["run_ms"]
            for c in COUNTERS[2:]:
                sp[c] += r[c]
        if stage_module.get(key) == "llm":
            llm_out["bytes"] += r["output_bytes"]
            llm_out["records"] += r["output_records"]
    triggers = [dict(r, span=span_of(stream_group.get(r["run_id"])))
                for r in kinds["trigger"]]

    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    n = max(1, len(traced))
    slots = res["env"]["task_slots"]

    def layer_sum(layer, key):
        return sum(s[key] for s in spans.values() if s["layer"] == layer)

    def per_pass(x):
        return x / n

    exec_wall = sum(s["end_ns"] - s["start_ns"] for s in spans.values()
                    if s["layer"] == "execution") / 1e9
    in_flight, peak = 0, 0
    for _, step in sorted([(j["time_ms"], 1) for j in jobs] +
                          [(j["end_ms"], -1) for j in jobs]):
        in_flight += step
        peak = max(peak, in_flight)
    input_bytes = sum((Path(data_dir) / f"{t}.parquet").stat().st_size
                      for t in INPUT_TABLES[workload])
    all_out = sum(s["output_bytes"] for s in spans.values())
    trig_ms = [t["trigger_ms"] for t in triggers]
    trig_rows = sum(t["input_rows"] for t in triggers)
    self_s = {ly: layer_sum(ly, "self_s") for ly in LAYERS}
    values = {
        "pre_exec.s": per_pass(sum(self_s[ly] for ly in PRE_EXEC)),
        "build.s": per_pass(self_s["build"]),
        "build.jobs": per_pass(layer_sum("build", "jobs")),
        "parser.calls": per_pass(sum(1 for s in spans.values()
                                     if s["layer"] == "parser")),
        "parser.s": per_pass(self_s["parser"]),
        "sparql.graph_build_s": per_pass(self_s["sparql"]),
        "sparql.graph_build_jobs": per_pass(layer_sum("sparql", "jobs")),
        "exec.translate_s": per_pass(self_s["exec"]),
        "exec.translate_jobs": per_pass(layer_sum("exec", "jobs")),
        # DataFrameReader.parquet's footer-reading job: a one-stage
        # `parquet` job that writes nothing (a parquet write has output)
        "sources.schema_inference_jobs": per_pass(sum(
            1 for j in jobs if j["method"] == "parquet" and
            len(j["stages"]) == 1 and job_out[j["job"]] == 0)),
        **{f"catalyst.{p}_s": per_pass(self_s[f"catalyst.{p}"])
           for p in PHASES},
        "execution.s": per_pass(self_s["execution"]),
        "execution.jobs": per_pass(layer_sum("execution", "jobs")),
        "execution.stages": per_pass(layer_sum("execution", "stages")),
        "execution.tasks": per_pass(layer_sum("execution", "tasks")),
        "execution.task_s": per_pass(layer_sum("execution", "task_ms") / 1e3),
        "execution.busy_frac": (layer_sum("execution", "task_ms") / 1e3 /
                                (slots * exec_wall) if exec_wall else 0.0),
        "execution.gc_s": per_pass(layer_sum("execution", "gc_ms") / 1e3),
        "execution.shuffle_read_bytes": per_pass(
            layer_sum("execution", "shuffle_read_bytes")),
        "execution.shuffle_write_bytes": per_pass(
            layer_sum("execution", "shuffle_write_bytes")),
        "execution.spill_bytes": per_pass(layer_sum("execution",
                                                    "spill_bytes")),
        "execution.jobs_in_flight_max": peak,
        "sources.input_bytes": per_pass(sum(s["input_bytes"]
                                            for s in spans.values())),
        "llm.store_jobs": per_pass(sum(1 for j in jobs
                                       if j["module"] == "llm")),
        "llm.store_s": per_pass(union_s([(j["time_ms"] / 1e3,
                                          j["end_ms"] / 1e3)
                                         for j in jobs
                                         if j["module"] == "llm"])),
        "llm.output_bytes": per_pass(llm_out["bytes"]),
        "llm.output_records": per_pass(llm_out["records"]),
        "write_amp": per_pass(all_out) / input_bytes,
        "streaming.triggers": per_pass(len(triggers)),
        "streaming.input_rows": per_pass(trig_rows),
        "streaming.trigger_ms_p50": (statistics.median(trig_ms)
                                     if trig_ms else 0.0),
        "streaming.rows_per_s": (trig_rows / (sum(trig_ms) / 1e3)
                                 if sum(trig_ms) else 0.0),
        "trace.overhead": (statistics.median(p["wall_s"] for p in traced) /
                           statistics.median(p["wall_s"] for p in untraced)
                           if traced and untraced else float("nan")),
    }
    metrics = {k: (values[k], u, len(traced)) for k, u in METRICS}
    report_only = {k: (values[k], u, len(traced)) for k, u in REPORT_ONLY}
    return {"metrics": metrics, "report_only": report_only,
            "self_s_per_pass": {ly: per_pass(v) for ly, v in self_s.items()},
            "unattributed_jobs": sum(1 for j in jobs if not j["span"]),
            "entries": per_entry(spans),
            "input_table_bytes": input_bytes}


def per_entry(spans):
    """Per entry: median over its traced runs of the wall time and of each
    layer's self time and job count, in ms; `covered` is the share of the
    wall time the layer self times account for."""
    runs = defaultdict(lambda: defaultdict(float))
    entry_of = {}
    for s in spans.values():
        r = runs[s["run"]]
        r[s["layer"] + ".self_ms"] += s["self_s"] * 1e3
        r[s["layer"] + ".jobs"] += s["jobs"]
        if s["layer"] == "entry":
            r["wall_ms"] = (s["end_ns"] - s["start_ns"]) / 1e6
            entry_of[s["run"]] = s["entry"]
    by_entry = defaultdict(list)
    for run, r in runs.items():
        by_entry[entry_of[run]].append(r)
    out = {}
    for name, rs in sorted(by_entry.items()):
        keys = sorted({k for r in rs for k in r})
        row = {k: statistics.median(r.get(k, 0.0) for r in rs) for k in keys}
        self_total = statistics.median(
            sum(v for k, v in r.items() if k.endswith(".self_ms")) for r in rs)
        row["covered"] = self_total / row["wall_ms"] if row["wall_ms"] else 0
        row["runs"] = len(rs)
        out[name] = row
    return out
