"""Per-layer metrics of a traced run, from the harness's listener record
and span file. Every value is per traced pass, except the probe spans
and counts, which come from one call per layer after the passes."""
import json

import metrics as M

MB = 1048576.0

SPAN_METRICS = {
    "tar_extract": "tar_extract_s", "envelope": "envelope_s", "tokenize": "tokenize_s",
    "flatten": "flatten_s", "widen": "widen_s", "lambda": "lambda_s",
    "csv_sink": "csv_sink_s", "minhash": "minhash_s", "lsh_join": "lsh_join_s",
    "components": "components_s", "pq_adc": "pq_adc_s", "rerank": "rerank_s",
    "maxsim": "maxsim_s", "heavy_hitter": "heavy_hitter_s", "checkpoint": "checkpoint_s",
}
TRIGGER_PHASES = {
    "queryPlanning": "trigger_planning_ms", "addBatch": "trigger_add_batch_ms",
    "walCommit": "trigger_wal_commit_ms", "latestOffset": "trigger_latest_offset_ms",
    "commitOffsets": "trigger_commit_offsets_ms",
}


def read_spans(path):
    try:
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []


def write_spans(src, dst):
    """Copies the span file, adding each span's self time."""
    spans = read_spans(src)
    selfs = M.self_times(spans)
    with open(dst, "w") as f:
        for s in spans:
            f.write(json.dumps(dict(s, self_s=selfs[s["id"]])) + "\n")


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _within(t, intervals):
    return any(s <= t <= e for s, e in intervals)


def pass_layers(p):
    """Driver, streaming, executor and storage numbers of one traced pass."""
    lay = p["layers"]
    sums = lay["sums"]
    execs = [tuple(x) for x in lay["executions"]]
    jobs = [tuple(x) for x in lay["jobs"]]
    span = (p["start_ms"], p["end_ms"])
    in_exec = M.union_length(M.clip(execs, *span))
    triggers = [(pr["start_ms"], pr["start_ms"] + pr["duration_ms"].get("triggerExecution", 0))
                for pr in p["progress"]]
    out = {
        "sql_executions": len(execs),
        "jobs": len(jobs),
        "stages": lay["stages"],
        "tasks": sums.get("tasks", 0.0),
        "exec_driver_s": (M.union_length(execs) - M.covered_by(execs, jobs)) / 1e3,
        "outside_exec_s": ((span[1] - span[0]) - in_exec) / 1e3,
        "parquet_scans": p["parquet_scans"],
        "driver_result_mb": sums.get("result_bytes", 0.0) / MB,
        "triggers": len(triggers),
        "trigger_execs": sum(1 for s, _ in execs if _within(s, triggers)),
        "trigger_jobs": sum(1 for s, _ in jobs if _within(s, triggers)),
        "state_rows": max([pr["state_rows"] for pr in p["progress"]] or [0]),
        "replay_behind_groups": max([int(pr["source_metrics"].get("behindGroups", 0))
                                     for pr in p["progress"]] or [0]),
        "task_run_s": sums.get("task_run_ms", 0.0) / 1e3,
        "task_cpu_s": sums.get("task_cpu_ns", 0.0) / 1e9,
        "gc_s": sums.get("gc_ms", 0.0) / 1e3,
        "shuffle_write_mb": sums.get("shuffle_write_bytes", 0.0) / MB,
        "shuffle_read_mb": sums.get("shuffle_read_bytes", 0.0) / MB,
        "spill_mb": sums.get("spill_bytes", 0.0) / MB,
        "input_mb": sums.get("input_bytes", 0.0) / MB,
        "output_mb": sums.get("output_bytes", 0.0) / MB,
        "files_written": p["staging"]["new_files"],
        "written_mb": p["staging"]["new_bytes"] / MB,
    }
    for phase, name in TRIGGER_PHASES.items():
        out[name] = _mean([pr["duration_ms"].get(phase, 0) for pr in p["progress"]])
    return out


def per_layer(res, wl, sizes, cores, spans_path):
    """{metric: (value, unit)} and notes giving each ratio's base."""
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    per_pass = [pass_layers(p) for p in traced]
    avg = {k: _mean([x[k] for x in per_pass]) for k in per_pass[0]}
    wall = M.median([p["wall_s"] for p in traced])
    input_bytes = sum(sizes[t]["bytes"] for t in wl["input_tables"])
    spans = read_spans(spans_path)
    selfs = M.self_times(spans)
    by = M.by_name(spans, selfs)
    probes = res["probes"]
    notes = {}

    def ratio(name, num, den, what):
        v, n, d = M.frac(num, den)
        notes[name] = f"{n:.6g} / {d:.6g} {what}"
        return v

    out = {
        "sql_executions": (avg["sql_executions"], "count"),
        "jobs": (avg["jobs"], "count"),
        "stages": (avg["stages"], "count"),
        "tasks": (avg["tasks"], "count"),
        "exec_driver_s": (avg["exec_driver_s"], "s"),
        "outside_exec_s": (avg["outside_exec_s"], "s"),
        "parquet_scans": (avg["parquet_scans"], "count"),
        "driver_result_mb": (avg["driver_result_mb"], "MB"),
        "triggers": (avg["triggers"], "count"),
        "executions_per_trigger": (ratio("executions_per_trigger", avg["trigger_execs"],
                                         avg["triggers"], "executions started inside triggers / triggers"), "count"),
        "jobs_per_trigger": (ratio("jobs_per_trigger", avg["trigger_jobs"], avg["triggers"],
                                   "jobs started inside triggers / triggers"), "count"),
    }
    for name in TRIGGER_PHASES.values():
        out[name] = (avg[name], "ms")
    out.update({
        "state_rows": (avg["state_rows"], "count"),
        "replay_behind_groups": (avg["replay_behind_groups"], "count"),
        "task_run_s": (avg["task_run_s"], "s"),
        "task_cpu_s": (avg["task_cpu_s"], "s"),
        "gc_s": (avg["gc_s"], "s"),
        "executor_busy_frac": (ratio("executor_busy_frac", avg["task_run_s"], wall * cores,
                                     f"task s / (traced wall s x {cores} cores)"), "ratio"),
        "shuffle_write_mb": (avg["shuffle_write_mb"], "MB"),
        "shuffle_read_mb": (avg["shuffle_read_mb"], "MB"),
        "spill_mb": (avg["spill_mb"], "MB"),
        "input_mb": (avg["input_mb"], "MB"),
        "output_mb": (avg["output_mb"], "MB"),
    })
    for span_name, metric in SPAN_METRICS.items():
        out[metric] = (by.get(span_name, 0.0), "s")
    out["quarantine_frac"] = (ratio("quarantine_frac", probes.get("quarantined_docs", 0),
                                    probes.get("xml_docs", 0), "flattenSafe errors / documents"), "ratio")
    out["lsh_candidates"] = (probes.get("lsh_candidates", 0), "count")
    out["lsh_verified"] = (probes.get("lsh_verified", 0), "count")
    out["lsh_useful_frac"] = (ratio("lsh_useful_frac", probes.get("lsh_verified", 0),
                                    probes.get("lsh_candidates", 0), "verified / candidate pairs"), "ratio")
    commits = [s["end_s"] - s["start_s"] for s in spans if s["name"] == "occ_commit"]
    out["occ_commits"] = (probes.get("occ_commits", 0), "count")
    out["occ_attempts"] = (probes.get("occ_attempts", 0), "count")
    out["occ_useful_frac"] = (ratio("occ_useful_frac", probes.get("occ_commits", 0),
                                    probes.get("occ_attempts", 0), "commits / attempts"), "ratio")
    out["occ_commit_p50_ms"] = (M.median(commits) * 1e3 if commits else 0.0, "ms")
    out["log_files"] = (probes.get("log_files", 0), "count")
    out["files_written"] = (avg["files_written"], "count")
    out["written_mb"] = (avg["written_mb"], "MB")
    out["write_amp"] = (ratio("write_amp", avg["written_mb"] * MB, input_bytes,
                              "bytes written under staging / input bytes"), "ratio")
    out["stored_mb"] = (res["staging"]["bytes"] / MB, "MB")
    out["heap_peak_mb"] = (max(p["heap_old_mb"] for p in res["passes"]), "MB")
    served = wl.get("served_keys", [])
    rows = sum(p["keys"][k].get("rows", 0) for p in plain for k in served)
    drain = sum(p["keys"][k]["s"] for p in plain for k in served)
    out["queries_per_s"] = (ratio("queries_per_s", rows, drain,
                                  "served rows / s of serving-key drain, untraced passes"), "1/s")
    overhead = M.median([p["wall_s"] for p in traced]) / M.median([p["wall_s"] for p in plain]) - 1.0
    notes["trace_overhead_frac"] = (f"traced wall {wall:.3f} s vs untraced "
                                    f"{M.median([p['wall_s'] for p in plain]):.3f} s")
    out["trace_overhead_frac"] = (overhead, "ratio")
    return out, notes
