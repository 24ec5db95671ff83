"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine
and the harness (perfbench/harness) with sbt; later runs reuse the build
while the sources are unchanged. The run generates the workload's inputs
from the seed (perfbench/gen.py, cached per seed and workload), runs the
workload's query keys in one Spark JVM (perfbench/harness), checks every
key's output against its DuckDB oracle (perfbench/oracle.py) and prints
one metric per line, then one JSON object as the last line of stdout.

--trace 0 reports the end-to-end metrics; --trace 1 attaches the
listeners and span recorder and reports the per-layer metrics. The
workloads, their keys and sizes are in perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import metrics as M  # noqa: E402

RUN_LIMIT_S = 150  # the harness's share of the 180 s a run may take, build excepted
HEAP = "3g"
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every file the build reads, so a checkout is built once."""
    files = []
    for top in ("src/main", "perfbench/harness/src"):
        for d, dirs, names in os.walk(os.path.join(root, top)):
            dirs.sort()
            files += sorted(os.path.join(d, n) for n in names)
    for top in ("project", "perfbench/harness/project"):  # sbt's own outputs sit below
        d = os.path.join(root, top)
        files += sorted(os.path.join(d, n) for n in os.listdir(d)
                        if os.path.isfile(os.path.join(d, n)))
    h = hashlib.sha256()
    for p in [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench/harness/build.sbt")] + files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles the engine and the harness; returns the runtime classpath.
    A cached classpath is reused only while the sources are unchanged and
    every entry on it still exists (a clean removes the class directories)."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if (cached.get("stamp") == stamp and
                all(os.path.exists(p) for p in cached["classpath"].split(os.pathsep))):
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(classpath, work, data_dir, wl, run_id, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + opens +
           [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graftbench.Harness",
            f"dir={data_dir}", f"work={work}", f"keys={','.join(wl['keys'])}",
            f"cores={cores()}", f"seconds={seconds}", f"warmup={wl['warmup_passes']}", f"trace={trace}",
            f"probes={','.join(wl.get('probes', []))}", f"run_id={run_id}"])
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness exceeded the run time limit", 1)
        finally:
            # also reached on SIGTERM/SIGINT: the JVM never outlives the run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {proc.returncode}", 1)
    with open(result_path) as f:
        return json.load(f)


def input_rows(sizes, tables):
    return sum(sizes[t]["rows"] for t in tables)


def end_to_end(res, wl, sizes):
    passes = [p for p in res["passes"] if not p["traced"]]
    wall = M.median([p["wall_s"] for p in passes])
    batches = [pr["duration_ms"].get("triggerExecution", 0)
               for p in passes for pr in p["progress"]]
    out = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (wall, "s"),
    }
    notes = {"setup_s": f"session ready after {res['ready_s']:.3f} s",
             "wall_s": f"median of {len(passes)} passes: " +
                       " ".join(f"{p['wall_s']:.3f}" for p in passes)}
    # wall_s restated (the row counts are fixed per workload): printed, not bounded
    rows = input_rows(sizes, wl["input_tables"])
    notes["rows_per_s"] = f"{rows / wall:.6g} 1/s ({rows} input rows / wall_s)"
    # batch latencies are printed, not bounded: etl_small runs no
    # micro-batches, and a tail needs at least 10 batches beyond it,
    # which no serve_stream run has
    if batches:
        tail_p, tail_v, n = M.tail(batches)
        notes["batch_p50_ms"] = f"{M.median(batches)} ms, median of {n} batches"
        notes["batch_tail_ms"] = (f"{tail_v} ms, p{tail_p} of {n} batches" if tail_p else
                                  f"no percentile has 10 of {n} batches beyond it; max {tail_v} ms")
    for k in wl["keys"]:
        ts = [p['keys'][k]['s'] for p in passes]
        notes[f"key {k}"] = f"{M.median(ts):.3f} s median of " + " ".join(f"{t:.3f}" for t in ts)
    return out, notes


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, frame: fail(f"stopped by signal {signum}", 1))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    import oracle  # reads tools/selfcheck.py from the checkout
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {sorted(workloads)}")
    wl = workloads[args.workload]
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)

    classpath = build(root, build_dir)
    t_in = time.time()
    data_dir = os.path.join(build_dir, "data", f"{args.workload}-s{args.seed}")
    sizes = gen.generate(data_dir, args.seed, wl["scale"], wl["dup_share"])

    t0 = time.time()
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_harness(classpath, work, data_dir, wl, f"{args.workload}-s{args.seed}",
                          args.seconds, args.trace,
                          t0 + RUN_LIMIT_S)
        t1 = time.time()
        checked = oracle.check(data_dir, os.path.join(work, "dump"), wl["keys"])
        print(f"[perfbench] inputs {t0 - t_in:.1f} s, harness {t1 - t0:.1f} s, "
              f"oracle {time.time() - t1:.1f} s", file=sys.stderr)
        attempted = failed = 0
        bad = {}
        for p in res["passes"]:
            for k, r in p["keys"].items():
                attempted += 1
                ok, detail, rows = checked[k]
                if not r["ok"]:
                    failed += 1
                    bad[k] = r.get("error", "failed")
                elif not ok or r["rows"] != rows:
                    failed += 1
                    bad[k] = detail if not ok else f"rows {r['rows']} vs checked {rows}"
        for k, r in res["setup_keys"].items():
            if not r["ok"]:
                bad[k] = r.get("error", "failed")
        for k, why in sorted(bad.items()):
            print(f"MISMATCH {k}: {why}")
        print(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} key executions)")

        if args.trace:
            out, notes = layers.per_layer(res, wl, sizes, cores(), os.path.join(work, "spans.jsonl"))
            trace_dir = os.path.join(build_dir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            spans_out = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.jsonl")
            layers.write_spans(os.path.join(work, "spans.jsonl"), spans_out)
            notes["spans"] = spans_out
        else:
            out, notes = end_to_end(res, wl, sizes)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in out.items():
        extra = f"  ({notes[name]})" if name in notes else ""
        print(f"{name} {value:.6g} {unit}{extra}")
    for name, note in notes.items():
        if name not in out:
            print(f"{name} {note}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
