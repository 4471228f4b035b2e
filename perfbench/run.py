"""graft benchmark: one (workload, seed) per invocation.

    python3 perfbench/run.py --workload etl_json_assign --seed 1 --seconds 8 --trace 0

Run from the repository root. Steps, in order:
  1. build graft plus the benchmark harness from source with the Scala
     compiler in the Spark distribution (cached by source hash);
  2. generate the workload's inputs from the seed (cached by workload, seed
     and size), before any timer;
  3. time the set-up: JVM launch until the session is ready, the config is
     parsed and the pipeline is built;
  4. run one cold iteration, one unmeasured warm-up iteration, then warm
     iterations sized by --seconds (--trace 1: after the warm-up, an
     untraced, a traced and an untraced iteration, then the layer passes);
  5. check every iteration's outputs against the planted truth (oracle.py).

Prints every metric as `name value unit`, then one JSON summary line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. The full record,
stamped with the run's environment, goes to
.perfbench/results/<workload>-s<seed>-c<nproc>-t<trace>.json.
"""

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

STATE = ".perfbench"
JVM_HEAP = "3g"
RUN_LIMIT_S = 160  # a run, after the build, must end within 180 s
AUX_AVRO_SIZE = 12_000
# Seconds of --seconds per measured warm iteration. The count is fixed by
# --seconds alone, the same on every run whatever the host's speed.
SECONDS_PER_WARM_ITERATION = {"etl_json_assign": 6.5, "etl_avro_stream": 5.0, "curate_neardup": 10.0}
# Warm iterations run but not measured: the first warm iterations are still
# JIT-warming and spread most between runs.
WARMUP_ITERATIONS = 1
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = [
    ("setup_s", "s"), ("first_run_s", "s"), ("rows_per_s", "1/s"), ("cpu_s_per_mrow", "s"),
    ("shuffle_mb", "MB"), ("peak_heap_mb", "MB"), ("ok_share", "share"),
    ("batch_p50_s", "s"), ("batch_tail_s", "s")]
CURATE_STAGES = (("input", "input"), ("filters", "after_filters"),
                 ("exact_dedup", "after_exact_dedup"), ("near_dedup", "after_near_dedup"),
                 ("write", "written"))
PER_LAYER = [
    ("sources.self_s", "s"), ("sources.cpu_s", "s"), ("sources.shuffle_mb", "MB"),
    ("envelope_json.self_s", "s"), ("envelope_json.cpu_s", "s"),
    ("envelope_json.error_rows", "count"), ("envelope_json.filtered_rows", "count"),
    ("payload_ops.self_s", "s"), ("payload_ops.cpu_s", "s"),
    ("envelope_avro.self_s", "s"), ("envelope_avro.cpu_s", "s"), ("envelope_avro.error_rows", "count"),
    ("k6_mask.self_s", "s"), ("k6_mask.cpu_s", "s"), ("k6_mask.masked_rows", "count"),
    ("transforms.self_s", "s"), ("transforms.cpu_s", "s"),
    ("dedup.self_s", "s"), ("dedup.cpu_s", "s"), ("dedup.shuffle_mb", "MB"),
    ("dedup.dropped_share", "share"),
    ("sinks.self_s", "s"), ("sinks.bytes_written", "B"), ("sinks.files_written", "count"),
    ("streaming.batches", "count"), ("streaming.planning_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.overhead_s", "s"),
] + [(f"curate.{stage}.{m}", u) for stage, _ in CURATE_STAGES
     for m, u in (("wall_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"), ("rows_out", "count"))] + [
    ("near_dedup.pairs_out", "count"), ("near_dedup.cpu_s", "s"), ("near_dedup.shuffle_mb", "MB"),
    ("near_dedup.removed_share", "share"),
    ("session.start_s", "s"), ("session.configure_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("jvm.gc_s", "s"),
    ("trace.overhead_s", "s"),
]


class BenchError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    `spark-submit` on PATH that belongs to one with a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise BenchError("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise BenchError("no graft sources under src/main/scala (run from the repository root)")
    return files + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))


def build():
    """Compile graft and the harness into .perfbench/build/<source hash>."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    out = os.path.join(STATE, "build", key)
    if os.path.exists(os.path.join(out, "OK")):
        return out, key, 0.0
    t0 = time.monotonic()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "-classpath", cp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "OK"), "w").close()
    return out, key, time.monotonic() - t0


def java_cmd(build_dir, args, nproc, tmp):
    cp = os.pathsep.join([os.path.join(build_dir, "classes")] + spark_jars())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{JVM_HEAP}"] + opens +
            ["-Dspark.ui.enabled=false", f"-Dperfbench.src={os.getcwd()}",
             f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, "graft.perfbench.BenchMain"] + args + ["--nproc", str(nproc)])


def launch(cmd, log_path, env):
    """Start a JVM; return (process, seconds from launch to its PB_READY
    line)."""
    t0 = time.monotonic()
    log = open(log_path, "ab")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env)
    log.close()
    for raw in p.stdout:
        line = raw.decode(errors="replace").strip()
        if line == "PB_READY":
            return p, time.monotonic() - t0
    p.wait()
    raise BenchError(f"JVM exited with {p.returncode} before set-up finished (see {log_path})")


def finish(p, timeout):
    try:
        p.stdout.read()
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError("JVM timed out")


def warm_iterations(workload, seconds):
    return max(2, round(seconds / SECONDS_PER_WARM_ITERATION[workload]))


def tail_percentile(samples):
    """The highest percentile with at least ten samples beyond it, and its
    value; the maximum when there are too few samples for one."""
    xs = sorted(samples)
    n = len(xs)
    if n > 10:
        return 100.0 * (n - 10) / n, xs[n - 11]
    return 100.0, xs[-1]


def git_stamp():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        if sha.returncode != 0:
            return "none", None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return "none", None


def java_version():
    p = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (p.stderr.splitlines() or ["unknown"])[0]


def end_to_end(workload, manifest, setup_s, iters, ok):
    rows = manifest["expected"].get("event_count", manifest["rows"])
    warm = iters[1 + WARMUP_ITERATIONS:]
    if workload == "etl_avro_stream":
        batches = [b["triggerExecution"] / 1e3 for it in warm for b in it["batches"]]
    else:
        batches = [it["wall_s"] for it in warm]  # one bounded batch per run
    pct, tail = tail_percentile(batches)
    metrics = {
        "setup_s": setup_s,
        "first_run_s": iters[0]["wall_s"],
        "rows_per_s": statistics.median(rows / it["wall_s"] for it in warm),
        "cpu_s_per_mrow": sum(it["cpu_s"] for it in warm) / (rows * len(warm)) * 1e6,
        "shuffle_mb": statistics.median(it["shuffle_mb"] for it in warm),
        "peak_heap_mb": max(it["heap_mb"] for it in iters),
        "ok_share": sum(ok) / len(ok),
        "batch_p50_s": statistics.median(batches),
        "batch_tail_s": tail,
    }
    info = {"rows_per_s.samples": len(warm), "rows_per_iteration": rows,
            "batch.samples": len(batches), "batch_tail_s.percentile": pct}
    if workload == "curate_neardup":
        info["tokens_per_s"] = metrics["rows_per_s"] * manifest["tokens"] / manifest["rows"]
    return metrics, info


def per_layer(result, iters):
    """Per-layer metrics of a traced run: the layer passes' figures, the
    traced iteration's job ledger, and the tracing overhead (the traced
    iteration, attribution included, minus the mean of the untraced warm
    iterations before and after it)."""
    traced = next(it for it in iters if it["traced"])
    untraced = [it["wall_s"] for it in iters if it["k"] in (traced["k"] - 1, traced["k"] + 1)]
    stream = result.get("aux_iteration") or traced
    setup = result["setup"]
    # A layer the workload does not run reports 0.
    m = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    m.update(result["layers"])
    m["session.start_s"] = setup["session.start_s"]
    m["session.configure_s"] = setup["session.configure_s"]
    m["spark.jobs"] = traced["jobs"]
    m["spark.tasks"] = traced["tasks"]
    m["jvm.gc_s"] = traced["gc_s"]
    m["trace.overhead_s"] = traced["wall_s"] + traced["attribute_s"] - statistics.mean(untraced)
    b = stream["batches"]
    m["streaming.batches"] = len(b)
    m["streaming.planning_s"] = sum(x.get("queryPlanning", 0) for x in b) / 1e3
    m["streaming.add_batch_s"] = sum(x.get("addBatch", 0) for x in b) / 1e3
    m["streaming.wal_commit_s"] = sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in b) / 1e3
    m["streaming.overhead_s"] = sum(x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in b) / 1e3
    stages = traced["stages"]
    for stage, report_key in CURATE_STAGES:
        s = stages.get(stage, {})
        m[f"curate.{stage}.wall_s"] = s.get("wall_s", 0.0)
        m[f"curate.{stage}.cpu_s"] = s.get("cpu_s", 0.0)
        m[f"curate.{stage}.shuffle_mb"] = s.get("shuffle_mb", 0.0)
        m[f"curate.{stage}.rows_out"] = (traced["summary"] or {}).get(report_key, 0) if stages else 0
    return m


def report_lines(spec, values, info, stamp, ok):
    """Stamp lines (`# key value`), one `name value unit` line per metric,
    then the one-line JSON summary, which is the last line."""
    lines = [f"# {k} {json.dumps(v)}" for k, v in stamp.items()]
    lines += [f"{k} {v:.6g}" for k, v in info.items()]
    metrics = {}
    for name, unit in spec:
        metrics[name] = {"value": float(values[name]), "unit": unit}
        lines.append(f"{name} {values[name]:.6g} {unit}")
    lines.append(json.dumps({"correct": all(ok), "attempted": len(ok), "failed": ok.count(False),
                             "metrics": metrics}, separators=(",", ":")))
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    loadavg = open("/proc/loadavg").read().split()[:3] if os.path.exists("/proc/loadavg") else []
    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    build_dir, src_hash, build_s = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    t0 = time.monotonic()
    manifest = gen.generate(args.workload, args.seed, cache_root=os.path.join(STATE, "inputs"))
    gen_s = time.monotonic() - t0

    run_id = f"{args.workload}-s{args.seed}-c{nproc}-t{args.trace}"
    work = os.path.abspath(os.path.join(STATE, "runs", run_id))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    # local[nproc] with shuffle partitions matched to the core count, the
    # local sizing GraftSession documents.
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_GRAFT_SHUFFLE=str(nproc),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    common = ["--workload", args.workload, "--input", manifest["dir"], "--work", work]
    aux = None
    if args.trace and args.workload == "etl_json_assign":
        # The Avro stream's layers (envelope_avro, streaming) are measured in
        # this workload's traced run, over an Avro topic from the same seed.
        aux = gen.generate("etl_avro_stream", args.seed, AUX_AVRO_SIZE, os.path.join(STATE, "inputs"))
        common += ["--aux-input", aux["dir"]]

    result_path = os.path.join(work, "result.json")
    p, setup_s = launch(java_cmd(build_dir, [
        "--warm", str(WARMUP_ITERATIONS + warm_iterations(args.workload, args.seconds)),
        "--warmup", str(WARMUP_ITERATIONS),
        "--trace", str(args.trace),
        "--result", result_path] + common, nproc, os.path.join(work, "tmp")), log, env)
    if finish(p, max(1.0, deadline - time.monotonic())) != 0:
        raise BenchError(f"benchmark JVM failed (see {log})")
    with open(result_path) as f:
        result = json.load(f)

    iters = result["iterations"]
    problems = {it["k"]: oracle.check(args.workload, it, manifest) for it in iters}
    if aux:
        problems["aux-stream"] = oracle.check("etl_avro_stream", result["aux_iteration"], aux)
    ok = [not errs for errs in problems.values()]
    for k, errs in problems.items():
        for e in errs:
            print(f"# iteration {k} incorrect: {e}")

    if args.trace:
        values = per_layer(result, iters)
        spans = {s["name"]: s["end_s"] - s["start_s"] for s in result["spans"] if s["parent"] == "trace"}
        spec, info = PER_LAYER, {f"trace.{k}_s": v for k, v in spans.items()}
    else:
        values, info = end_to_end(args.workload, manifest, setup_s, iters, ok)
        spec = END_TO_END
    git_sha, dirty = git_stamp()
    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": nproc,
             "git_sha": git_sha, "git_dirty": dirty, "src_hash": src_hash,
             "spark_version": result.get("spark_version"), "java_version": java_version(),
             "python": platform.python_version(), "loadavg_start": loadavg,
             "input_size": manifest["size"], "input_rows": manifest["rows"],
             "input_hash": manifest["input_hash"], "gen_s": gen_s, "build_s": build_s,
             "iteration_walls_s": [it["wall_s"] for it in iters]}

    lines = report_lines(spec, values, info, stamp, ok)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results", run_id + ".json"), "w") as f:
        json.dump({"stamp": stamp, "info": info, "summary": json.loads(lines[-1]),
                   "problems": problems, "result": result}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
