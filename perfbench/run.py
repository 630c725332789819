"""ETL-run benchmark: one command that builds the engine from source, runs
one workload in one JVM on local[cores], checks every output and prints
every metric by name with its unit.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the end-to-end
ones, with --trace 1 the per-layer ones (see perfbench/README.md). The line
before it, starting with "# env", is the environment stamp. A traced run
also writes its spans and per-group counters under the build directory.
Exit code 0 means every correctness check passed.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_full_load", "etl_incremental_rerun", "commitlog_cdc_upsert")
# The fixed source tables: an unchanged copy of the sf0.01 test dataset
# (15k orders, 60k lineitems); the seed never changes them.
DATASET = "sf0.01"
SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", DATASET)
JVM_TIMEOUT_S = 170
JOBS = ("alimentacao_view_manifestos", "alimentacao_view_movimento",
        "alimentacao_view_manifestomovimento", "alimentacao_view_adicionais",
        "alimentacao_parcela_ciot")
VERBS = ("merge_into", "delete", "append", "read", "change_feed",
         "merge_into_clauses", "compact")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def commit_id(tree_digest):
    """The git commit when run from a clone, else the source-tree digest."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and os.path.isdir(".git"):
            return r.stdout.strip()
    except OSError:
        pass
    return "tree-" + tree_digest


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(raw):
    """The end-to-end metrics of one run, the op counts, and the op tail.

    The tail is the op time at the highest percentile with at least
    stats.TAIL_SAMPLES ops beyond it. It is reported in the environment
    stamp, not as a metric: below 2 * TAIL_SAMPLES ops no percentile above
    the median qualifies, and a run here measures 14 or 15 ops."""
    passes = raw["passes"]
    ops = [o for p in passes for o in p["ops"]]
    times = [o["s"] for o in ops if o["ok"]]
    q = stats.tail_percentile(len(times))
    attempted = len(ops) + sum(len(p["checks"]) for p in passes)
    failed = (sum(1 for o in ops if not o["ok"]) +
              sum(1 for p in passes for c in p["checks"] if not c["ok"]))
    metrics = {
        "makespan_s": (median([p["wall_s"] for p in passes]), "s"),
        "op_p50_s": (stats.percentile(times, 50) if times else 0.0, "s"),
        "success_frac": (1.0 - failed / attempted, "frac"),
        "setup_s": (median(raw["setup_s"]), "s"),
        "peak_rss_mb": (median([p["peak_rss_mb"] for p in passes]), "MiB"),
    }
    tail = {"op_tail_s": stats.percentile(times, q) if times else 0.0,
            "op_tail_percentile": q, "ops": len(times),
            "op_tail_samples_beyond": stats.samples_beyond(len(times), q)}
    return metrics, attempted, failed, tail


def per_layer(raw):
    """The per-layer metrics of one traced run: medians over its traced
    passes, plus the spans' per-layer self times and the tracing overhead."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    spans = raw["spans"]
    by_pass = {}
    for s in spans:
        by_pass.setdefault(s["pass"], []).append(s)
    cores = raw["cores"]

    def per_pass(f):
        return median([f(p) for p in traced])

    def groups_sum(p, key):
        return sum(g[key] for g in p["groups"].values())

    def span_s(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def job_s(job):
        return median([span_s(s) for s in spans if s["name"] == "job." + job])

    def overhead(pass_spans):
        dag = sum(span_s(s) for s in pass_spans
                  if s["name"] == "orchestrator.run_dag")
        jobs = sum(span_s(s) for s in pass_spans if s["name"].startswith("job."))
        return dag - jobs

    def verb_s(verb):
        return median([o["s"] for p in traced for o in p["ops"]
                       if o["name"] == verb])

    def jobs_per_verb(verb):
        vals = []
        for p in traced:
            calls = sum(1 for o in p["ops"] if o["name"] == verb)
            g = p["groups"].get("perfbench-verb-" + verb)
            if calls and g:
                vals.append(g["jobs"] / calls)
        return median(vals)

    layer_self = stats.layer_self_times(spans)
    m = {
        "engine_session.create_s": (median(raw["create_s"]), "s"),
        "engine_session.cold_create_s": (raw["create_s"][0], "s"),
        "orchestrator.overhead_s": (
            median([overhead(by_pass.get(p["pass"], [])) for p in traced])
            if any(s["name"] == "orchestrator.run_dag" for s in spans) else 0.0,
            "s"),
    }
    for j in JOBS:
        m["orchestrator.job_s." + j] = (job_s(j), "s")
    for k in ("rows_written", "bytes_written", "files_written"):
        m["sink." + k] = (per_pass(lambda p: p["plans"].get(k, 0)),
                          {"rows_written": "rows", "bytes_written": "B",
                           "files_written": "count"}[k])
    m["idempotent_insert.useful_frac"] = (per_pass(
        lambda p: p["gauges"].get("idempotent_insert.useful_frac", 0.0)), "frac")
    for phase in ("analysis", "optimization", "planning"):
        m["catalyst.%s_s" % phase] = (
            per_pass(lambda p: p["plans"].get(phase + "_ms", 0) / 1e3), "s")
    m["catalyst.executions"] = (per_pass(lambda p: p["plans"].get("executions", 0)),
                                "count")
    for k, key, scale, unit in (
            ("jobs", "jobs", 1, "count"), ("stages", "stages", 1, "count"),
            ("tasks", "tasks", 1, "count"), ("task_run_s", "run_ns", 1e-9, "s"),
            ("task_cpu_s", "cpu_ns", 1e-9, "s"),
            ("scheduler_wait_s", "scheduler_delay_ns", 1e-9, "s"),
            ("gc_s", "gc_ns", 1e-9, "s"),
            ("shuffle_read_bytes", "shuffle_read_bytes", 1, "B"),
            ("shuffle_write_bytes", "shuffle_write_bytes", 1, "B"),
            ("spill_bytes", "spill_bytes", 1, "B")):
        m["spark." + k] = (per_pass(lambda p: groups_sum(p, key) * scale), unit)
    m["spark.task_busy_frac"] = (per_pass(
        lambda p: groups_sum(p, "run_ns") / 1e9 / (p["wall_s"] * cores)), "frac")
    m["scan.input_bytes"] = (per_pass(lambda p: groups_sum(p, "input_bytes")), "B")
    m["scan.input_rows"] = (per_pass(lambda p: groups_sum(p, "input_rows")), "rows")
    for v in VERBS:
        m["commitlog.%s_s" % v] = (verb_s(v), "s")
        m["commitlog.jobs_per_verb." + v] = (jobs_per_verb(v), "count")
    m["commitlog.snapshot_s"] = (median(
        [span_s(s) for s in spans if s["name"] == "commitlog.snapshot"]), "s")
    last = traced[-1]["gauges"] if traced else {}
    m["commitlog.versions"] = (last.get("commitlog.versions", 0.0), "count")
    m["commitlog.segments_live"] = (last.get("commitlog.segments_live", 0.0), "count")
    m["commitlog.bytes_per_live_byte"] = (
        last.get("commitlog.bytes_per_live_byte", 0.0), "ratio")
    # the orchestrator's self time is orchestrator.overhead_s
    for layer in ("pass", "job", "commitlog"):
        m["self_s." + layer] = (median(
            [layer_self.get(p["pass"], {}).get(layer, 0.0) for p in traced]), "s")
    m["trace.overhead_s"] = (median([p["wall_s"] for p in traced]) -
                             median([p["wall_s"] for p in untraced]), "s")
    return m


def run_jvm(classpath, args, work, raw_path, cores):
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # The heap is capped but not pre-sized, and the young generation is
    # fixed: resident memory then follows what the program keeps (old
    # generation, off-heap) rather than the collector's young sizing, which
    # varies from run to run.
    # The collector's worker threads are capped at the task slots, so that
    # task, driver, collector and compiler threads together stay within
    # nproc.
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xmn256m", "-XX:ParallelGCThreads=%d" % cores,
            "-XX:ConcGCThreads=1", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.local.dir=" + local,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--source", SOURCE,
            "--work", os.path.join(work, "data"),
            "--out", raw_path])
    log_path = os.path.join(build.build_dir(), "logs",
                            "%s-seed%d.log" % (args.workload, args.seed))
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0:
        with open(log_path) as f:
            tail = [ln for ln in f.read().splitlines() if "perfbench" in ln]
        sys.stderr.write("\n".join(tail[-20:]) + "\n")
        raise RuntimeError("benchmark JVM exited with %d (log: %s)"
                           % (r.returncode, log_path))


def default_cores(nproc):
    """Task slots when SPARK_GRAFT_CPUS is unset: half of nproc. The other
    half runs the driver, the JIT compiler and the collector, so that the
    JVM's busy threads do not outnumber the processors of a shared host
    (measured on a 4-core VM: an ETL pass takes the same time on 2 task
    slots as on 4)."""
    return max(1, nproc // 2)


def steal_frac(start, end):
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cores(nproc))
    if cores < 1 or cores > nproc:
        sys.exit("refusing to run: SPARK_GRAFT_CPUS=%d but nproc=%d" % (cores, nproc))
    load_start = loadavg()
    ticks_start = cpu_ticks()

    try:
        classpath, tree = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit("build failed: %s" % e)

    work = os.path.join(build.build_dir(), "work",
                        "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    raw_path = os.path.join(work, "raw.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(classpath, args, work, raw_path, cores)
        with open(raw_path) as f:
            raw = json.load(f)
    except (RuntimeError, subprocess.TimeoutExpired, OSError, ValueError) as e:
        sys.exit("benchmark run failed: %s" % e)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw["cores"] = cores

    e2e, attempted, failed, tail = end_to_end(raw)
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"), "cores": cores,
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        # CPU time the hypervisor gave to other guests, as a share of all
        # CPU time during the run: a high value marks a slowed run
        "steal_frac": steal_frac(ticks_start, cpu_ticks()),
        "commit": commit_id(tree), "dataset": DATASET,
        "passes": len(raw["passes"]),
        "warmup_pass_s": [p["wall_s"] for p in raw["warmup"]],
        "pass_s": [p["wall_s"] for p in raw["passes"]],
        "pass_peak_rss_mb": [p["peak_rss_mb"] for p in raw["passes"]],
        "untimed_s": [p["reset_s"] + p["verify_s"]
                      for p in raw["warmup"] + raw["passes"]],
        "fixtures_s": raw["init_phases"],
        "setups_s": raw["setup_s"],
    }
    stamp.update(tail)
    metrics = per_layer(raw) if args.trace else e2e
    if args.trace:
        trace_path = os.path.join(build.build_dir(), "traces",
                                  "%s-seed%d.json" % (args.workload, args.seed))
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"env": stamp, "metrics": metrics,
                       "end_to_end": e2e, "passes": raw["passes"],
                       "spans": raw["spans"]}, f)
        stamp["trace_file"] = os.path.relpath(trace_path)
    correct = failed == 0
    print("# env " + json.dumps(stamp))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
