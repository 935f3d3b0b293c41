#!/usr/bin/env python3
"""Benchmark of the scheduled ingest path and the query catalog: timed
scheduler ticks over all 16 provider pipelines, and timed passes over
the ROADMAP's target queries.

Usage:
  python3 perfbench/run.py --workload tick_fixture|tick_fleet|query_catalog
      [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a checkout.  The command builds the program from
source (see build.py), generates its inputs from the seed (provider
payloads, see scaler.py; the documents table, see documents.py), runs
ticks or query passes in one JVM for about --seconds, checks every
output, and prints one line per metric followed by one JSON line
{"correct", "attempted", "failed", "metrics"}.  --trace 0 reports the
end-to-end metrics; --trace 1 adds probes and reports the per-layer
metrics instead.  README.md describes the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import catalog  # noqa: E402
import documents  # noqa: E402
import scaler  # noqa: E402

# A run must end well inside three minutes, build excluded.
RUN_DEADLINE_S = 170
JVM_HEAP = "2g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

WORKLOADS = {
    # every provider at its recorded size; fresh output dir per tick.  Run
    # by hand: BENCHMARK.json leaves it out for the time budget.
    "tick_fixture": {"factors": {p: 1 for p in scaler.PROVIDERS},
                     "variants": ("A",)},
    # replicated fleet alternating payload variants A/B over one output dir
    "tick_fleet": {"factors": scaler.FLEET_FACTORS, "variants": ("A", "B")},
}


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(main_class, classpath, plan_path, log_path, timeout_s):
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+ParallelRefProcEnabled",
           "-XX:-UsePerfData",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Djava.io.tmpdir=" + os.path.dirname(plan_path),
           *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", os.pathsep.join(classpath),
           main_class, plan_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def check(result, manifest, workload):
    """Compare every tick's observations with what the generator expects.
    Returns (attempted, failed, problems)."""
    exp = manifest["expected"]
    stations = sum(exp[p]["locations"] for p in scaler.STATION_PROVIDERS)
    changed_ab = sum(manifest["changed_stations"].values())
    ticks = [(f"warmup{i}", t) for i, t in enumerate(result["warmup"])] + [
        (f"tick{i}", t) for i, t in enumerate(result["ticks"])]
    if "trace" in result:
        ticks.append(("traced", result["trace"]))
    attempted = failed = 0
    problems = []
    for name, t in ticks:
        for p in scaler.PROVIDERS:
            attempted += 1
            got, want = t["k5"].get(p, {}), exp[p]
            rows = t["measure_rows"].get(p)
            bad = []
            if not got.get("ok"):
                bad.append(f"ok=false ({got.get('error')})")
            for k in ("locations", "measures", "from", "to"):
                if got.get(k) != want[k]:
                    bad.append(f"{k} {got.get(k)} != {want[k]}")
            if rows != want["measures"]:
                bad.append(f"rows written {rows} != {want['measures']}")
            if p in manifest["expected_mobile_rows"]:
                mob = t["measure_rows"].get(f"{p}-mobile")
                if mob != manifest["expected_mobile_rows"][p]:
                    bad.append(f"mobile rows {mob} != "
                               f"{manifest['expected_mobile_rows'][p]}")
            if bad:
                failed += 1
                problems.append(f"{name} {p}: " + "; ".join(bad))
        # station diff-upsert: the cold path writes every station, the warm
        # path (tick_fleet after its first tick) only the A/B delta
        attempted += 1
        cold = workload == "tick_fixture" or name == "warmup0"
        want_changed = stations if cold else changed_ab
        if (t["stations_changed"], t["stations_total"]) != (want_changed, stations):
            failed += 1
            problems.append(f"{name} stations: changed {t['stations_changed']} "
                            f"of {t['stations_total']}, want {want_changed} "
                            f"of {stations}")
    return attempted, failed, problems


def end_to_end(result, setup_s):
    """The gated end-to-end metrics, and three more that are printed only
    (see README.md): measures_per_s is the fixed measure count of the
    workload over wall_s, and the other two spread too widely across
    runs to gate."""
    ticks = result["ticks"]
    med = statistics.median
    walls = [t["wall_s"] for t in ticks]
    measures = [sum(r["measures"] or 0 for r in t["k5"].values()) for t in ticks]
    gated = {
        "wall_s": (med(walls), "s"),
        # process CPU net of JIT compilation, which a timed tick this early
        # in the JVM still shares the cores with
        "cpu_s": (med([t["cpu_s"] - t["jit_s"] for t in ticks]), "s"),
        "setup_s": (setup_s, "s"),
    }
    printed = {
        "measures_per_s": (med([m / w for m, w in zip(measures, walls)]), "1/s"),
        "provider_max_s": (med([max(t["provider_s"].values()) for t in ticks]), "s"),
        "heap_peak_mb": (max(t["old_gen_mb"] for t in result["warmup"] + ticks),
                         "MB"),
    }
    return gated, printed


def per_layer(result, manifest):
    tr = result["trace"]
    lis, lw = tr["listener"], tr["layer_wall_s"]
    layers = lis["layers"]

    def jobs(layer):
        return layers.get(layer, {}).get("jobs", 0)

    def wall(layer):
        return lw.get(layer, 0.0)
    run_s = sum(tr["run_probe_s"].values())
    sink_job_s = sum(layers.get(l, {}).get("job_s", 0.0) for l in (
        "sinks.csv", "sinks.envelope", "sinks.diff", "sinks.watermark",
        "sinks.summary"))
    payload = sum(manifest["payload_bytes"].values())
    m = {
        "pipeline.tick_jobs": (lis["jobs"], "count"),
        "pipeline.jobs_max_provider": (
            max(v for k, v in lis["provider_jobs"].items() if k), "count"),
        "pipeline.config_scan_s": (wall("pipeline.config_scan"), "s"),
        "pipeline.run_s": (run_s, "s"),
        "spark.driver_only_s": (tr["wall_s"] - lis["task_busy_s"], "s"),
        "spark.busy_share": (lis["task_run_s"] / (tr["wall_s"] * lis["cores"]),
                             "ratio"),
        "sources.infer_jobs": (jobs("sources.infer"), "count"),
        "sources.infer_s": (wall("sources.infer"), "s"),
        "sources.payload_read_ratio": (lis["input_bytes"] / payload, "ratio"),
        "sinks.csv_s": (wall("sinks.csv"), "s"),
        "sinks.csv_jobs": (jobs("sinks.csv"), "count"),
        "sinks.envelope_s": (wall("sinks.envelope"), "s"),
        "sinks.envelope_jobs": (jobs("sinks.envelope"), "count"),
        "sinks.diff_s": (wall("sinks.diff"), "s"),
        "sinks.diff_jobs": (jobs("sinks.diff"), "count"),
        "sinks.stations_changed_share": (
            tr["stations_changed"] / tr["stations_total"], "ratio"),
        "sinks.watermark_s": (wall("sinks.watermark"), "s"),
        "sinks.summary_s": (wall("sinks.summary"), "s"),
        "sinks.summary_jobs": (jobs("sinks.summary"), "count"),
        "sinks.output_bytes": (tr["output"]["bytes"], "bytes"),
        "sinks.output_files": (tr["output"]["files"], "count"),
        "sinks.recompute_ratio": (sink_job_s / run_s, "ratio"),
        "spark.task_cpu_s": (lis["task_cpu_s"], "s"),
        "spark.gc_s": (lis["gc_s"], "s"),
        "spark.tasks": (lis["tasks"], "count"),
        "spark.shuffle_read_bytes": (lis["shuffle_read_bytes"], "bytes"),
        "spark.shuffle_write_bytes": (lis["shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (lis["spill_bytes"], "bytes"),
        "trace.overhead_s": (tr["wall_s"] - tr["untraced_wall_s"], "s"),
    }
    for p in scaler.PROVIDERS:
        m[f"pipeline.provider_s.{p}"] = (tr["seam_s"][p], "s")
    return {**untouched(("queries.",)), **m}


def untouched(prefixes):
    """Zeros for the per-layer metrics of BENCHMARK.json whose names
    start with ``prefixes``: the layers a workload never runs (a tick runs
    no catalog query, a catalog pass no provider pipeline), so that every
    workload reports every declared metric."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    return {m["name"]: (0, m["unit"]) for m in declared
            if m["name"].startswith(prefixes)}


def launch(main_class, classpath, plan, work, deadline_s):
    """Run one benchmark JVM on ``plan``; return its result, or an exit
    code after printing why there is none."""
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    log_path = os.path.join(work, "jvm.log")
    try:
        rc = run_jvm(main_class, classpath, plan_path, log_path, deadline_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {deadline_s:.0f} s; log in {log_path}",
              file=sys.stderr)
        return 3
    if rc != 0 or not os.path.exists(plan["result_path"]):
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        print(f"perfbench: JVM exited {rc}; tail of {log_path}:\n"
              + "".join(tail), file=sys.stderr)
        return 4
    with open(plan["result_path"]) as f:
        return json.load(f)


def run_ticks(args, classpath, work, cores, started):
    wl = WORKLOADS[args.workload]
    t = time.monotonic()
    manifest = scaler.generate(os.path.join(work, "inputs"), args.seed,
                               wl["factors"], wl["variants"])
    gen_s = time.monotonic() - t
    plan = {"workload": args.workload, "work_dir": work,
            "config_dir": manifest["config_dir"], "inputs": manifest["inputs"],
            "cores": cores, "seconds": args.seconds, "trace": bool(args.trace),
            "result_path": os.path.join(work, "result.json")}
    result = launch("graft.perfbench.TickBench", classpath, plan, work,
                    RUN_DEADLINE_S - (time.monotonic() - started))
    if isinstance(result, int):
        return result
    attempted, failed, problems = check(result, manifest, args.workload)
    setup_s = gen_s + result["setup"]["ready_s"]
    if args.trace:
        metrics, printed = per_layer(result, manifest), {}
    else:
        metrics, printed = end_to_end(result, setup_s)
    lines = [f"setup {setup_s:.3f} s: generate {gen_s:.3f} s, session "
             f"{result['setup']['session_s']:.3f} s, warm-up tick "
             f"{result['setup']['warmup_s']:.3f} s"]
    for i, t in enumerate(result["ticks"]):
        lines.append(f"tick {i}: wall {t['wall_s']:.3f} s, cpu {t['cpu_s']:.3f} s, "
                     f"jit {t['jit_s']:.3f} s, gc {t['gc_s']:.3f} s")
    if args.trace:
        tr = result["trace"]
        lines.append(f"trace: untraced tick {tr['untraced_jobs']} jobs, traced "
                     f"tick {tr['listener']['jobs']} jobs")
        for layer, v in sorted(tr["listener"]["layers"].items()):
            lines.append(f"  layer {layer:22s} jobs {v['jobs']:4d}  job_s "
                         f"{v['job_s']:8.3f}  wall_s "
                         f"{tr['layer_wall_s'].get(layer, 0.0):8.3f}")
    env = dict(result["env"], device_factors=wl["factors"])
    return attempted, failed, problems, metrics, printed, env, lines


def run_catalog(args, classpath, work, cores, started):
    t = time.monotonic()
    data = os.path.join(work, "data")
    documents.generate(data, args.seed)
    gen_s = time.monotonic() - t
    plan = {"work_dir": work, "data_dir": data, "queries": catalog.QUERIES,
            "warmup_passes": catalog.WARMUP_PASSES,
            "min_passes": catalog.MIN_PASSES, "cores": cores,
            "seconds": args.seconds, "trace": bool(args.trace),
            "result_path": os.path.join(work, "result.json")}
    result = launch("graft.perfbench.CatalogBench", classpath, plan, work,
                    RUN_DEADLINE_S - (time.monotonic() - started))
    if isinstance(result, int):
        return result
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    oracle = catalog.oracle_problems(data, os.path.join(work, "results"),
                                     oracle_sql, catalog.QUERIES)
    attempted, failed, problems = catalog.check(result, oracle)
    if args.trace:
        metrics, printed = {**untouched(("pipeline.", "sources.", "sinks.")),
                            **catalog.per_layer(result)}, {}
    else:
        metrics, printed = catalog.end_to_end(result, gen_s)
    lines = [f"setup {gen_s + result['setup']['ready_s']:.3f} s: generate "
             f"{gen_s:.3f} s, session {result['setup']['session_s']:.3f} s, "
             f"first pass {result['warmup']['wall_s']:.3f} s with result writes"]
    lines += [f"warm-up pass {i + 1}: wall {p['wall_s']:.3f} s"
              for i, p in enumerate(result["warmup_more"])]
    lines += [f"pass {i}: wall {p['wall_s']:.3f} s, cpu {p['cpu_s']:.3f} s, "
              f"jit {p['jit_s']:.3f} s" for i, p in enumerate(result["passes"])]
    for q in catalog.QUERIES:
        lines.append(f"  {q:26s} " + "  ".join(
            f"{p['queries'][q].get('wall_s', float('nan')):7.3f}"
            for p in [result["warmup"]] + result["warmup_more"] + result["passes"]))
    env = dict(result["env"], queries=catalog.QUERIES)
    return attempted, failed, problems, metrics, printed, env, lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["query_catalog"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cores = min(4, nproc())

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()
    work = os.path.join(build.BUILD_DIR, "work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = (run_catalog(args, classpath, work, cores, started)
           if args.workload == "query_catalog"
           else run_ticks(args, classpath, work, cores, started))
    if isinstance(out, int):
        return out
    attempted, failed, problems, metrics, printed, env, lines = out
    env.update(nproc=nproc(), cores=cores, xmx=JVM_HEAP, git_sha=git_sha(),
               source_hash=build.source_hash(), seed=args.seed,
               workload=args.workload)
    print("env " + json.dumps(env, sort_keys=True))
    for line in lines:
        print(line)
    for p in problems[:20]:
        print("MISMATCH " + p)
    print(f"fail_share {failed / attempted:.6f} ratio ({failed}/{attempted})")
    for name, (v, unit) in {**metrics, **printed}.items():
        print(f"{name} {v} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
