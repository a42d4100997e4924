#!/usr/bin/env python3
"""Benchmark of the pharma analytics engine.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <pharma_e2e|curation_versions>
      --seed <n> --seconds <s> --trace <0|1> [--size bench|tiny]

Builds the engine and the harness if needed (perfbench/build.py), runs the
workload in a fresh JVM at local[<cores>] (half the CPUs) with its own
warehouse and temp directories (removed afterwards), checks every output
(oracle.py) and prints one `name value unit` line per metric, then a
one-line JSON summary. --trace 0 reports the end-to-end metrics (CPU
time; the wall-clock figures are printed above them); --trace 1 the
per-layer metrics of a traced run. Spans, per-op timings and check
details go to perfbench/out/<workload>_seed<n>_trace<t>.json."""
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
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("pharma_e2e", "curation_versions")
JVM_TIMEOUT_S = 170
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# name, unit; timed runs report these. Times are CPU seconds of the JVM
# (perfbench.Cpu): on a shared host, hypervisor steal moves wall-clock
# figures by up to 2x between minutes, CPU time far less.
END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("call_cpu_p50_s", "s")]
# wall-clock and memory figures and the workload phases: printed with the
# end-to-end lines (phases where the workload has them) and reported by
# the traced run. Their run-to-run spread on a shared host is too wide to
# bound (wall time: steal; peak live heap: where the collections fall).
WALL = [("pass_s", "s"), ("records_per_s", "1/s"), ("call_p50_s", "s"), ("heap_peak_mb", "MB")]
PHASES = [("ingest_s", "s"), ("dashboard_s", "s"), ("train_s", "s"),
          ("append_p50_s", "s"), ("append_tail_s", "s"), ("version_read_s", "s"),
          ("failed_ops_share", "ratio")]
CURATION = ["q51_dedup_clusters"]
VERSIONED = ["q103_incremental_agg"]
SPARK = [("spark.jobs", "count", "jobs"), ("spark.stages", "count", "stages"),
         ("spark.tasks", "count", "tasks"), ("spark.failed_tasks", "count", "failed_tasks"),
         ("spark.shuffle_write_bytes", "bytes", "shuffle_write_bytes"),
         ("spark.shuffle_read_bytes", "bytes", "shuffle_read_bytes"),
         ("spark.spill_bytes", "bytes", "spill_bytes"), ("spark.input_bytes", "bytes", "input_bytes"),
         ("spark.output_bytes", "bytes", "output_bytes"),
         ("spark.executor_run_s", "s", "executor_run_s"), ("spark.task_wait_s", "s", "task_wait_s"),
         ("sql.queries", "count", "sql_queries"), ("sql.analysis_s", "s", "analysis_s"),
         ("sql.optimization_s", "s", "optimization_s"), ("sql.planning_s", "s", "planning_s"),
         ("codegen.compiles", "count", "codegen_compiles")]


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    u = [(n, unit) for n, unit, _ in SPARK] + [("spark.busy_share", "ratio")]
    u += [("pharma.MedsFeed.flatten_s", "s"), ("pharma.MedsFeed.records", "count"),
          ("pharma.Cleaning.clean_s", "s"), ("pharma.Cleaning.kept_ratio", "ratio"),
          ("core.TableStore.overwrite_s", "s"), ("core.TableStore.bytes_written", "bytes"),
          ("core.TableStore.files_written", "count")]
    u += [(f"pharma.Dashboard.q{n:02d}_s", "s") for n in range(1, 15)]
    u += [("pharma.Dashboard.jobs", "count"), ("pharma.Dashboard.shuffle_bytes", "bytes")]
    u += [(f"pharma.InsuranceModel.{m}", "s")
          for m in ("fit_s", "transform_s", "evaluate_s", "persist_roundtrip_s")]
    u += [("pharma.InsuranceModel.jobs", "count")]
    for q in CURATION:
        u += [(f"queries.{q}.s", "s"), (f"queries.{q}.jobs", "count"),
              (f"queries.{q}.shuffle_bytes", "bytes")]
    u += [(f"core.DeltaExport.{m}", "s") for m in
          ("append_s", "merge_s", "time_travel_s", "cdf_read_s", "checkpoint_s", "replay_s")]
    u += [("core.DeltaExport.log_bytes", "bytes"), ("core.DeltaExport.data_bytes", "bytes"),
          ("core.DeltaExport.files", "count"), ("core.DeltaExport.write_amplification", "ratio"),
          ("core.DeltaExport.space_amplification", "ratio")]
    for q in VERSIONED:
        u += [(f"queries.{q}.s", "s"), (f"queries.{q}.jobs", "count")]
    u += [("trace.overhead_s", "s")] + WALL + PHASES
    return u


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest of p99/p95/p90/p75/p50 with at least ten samples above it."""
    xs = sorted(xs)
    for p in (0.99, 0.95, 0.9, 0.75, 0.5):
        if len(xs) * (1 - p) >= 10:
            return xs[min(len(xs) - 1, int(p * len(xs)))], p
    return (xs[-1], 1.0) if xs else (0.0, 1.0)


def phases(ops, passes, attempted, failed):
    """The workload-phase metrics over the given (untraced, measured) passes."""
    def per_pass(kind):
        sums = [sum(o["seconds"] for o in ops if o["pass"] == p and o["kind"] == kind) for p in passes]
        return median([s for s in sums if s > 0])
    appends = [o["seconds"] for o in ops if o["pass"] in passes and o["kind"] == "append"]
    return {"ingest_s": per_pass("ingest"), "dashboard_s": per_pass("dashboard"),
            "train_s": per_pass("train"), "append_p50_s": median(appends),
            "append_tail_s": tail(appends)[0], "version_read_s": per_pass("version_read"),
            "failed_ops_share": failed / attempted}


def wall_figures(res, passes):
    """The wall-clock and memory figures over the given (untraced, measured) passes."""
    pass_s = median([p["seconds"] for p in passes])
    ids = {p["pass"] for p in passes}
    return {"pass_s": pass_s, "records_per_s": res["records"] / pass_s,
            "call_p50_s": median([o["seconds"] for o in res["ops"] if o["pass"] in ids]),
            "heap_peak_mb": res["heap_peak_mb"]}


def end_to_end(res, attempted, failed):
    passes = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    ids = {p["pass"] for p in passes}
    ops = res["ops"]
    st = res["setup"]
    m = {"setup_s": (st["session_cpu_s"] + median(st["gen_cpu_s"]) + median(res["py_gen_cpu_s"])
                     + st["warmup_cpu_s"] + st["settle_cpu_s"]),
         "pass_cpu_s": median([p["cpu_s"] for p in passes]),
         "call_cpu_p50_s": median([o["cpu_s"] for o in ops if o["pass"] in ids])}
    m.update(wall_figures(res, passes))
    m.update(phases(ops, ids, attempted, failed))
    info = {"passes": len(passes), "calls": sum(1 for o in ops if o["pass"] in ids),
            "appends": sum(1 for o in ops if o["pass"] in ids and o["kind"] == "append"),
            "append_tail_percentile": tail([o["seconds"] for o in ops
                                            if o["pass"] in ids and o["kind"] == "append"])[1],
            "pass_s_max": max(p["seconds"] for p in passes),
            "setup": dict(st, py_gen_s=res["py_gen_s"], py_gen_cpu_s=res["py_gen_cpu_s"],
                          setup_wall_s=(st["session_s"] + median(st["gen_s"])
                                        + median(res["py_gen_s"]) + st["warmup_s"]
                                        + st["settle_s"])),
            "cores": res["cores"], "jit_threads": res["jit_threads"],
            "steal_share": res["steal_share"]}
    return m, info


def subtree(spans, root):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def self_seconds(spans):
    """Span duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered, cur = 0, None
        for a, b in sorted(kids.get(s["id"], [])):
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["id"]] = max(0.0, s["seconds"] - covered / 1e3)
    return out


def per_layer(res, attempted, failed):
    spans, ops = res["spans"], res["ops"]
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    roots = [s for s in spans if s["name"] == "pass" and s["parent"] == 0]
    in_pass = [s for r in roots for s in subtree(spans, r)]
    n = max(1, len(roots))
    m = {name: 0.0 for name, _ in per_layer_units()}

    def summed(sel, key):
        return sum(s[key] for s in sel) / n

    for name, _, key in SPARK:
        m[name] = summed(in_pass, key)
    # the compile counter is read across a span, children included
    m["codegen.compiles"] = summed(roots, "codegen_compiles")
    wall = sum(p["seconds"] for p in traced)
    m["spark.busy_share"] = sum(s["executor_run_s"] for s in in_pass) / (wall * res["cores"])

    tops = {p["pass"] for p in traced}
    tops_ops = [o for o in ops if o["pass"] in tops]

    def secs(span):
        return median([o["seconds"] for o in tops_ops if o["span"] == span])

    def under(prefix):
        return [s for r in in_pass if r["name"].startswith(prefix) for s in subtree(spans, r)]

    probe = [o for o in ops if o["pass"] == 0]
    flat = [o for o in probe if o["span"] == "pharma.MedsFeed.flatten"]
    both = [o for o in probe if o["span"] == "pharma.MedsFeed.flatten+pharma.Cleaning.all"]
    if flat and both:
        m["pharma.MedsFeed.flatten_s"] = median([o["seconds"] for o in flat])
        rows = {o["span"]: o["rows"] for o in probe if o["span"].endswith(".rows")}
        m["pharma.MedsFeed.records"] = rows["pharma.MedsFeed.flatten.rows"]
        m["pharma.Cleaning.clean_s"] = max(0.0, median([o["seconds"] for o in both])
                                           - m["pharma.MedsFeed.flatten_s"])
        m["pharma.Cleaning.kept_ratio"] = (rows["pharma.MedsFeed.flatten+pharma.Cleaning.all.rows"]
                                           / m["pharma.MedsFeed.records"])
    m["core.TableStore.overwrite_s"] = secs("core.TableStore.overwrite")
    m["core.TableStore.bytes_written"] = summed(under("core.TableStore.overwrite"), "output_bytes")
    m["core.TableStore.files_written"] = median(
        [o["extra"]["files_written"] for o in tops_ops if "files_written" in o["extra"]])
    for q in range(1, 15):
        m[f"pharma.Dashboard.q{q:02d}_s"] = secs(f"pharma.Dashboard.q{q:02d}")
    dash = under("pharma.Dashboard.")
    m["pharma.Dashboard.jobs"] = summed(dash, "jobs")
    m["pharma.Dashboard.shuffle_bytes"] = summed(dash, "shuffle_write_bytes")
    for step in ("fit", "transform", "evaluate", "persist_roundtrip"):
        m[f"pharma.InsuranceModel.{step}_s"] = median(
            [o["seconds"] for o in probe if o["span"] == f"pharma.InsuranceModel.{step}"])
    m["pharma.InsuranceModel.jobs"] = summed(under("pharma.InsuranceModel.trainAndEvaluate"), "jobs")
    for q in CURATION + VERSIONED:
        sel = under(f"queries.{q}")
        m[f"queries.{q}.s"] = secs(f"queries.{q}")
        m[f"queries.{q}.jobs"] = summed(sel, "jobs")
        if q in CURATION:
            m[f"queries.{q}.shuffle_bytes"] = summed(sel, "shuffle_write_bytes")
    for call in ("append", "merge", "time_travel", "cdf_read", "checkpoint", "replay"):
        m[f"core.DeltaExport.{call}_s"] = secs(f"core.DeltaExport.{call}")
    store = [o["extra"] for o in tops_ops if o["span"] == "core.DeltaExport.storage"]
    if store:
        for k in ("log_bytes", "data_bytes", "files"):
            m[f"core.DeltaExport.{k}"] = median([s[k] for s in store])
        live = median([s["live_bytes"] for s in store])
        written = summed([s for c in ("write", "append", "merge", "checkpoint")
                          for s in under(f"core.DeltaExport.{c}")], "output_bytes")
        m["core.DeltaExport.write_amplification"] = (written + m["core.DeltaExport.log_bytes"]) / live
        m["core.DeltaExport.space_amplification"] = (
            m["core.DeltaExport.data_bytes"] + m["core.DeltaExport.log_bytes"]) / live
    m["trace.overhead_s"] = (median([p["seconds"] for p in traced])
                             - median([p["seconds"] for p in untraced]))
    m.update(wall_figures(res, untraced))
    m.update(phases(ops, {p["pass"] for p in untraced}, attempted, failed))
    return m


def cpu_times():
    """(total, steal) jiffies of the machine, to report how much CPU time
    the hypervisor took away during the run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def run_jvm(args, work, out, cp):
    # half the CPUs: the JVM's driver, GC and JIT threads keep the rest,
    # so the task threads do not queue behind them
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, d))
    py_gen_s, py_gen_cpu_s = [], []
    if args.workload == "curation_versions":
        # inputs written before the JVM starts; Main points the workload
        # at input3 (it numbers its three set-ups the same way)
        for i in (1, 2, 3):
            t, c = time.time(), time.process_time()
            gen.curation_versions(os.path.join(work, f"input{i}"), args.seed, args.size)
            py_gen_s.append(time.time() - t)
            py_gen_cpu_s.append(time.process_time() - c)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    # class-data archive: the first run after a build writes it at exit
    cds = (f"-XX:SharedArchiveFile={build.ARCHIVE}" if os.path.exists(build.ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={build.ARCHIVE}")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           "-XX:-UseDynamicNumberOfCompilerThreads", cds, *JDK17_OPENS,
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", out, "--size", args.size]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also when this process is stopped by a signal (see main)
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(out):
        kept = os.path.join(HERE, "out", os.path.basename(work) + ".log")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.copy(log_path, kept)
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: JVM run failed ({rc}); log: {kept}")
    return py_gen_s, py_gen_cpu_s


def _stop(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    # SIGTERM unwinds like an error, so the JVM is killed and the scratch
    # directory removed
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args()

    cp = build.ensure()
    run_id = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{run_id}_{os.getpid()}")
    out = os.path.join(work, "result.json")
    try:
        os.makedirs(work)
        t0, cpu0 = time.time(), cpu_times()
        py_gen_s, py_gen_cpu_s = run_jvm(args, work, out, cp)
        jvm_s, cpu1 = time.time() - t0, cpu_times()
        with open(out) as f:
            res = json.load(f)
        res["py_gen_s"], res["py_gen_cpu_s"] = py_gen_s, py_gen_cpu_s
        res["steal_share"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        attempted, failures = oracle.check(res)
        failed = len({f[0] for f in failures})
        e2e, info = end_to_end(res, attempted, failed)
        layer = per_layer(res, attempted, failed) if args.trace else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    side = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "wall_s": time.time() - t0,
            "jvm_s": jvm_s, "main_s": res["main_s"],
            "end_to_end": e2e, "info": info, "per_layer": layer, "failures": failures,
            "ops": res["ops"], "passes": res["passes"]}
    if args.trace:
        selfs = self_seconds(res["spans"])
        side["spans"] = [dict(s, self_s=selfs[s["id"]], run_id=run_id) for s in res["spans"]]
    with open(os.path.join(HERE, "out", f"{run_id}.json"), "w") as f:
        json.dump(side, f, indent=1, default=str)

    for label, why in failures:
        print(f"# check failed: {label}: {why[:300]}")
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        print(f"# {args.workload} seed={args.seed} cores={info['cores']} passes={info['passes']} "
              f"calls={info['calls']} appends={info['appends']}")
        for k, u in WALL + PHASES:
            if e2e[k] > 0 or k == "failed_ops_share":
                print(f"{k} {e2e[k]:.6g} {u}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
