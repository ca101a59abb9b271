#!/usr/bin/env python3
"""perfbench: the seeded benchmark of flusherspark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (its own build under perfbench/, which
depends on the checkout's build); later runs reuse the build while the
sources are unchanged. Each run starts one JVM (`local[nproc]`), sets the
workload up several times from a fresh state, measures it closed-loop for
S seconds, checks every output outside the timed windows, and prints one
JSON object as the last line of stdout. `--trace 1` reports the per-layer
metrics instead of the end-to-end ones. All state lives in a per-run
directory under .bench_run/ that is removed when the run ends.

`python3 perfbench/run.py --selfcheck` checks the metric math alone.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_run"
WORKLOADS = ("etl_poll", "catalog")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# java.base packages Spark reflects into on JDK 17 (the list
# org.apache.spark.launcher.JavaModuleOptions passes to spark-submit)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# what one operation and one throughput unit are, per workload
OP_UNITS = {
    "etl_poll": ("sheet job (run-log start to end)", "jobs"),
    "catalog": ("catalog pass (sum over its queries of QueryDef.run + noop write)", "queries"),
}

# root span of one operation, for driver.gap_s
OP_SPANS = {
    "etl_poll": "etl.poll",
    "catalog": "catalog.query",
}

# the span that times DataFrame construction (self time for a sheet job:
# resolve, read, slice, header and infer) and the spans that time writes
CONSTRUCT_SPAN = {"etl_poll": ("etl.job", "self_s"), "catalog": ("operators.construct", "total_s")}
WRITE_SPANS = {"etl_poll": ("sinks.overwrite", "sinks.append", "sinks.csv"),
               "catalog": ("exec.write",)}

CATALOG_BUILDERS = ("d00",)
CATALOG_INDEX_SERVES = ("d04", "m05", "v08")

# figures this benchmark does not report, and why
NOT_MEASURED = {
    "job and query p90": "a 10 s window holds about 16 jobs or 22 queries; a p90 needs 100 "
                         "samples to have ten beyond it",
    "per-query p50": "across queries of different cost it is one query's time; the median "
                     "catalog pass (op_p50_s) is reported instead",
    "curation docs/s at sf1": "one sf1 run takes about 45 s, too long for a run; the traced "
                              "catalog run times the recipe's stages at sf0.01",
    "builders m00, d11, m09": "outside the 11-query set, which one pass must fit",
    "streaming end-to-end": "no streaming workload; the traced etl_poll run reports one cold "
                            "replay's stream.* figures",
}


class BenchError(Exception):
    pass


def source_stamp():
    """Content hash of everything the build reads."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".properties", ".sbt", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError("no engine sources here (build.sbt, src/main/scala): "
                         "run from the root of a flusherspark checkout")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    BUILD.mkdir(exist_ok=True)
    log_path = BUILD / "build.log"
    with open(log_path, "w") as log:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S).returncode
    lines = log_path.read_text().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise BenchError(f"build failed (sbt exit {rc}); log in {log_path}")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1], stamp


def heap_size():
    """A third of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        gib = kb // (1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gib = 6
    return f"{max(2, min(4, gib // 3))}g"


def run_jvm(cp, args, rundir, deadline):
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") \
        else "java"
    for d in ("tmp", "spark-local", "warehouse", "work"):
        (rundir / d).mkdir(parents=True, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{heap_size()}",
        f"-Xmx{heap_size()}",
        "-XX:-UsePerfData",  # no hsperfdata file outside the run directory
        f"-Djava.io.tmpdir={rundir / 'tmp'}",
        f"-Dspark.local.dir={rundir / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={rundir / 'warehouse'}",
        f"-Dderby.system.home={rundir}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(HERE / "data"), "--expected", str(HERE / "expected.json"),
        "--work", str(rundir / "work"), "--out", str(rundir / "raw.json"),
    ]
    log_path = rundir / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=rundir, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not (rundir / "raw.json").is_file():
        tail = log_path.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise BenchError(f"benchmark JVM failed (exit {rc})")
    return json.loads((rundir / "raw.json").read_text())


def window_metrics(w):
    """End-to-end figures of one measured window."""
    return {
        "op_p50_s": metrics.percentile(w["samples"], 0.5),
        "units_per_s": w["units"] / w["busy_s"],
    }


def percentiles(w):
    """The window's sample count, its highest percentile with at least ten
    samples beyond it (none below 20 samples) and the median per label."""
    n = len(w["samples"])
    by_label = {}
    for label, x in zip(w["labels"], w["samples"]):
        by_label.setdefault(label, []).append(x)
    out = {"samples": n, "ops": w["ops"], "wall_s": w["wall_s"],
           "median_by_label_s": {k: statistics.median(v) for k, v in sorted(by_label.items())}}
    for q in (0.99, 0.9):
        if n * (1 - q) >= 10:
            out[f"op_p{round(q * 100)}_s"] = metrics.percentile(w["samples"], q)
            break
    return out


def span_dicts(raw):
    return [{"id": s[0], "parent": s[1], "name": s[2], "start": s[3], "end": s[4], "req": s[5]}
            for s in raw.get("spans", [])]


def layer_report(workload, raw):
    """Per-layer figures of the traced window: the Spark/JVM counters every
    workload reports (the metrics, as (value, unit)), the layer-specific
    figures and a table per span name (both for the report)."""
    w = raw["traced"]
    ops = max(1, len(w["samples"]))
    spans = span_dicts(raw)
    jobs = [{"id": j[0], "start": j[1], "end": j[2], "stages": j[3], "tasks": j[4],
             "run_ms": j[5], "cpu_ns": j[6], "input": j[7], "sh_read": j[8], "sh_write": j[9],
             "spill": j[10], "peak": j[11], "output": j[12]} for j in raw.get("jobs", [])]
    actions = raw.get("actions", [])
    intervals = [(j["start"], j["end"]) for j in jobs]
    roots = [s for s in spans if s["name"] == OP_SPANS[workload]]
    gap_ns = sum(metrics.gap_time(s, intervals) for s in roots)

    def per_op(x):
        return x / ops

    counters = {
        "spark.jobs": (per_op(len(jobs)), "count/op"),
        "spark.stages": (per_op(sum(j["stages"] for j in jobs)), "count/op"),
        "spark.tasks": (per_op(sum(j["tasks"] for j in jobs)), "count/op"),
        "spark.task_run_s": (per_op(sum(j["run_ms"] for j in jobs) / 1e3), "s/op"),
        "spark.task_cpu_s": (per_op(sum(j["cpu_ns"] for j in jobs) / 1e9), "s/op"),
        "spark.input_bytes": (per_op(sum(j["input"] for j in jobs)), "bytes/op"),
        "spark.shuffle_read_bytes": (per_op(sum(j["sh_read"] for j in jobs)), "bytes/op"),
        "spark.shuffle_write_bytes": (per_op(sum(j["sh_write"] for j in jobs)), "bytes/op"),
        "spark.spill_bytes": (per_op(sum(j["spill"] for j in jobs)), "bytes/op"),
        "spark.peak_exec_mem_mb": (max([j["peak"] for j in jobs] or [0]) / 2**20, "MB"),
        "jvm.gc_s": (per_op(w["gc_s"]), "s/op"),
        "driver.gap_s": (per_op(gap_ns / 1e9), "s/op"),
        "catalyst.analysis_s": (per_op(sum(a[3] for a in actions) / 1e3), "s/op"),
        "catalyst.optimization_s": (per_op(sum(a[4] for a in actions) / 1e3), "s/op"),
        "catalyst.planning_s": (per_op(sum(a[5] for a in actions) / 1e3), "s/op"),
    }
    untraced = raw["untraced"]
    counters["trace.overhead_ratio"] = (
        (w["busy_s"] / w["units"]) / (untraced["busy_s"] / untraced["units"]), "ratio")

    # layer-specific figures: self time by span name, Spark jobs by the
    # innermost span their start falls in
    self_t = metrics.self_times(spans)
    by_name = {}
    for s in spans:
        e = by_name.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                           "spark_jobs": 0, "output_bytes": 0})
        e["calls"] += 1
        e["total_s"] += (s["end"] - s["start"]) / 1e9
        e["self_s"] += self_t[s["id"]] / 1e9
    for j in jobs:
        s = metrics.innermost_span(spans, j["start"])
        if s is not None:
            by_name[s["name"]]["spark_jobs"] += 1
            by_name[s["name"]]["output_bytes"] += j["output"]

    def get(name, key):
        return by_name.get(name, {}).get(key, 0)

    def mean_call(name):
        return get(name, "total_s") / get(name, "calls") if get(name, "calls") else None

    # DataFrame construction (with the Spark jobs it runs eagerly) and the
    # write, the two halves every operation of both workloads has
    construct, key = CONSTRUCT_SPAN[workload]
    writes = WRITE_SPANS[workload]
    counters["construct_s"] = (per_op(get(construct, key)), "s/op")
    counters["construct_jobs"] = (per_op(get(construct, "spark_jobs")), "count/op")
    counters["write_s"] = (per_op(sum(get(n, "total_s") for n in writes)), "s/op")
    counters["write_jobs"] = (per_op(sum(get(n, "spark_jobs") for n in writes)), "count/op")

    layers = {}
    if workload == "etl_poll":
        sinks = WRITE_SPANS[workload]
        layers = {
            "control.scan_s": per_op(get("control.scan", "total_s")),
            "control.update_s": per_op(get("control.update", "total_s")),
            "control.updates": per_op(get("control.update", "calls")),
            "runlog.append_s": per_op(get("runlog.append", "total_s")),
            "sources.read_s": per_op(get("etl.job", "self_s")),
            "sources.spark_jobs": per_op(get("etl.job", "spark_jobs")),
            "sinks.overwrite_s": mean_call("sinks.overwrite"),
            "sinks.append_s": mean_call("sinks.append"),
            "sinks.csv_s": mean_call("sinks.csv"),
            "sinks.spark_jobs": per_op(sum(get(n, "spark_jobs") for n in sinks)),
            "sinks.bytes_out": per_op(sum(get(n, "output_bytes") for n in sinks)),
            **raw["layer_values"],
        }
    elif workload == "catalog":
        queries = [s for s in spans if s["name"] == "catalog.query"]
        passes = max(1, w["ops"])
        fam = {}
        for s in queries:
            k = f"catalog.fam.{s['req'][0]}_s"
            fam[k] = fam.get(k, 0.0) + (s["end"] - s["start"]) / 1e9 / passes

        def pass_sum(prefixes):
            return sum((s["end"] - s["start"]) / 1e9 for s in queries
                       if s["req"][:3] in prefixes) / passes

        layers = {
            "operators.construct_s": per_op(get("operators.construct", "total_s")),
            "operators.construct_jobs": per_op(get("operators.construct", "spark_jobs")),
            "exec.write_s": per_op(get("exec.write", "total_s")),
            "plans.builders_s": pass_sum(CATALOG_BUILDERS),
            "plans.index_serve_s": pass_sum(CATALOG_INDEX_SERVES),
            **dict(sorted(fam.items())),
            **raw["layer_values"],
            "cache.touches": raw["layer_values"]["cache.touches"]
                             / (raw["untraced"]["ops"] + w["ops"]),
        }
    spans_table = {k: {kk: (round(vv, 6) if isinstance(vv, float) else vv)
                       for kk, vv in v.items()} for k, v in sorted(by_name.items())}
    return counters, layers, spans_table


def env_report(raw, stamp):
    env = dict(raw["env"])
    env["source_sha256"] = stamp
    try:
        env["git_rev"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                        capture_output=True, text=True,
                                        timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        env["git_rev"] = None
    env["compare_note"] = (
        "the committed BENCH_full*.json figures were measured on a 32-core, 89 GB host; "
        f"this run had {env['nproc']} cores and a {env['heap_max_mb']} MB heap, so compare "
        "only against runs on the same host")
    return env


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true", help="check the metric math and exit")
    args = ap.parse_args()
    metrics.selfcheck()
    if args.selfcheck:
        print("metric math self-check passed")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    try:
        cp, stamp = build()
        deadline = time.monotonic() + RUN_TIMEOUT_S  # a build does not eat the run's budget
        RUNS.mkdir(exist_ok=True)
        rundir = RUNS / f"{args.workload}-{args.seed}-{os.getpid()}"
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            raw = run_jvm(cp, args, rundir, deadline)
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
            try:
                RUNS.rmdir()
            except OSError:
                pass
    except (BenchError, subprocess.TimeoutExpired) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        return 2

    problems = raw["failures"] + raw["mismatches"]
    attempted = max(1, int(raw["attempted"]))
    e2e = window_metrics(raw["untraced"])
    e2e["setup_s"] = statistics.median(raw["setup_s"]) + raw["warm_up_s"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "operation": OP_UNITS[args.workload][0],
        "throughput_unit": OP_UNITS[args.workload][1],
        "fail_ratio": len(problems) / attempted,
        "refusals": raw["refusals"],
        "problems": problems[:20],
        "setup_runs_s": raw["setup_s"],
        "warm_up_s": raw["warm_up_s"],
        "untraced": {**e2e, **percentiles(raw["untraced"])},
        "env": env_report(raw, stamp),
        "not_measured": NOT_MEASURED,
    }
    units = {"op_p50_s": "s", "units_per_s": "1/s", "setup_s": "s"}
    if args.trace:
        counters, layers, spans_table = layer_report(args.workload, raw)
        report["traced"] = {**window_metrics(raw["traced"]), **percentiles(raw["traced"])}
        report["layers"] = layers
        report["spans"] = spans_table
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in counters.items()}
        print("perfbench spans " + json.dumps(span_dicts(raw)))
    else:
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print("perfbench report " + json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": len(problems),
                      "metrics": out_metrics}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
