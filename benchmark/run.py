#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one closed-loop client.

Usage (from the root of a checkout):
  python3 benchmark/run.py --workload <reports|curation|lakehouse> \
      --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness (benchmark/build.py, cached), generates the
sf0.1 input tables (benchmark/gen_data.py, cached), launches the harness
on the compiled classpath, checks the outputs against DuckDB
(benchmark/check.py) and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything it
writes stays under .bench_build/ in the checkout; a run's scratch
directory is deleted when the run ends.
"""
import argparse
import hashlib
import json
import math
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
import check  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("reports", "curation", "lakehouse")
HEAP = "3g"
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170
WRITE_OPS = ("append", "update_sql", "delete_cdf", "merge_sql", "compact")
READ_OPS = ("read", "read_asof", "read_cdf")
PHASES = ("build_ms", "optimize_ms", "physical_ms", "execute_ms")


def cpus():
    return len(os.sched_getaffinity(0))


def data_dir(root):
    """The generated tables, rebuilt when the generator changes."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, ".bench_build", f"data-{tag}")
    if not os.path.isfile(os.path.join(out, "done")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp)
        open(os.path.join(tmp, "done"), "w").close()
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def run_dir(root):
    """A fresh scratch directory for this run; removes those of runs
    whose process is gone (a run killed before it could clean up)."""
    runs = os.path.join(root, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    for name in os.listdir(runs):
        try:
            os.kill(int(name), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)
        except PermissionError:
            pass
    d = os.path.join(runs, str(os.getpid()))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def launch(classpath, args, rd, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseG1GC", "-Xss8m"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={rd}/tmp", "-cp", os.pathsep.join(classpath + [jars]),
            "graftbench.Harness"] + args
    log_path = os.path.join(rd, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=rd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark: harness {'timed out' if code is None else f'exit {code}'}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """90th percentile, interpolated between the two nearest samples."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def by_name(ops):
    """Latencies of the operations, grouped by operation name."""
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o["s"])
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        # a job wholly outside [lo, hi) clips to b <= a and adds nothing
        if b > max(a, end):
            total += b - max(a, end)
            end = b
    return total


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(recs, meta, ops, ok_ops):
    # Each operation name's median latency. A percentile of the pooled
    # latencies would sit on the boundary between two unlike operations
    # and jump between them from run to run; these two statistics move
    # smoothly with every operation's median.
    medians = [median(v) for v in by_name(ok_ops).values()]
    passes = [r["s"] for r in recs if r["t"] == "pass"]
    return {
        "setup_s": metric(meta["setup_s"], "s"),
        "pass_s": metric(median(passes), "s"),
        "op_p50_s": metric(math.exp(statistics.fmean(map(math.log, medians)))
                           if medians else 0.0, "s"),
        "op_tail_s": metric(p90(medians), "s"),
        "heap_peak_mb": metric(meta["heap_peak_mb"], "MB"),
        "ok_ratio": metric(len(ok_ops) / max(1, len(ops)), "ratio"),
    }


def per_layer(recs, meta, ok_ops, lake_final):
    n_cpu = meta["cpus"]
    passes = [r for r in recs if r["t"] == "pass"]
    traced_pass = [r for r in passes if r["traced"]]
    plain_pass = [r for r in passes if not r["traced"]]
    traced = [o for o in ok_ops if o["traced"]]
    plain = [o for o in ok_ops if not o["traced"]]
    jobs = [r for r in recs if r["t"] == "job"]
    stages = {r["id"]: r for r in recs if r["t"] == "stage"}
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    n = max(1, len(traced))
    mean = lambda f: sum(f(o) for o in traced) / n

    def op_stages(o):
        return [stages[int(s)] for j in by_group.get(o["group"], [])
                for s in j["stages"].split(",") if s and int(s) in stages]

    def stage_sum(o, key):
        return sum(s[key] for s in op_stages(o))

    intervals = [(j["t0"], j["t1"]) for j in jobs]
    in_job = {id(o): union_ms(intervals, o["t0"], o["t1"]) for o in traced}
    op_ms = lambda o: o["t1"] - o["t0"]
    wall_ms = sum(p["t1"] - p["t0"] for p in traced_pass)
    run_ms = sum(s["run_ms"] for s in stages.values())
    mb = 1048576.0

    def p50_ms(name):
        return median([o["s"] * 1000 for o in traced if o["name"] == name])

    def plain_p50(names):
        return median([o["s"] for o in plain if o["name"] in names])

    writes = [o for o in traced if o["name"] in WRITE_OPS]
    ends = [r for r in recs if r["t"] == "round_end" and r["pass"] >= 0]
    bytes_round = sum(r["bytes_round"] for r in ends)
    bytes_append = sum(r["bytes_append"] for r in ends)
    m = {
        "queries.build_ms": (mean(lambda o: o.get("build_ms", 0.0)), "ms"),
        "plans.optimize_ms": (mean(lambda o: o.get("optimize_ms", 0.0)), "ms"),
        "plans.physical_ms": (mean(lambda o: o.get("physical_ms", 0.0)), "ms"),
        "exec.jobs": (mean(lambda o: len(by_group.get(o["group"], []))), "count"),
        "exec.stages": (mean(lambda o: len(op_stages(o))), "count"),
        "exec.tasks": (mean(lambda o: stage_sum(o, "tasks")), "count"),
        "exec.in_job_ms": (mean(lambda o: in_job[id(o)]), "ms"),
        "exec.outside_job_ms": (mean(lambda o: op_ms(o) - in_job[id(o)]), "ms"),
        "exec.task_cpu_ms": (mean(lambda o: stage_sum(o, "cpu_ns") / 1e6), "ms"),
        "exec.core_busy_ratio": (run_ms / max(1.0, wall_ms * n_cpu), "ratio"),
        "exec.shuffle_write_mb": (mean(lambda o: stage_sum(o, "shuffle_write_b") / mb), "MB"),
        "exec.shuffle_read_mb": (mean(lambda o: stage_sum(o, "shuffle_read_b") / mb), "MB"),
        "exec.spill_mb": (mean(lambda o: stage_sum(o, "spill_b") / mb), "MB"),
        "exec.gc_ms": (mean(lambda o: stage_sum(o, "gc_ms")), "ms"),
        "exec.unattributed_jobs": (float(len(by_group.get("", []))), "count"),
        "sources.jobs_per_commit": (
            sum(len(by_group.get(o["group"], [])) for o in writes) / max(1, len(writes)),
            "count"),
        "sources.files_live": (float(lake_final.get("files_live", 0)), "count"),
        "sources.versions": (float(lake_final.get("versions", 0)), "count"),
        "sources.bytes_written_mb": (bytes_round / mb, "MB"),
        "sources.write_p50_s": (plain_p50(WRITE_OPS), "s"),
        "sources.read_p50_s": (plain_p50(READ_OPS), "s"),
        "sources.write_amp": (bytes_round / bytes_append if bytes_append else 0.0, "ratio"),
        "jvm.gc_count": (float(meta["gc_count"]), "count"),
        "jvm.gc_ms": (float(meta["gc_ms"]), "ms"),
        "trace.overhead_ratio": (
            median([p["s"] for p in traced_pass]) / max(1e-9, median([p["s"] for p in plain_pass])),
            "ratio"),
        "trace.op_self_ms": (mean(lambda o: op_ms(o) - sum(o[k] for k in PHASES)
                                  if "execute_ms" in o else 0.0), "ms"),
    }
    for phase in ("parsing", "analysis", "optimization", "planning"):
        m[f"plans.catalyst_{phase}_ms"] = (mean(lambda o: o.get(f"catalyst_{phase}_ms", 0.0)), "ms")
    for op in WRITE_OPS + READ_OPS + ("manifest",):
        m[f"sources.{op}_ms"] = (p50_ms(op), "ms")
    return {k: metric(v, u) for k, (v, u) in sorted(m.items())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classpath = build.build(root)
    data = data_dir(root)
    deadline = time.monotonic() + RUN_LIMIT_S
    rd = run_dir(root)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = os.path.join(rd, "records.jsonl")
        launch(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--data", data, "--run-dir", rd, "--cpus", str(cpus()),
                           "--out", out], rd, deadline)
        with open(out) as f:
            recs = [json.loads(line) for line in f]
        meta = next(r for r in recs if r["t"] == "meta")
        ops = [r for r in recs if r["t"] == "op"]
        if a.workload == "lakehouse":
            rounds = {r["round"]: r for r in recs if r["t"] == "round"}
            ends = {r["round"]: r for r in recs if r["t"] == "round_end"}
            round_of = {r["pass"]: r["round"] for r in rounds.values()}
            bad, msgs = check.check_lake(rounds, ends, data,
                                         os.path.join(rd, "out", "lake_final"))
            # a round's op fails on its own mismatch; a final-table
            # mismatch fails every write
            failed_op = lambda o: ((round_of[o["pass"]], o["name"]) in bad or
                                   ((None, "final") in bad and o["name"] in WRITE_OPS))
        else:
            bad, msgs = check.check_keys(
                [r for r in recs if r["t"] == "warm"], data, os.path.join(rd, "out"),
                os.path.join(root, ".bench_build", "oracle"))
            failed_op = lambda o: (None, o["name"]) in bad
        for msg in msgs:
            print(f"check: {msg}", file=sys.stderr)
        ok_ops = [o for o in ops if o["ok"] and not failed_op(o)]
        lake_final = next((r for r in recs if r["t"] == "lake_final"), {})
        keep = os.path.join(root, ".bench_build", "records")
        os.makedirs(keep, exist_ok=True)
        shutil.copyfile(out, os.path.join(
            keep, f"{a.workload}-seed{a.seed}-trace{a.trace}.jsonl"))
        if a.trace:
            metrics = per_layer(recs, meta, ok_ops, lake_final)
        else:
            metrics = end_to_end(recs, meta, ops, ok_ops)
        print(f"bench: {a.workload} seed {a.seed}: {meta['passes']} passes, {len(ops)} ops, "
              f"setup {meta['setup_s']:.2f}s (session {meta['session_s']:.2f}s), "
              f"window {meta['window_s']:.2f}s", file=sys.stderr)
        print(json.dumps({"correct": not bad and len(ok_ops) == len(ops),
                          "attempted": len(ops), "failed": len(ops) - len(ok_ops),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(rd, ignore_errors=True)


if __name__ == "__main__":
    main()
