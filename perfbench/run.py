#!/usr/bin/env python3
"""Benchmark command: build the program from source (once per source
state), generate one workload's inputs from a seed, run it in a fresh JVM,
check the outputs against the generator's records and print the metrics.

    python3 perfbench/run.py --workload fanout_live --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is
the run record (load average and the CPU of the benchmark's process tree),
so a contended run can be told from a quiet one.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Spark's local thread count is fixed (and so are its shuffle partitions and
# the number of set-ups, in perfbench.Main) so runs on hosts of different
# sizes do the same work. Two task threads leave the other two cores of a
# 4-core budget to the micro-batch loop, the load generator, the HTTP
# receiver and the dashboard poller; with three, runs were markedly less
# steady (live p50 spread 0.26 against 0.10 over the same five seeds).
CORES = 2
# A fixed, pre-touched heap: peak RSS is then the heap plus native memory
# (thread stacks, metaspace, code cache, direct buffers) rather than however
# far the collector happened to grow the heap.
JVM_HEAP = "1g"

PARAMS = {
    "fanout_live": {"dim_rows": 2000, "tick_ms": 200, "tick_valid": 19, "tick_malformed": 1,
                    "trigger_ms": 3000, "poll_ms": 200, "warm_files": 3, "warm_valid": 285},
    "fanout_catchup": {"dim_rows": 50000, "months": 6, "files": 8, "file_valid": 1000,
                       "file_malformed": 10, "warm_valid": 200, "nominal_round_s": 10,
                       "trace_docs": 30},
    "resident_gates": {"files": 3, "file_docs": 50, "warm_docs": 10, "nominal_round_s": 10},
    "query_suite": {},
}

END_TO_END = {
    "setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms",
    "latency_p90_ms": "ms", "cpu_ms_per_op": "ms", "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "sources.offset_ms": "ms", "sources.backlog_files_max": "count",
    "fanout.trigger_ms": "ms", "fanout.add_batch_ms": "ms", "fanout.plan_ms": "ms",
    "fanout.commit_ms": "ms", "fanout.empty_check_ms": "ms", "fanout.jobs_per_batch": "count",
    "enrich.ms_per_kevent": "ms", "parquet.job_ms": "ms", "parquet.task_cpu_ms": "ms",
    "parquet.shuffle_write_bytes": "bytes", "parquet.files_per_batch": "count",
    "parquet.bytes_per_kevent": "bytes", "leaderboard.job_ms": "ms",
    "leaderboard.increment_ms": "ms", "leaderboard.topk_ms": "ms", "http.job_ms": "ms",
    "http.post_us": "us", "http.receiver_us": "us",
    "gate.batch_ms": "ms", "gate.checkpoint_ms": "ms", "gate.write_ms": "ms",
    "gate.files_per_batch": "count", "gate.jobs_per_batch": "count",
    "query.driver_ms": "ms", "query.jobs": "count", "query.stages": "count",
    "query.exec_run_ms": "ms", "query.task_cpu_ms": "ms", "query.gc_ms": "ms",
    "query.shuffle_bytes": "bytes", "query.spill_bytes": "bytes",
    "jvm.gc_ms": "ms", "jvm.threads_peak": "count", "generator.late_ms": "ms",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


# ------------------------------------------------------------------- build


def source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile the library and the harness with the benchmark's own sbt
    build; reuse the result while no source file changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no program sources next to the benchmark (src/main/scala)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        raise BenchError(f"build failed (see {log}): {lines[-3:]}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# --------------------------------------------------------------------- run


def run_jvm(classpath, workload, work, trace, params, cores, timeout):
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--work", work, "--trace", str(trace),
            "--cores", str(cores)])
    for k, v in params.items():
        cmd += ["--param", f"{k}={v}"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"{workload}: JVM did not finish within {timeout} s")
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(log, errors="replace") as f:
            tail = [ln.rstrip() for ln in f if "Exception" in ln or "Error" in ln][:5]
        raise BenchError(f"{workload}: JVM exited with {rc}: {tail}")
    with open(result_file) as f:
        return json.load(f)


def commit_ms(result):
    """(query id, batch id) -> commit time of that micro-batch (ms on the
    harness clock)."""
    origin = result["epoch_origin_ms"]
    return {(b["query_id"], b["batch"]):
            b["start_ms"] - origin + b["duration_ms"].get("triggerExecution", 0)
            for b in result["batches"]}


def query_of(result, name):
    return next(q for q, n in result["query_ids"].items() if n == name)


def batch_files(ckpt):
    """batch id -> input file names, from the file source's log."""
    out = {}
    sources = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(sources):
        if name.isdigit():
            with open(os.path.join(sources, name)) as f:
                out[int(name)] = [os.path.basename(json.loads(ln)["path"])
                                  for ln in f if ln.startswith("{")]
    return out


def measure_fanout_live(work, result, exp):
    v, received = check.check_fanout_live(work, exp)
    t0, tick = result["t0_ms"], result["tick_ms"]
    lat = [received[e] - (t0 + exp["tick_of"][e] * tick) for e in received]
    end = max(received.values()) if received else result["end_ms"]
    timed_s = (end - t0) / 1000.0
    attempted = len(exp["events"])
    return v, attempted, len(received), timed_s, lat, len(received)


def measure_fanout_catchup(work, result, exp):
    v = check.check_fanout_catchup(work, exp)
    commits = commit_ms(result)
    lat = []
    for r, start in enumerate(result["round_starts_ms"]):
        qid = query_of(result, f"fanout:{r}")
        done = {}
        for b, files in batch_files(os.path.join(work, f"run-{r}", "ckpt")).items():
            for name in files:
                done[name] = commits[(qid, b)]
        lat += [done[exp["file_of"][e]] - start for e in exp["events"]]
    attempted = len(exp["events"]) * exp["rounds"]
    timed_s = (result["end_ms"] - result["start_ms"]) / 1000.0
    completed = attempted - sum(1 for op in v.failed if op not in v.known)
    return v, attempted, completed, timed_s, lat, 0


def measure_resident_gates(work, result, exp):
    v, settled = check.check_resident_gates(work, exp)
    commits = commit_ms(result)
    lat = []
    for r, start in enumerate(result["round_starts_ms"]):
        qids = {g: query_of(result, f"{g}:{r}") for g in check.GATES}
        for doc_id, (gate, batch) in settled[r].items():
            lat.append(commits[(qids[gate], batch)] - start)
    attempted = len(exp["docs"]) * exp["rounds"]
    timed_s = (result["end_ms"] - result["start_ms"]) / 1000.0
    completed = attempted - sum(1 for op in v.failed if op not in v.known)
    return v, attempted, completed, timed_s, lat, 0


def measure_query_suite(work, result, exp):
    v = check.Verdict()
    bad = check.check_queries(os.path.join(work, "results"), os.path.join(work, "star"),
                              exp["queries"])
    runs = result["query_runs"]
    for i, (name, _, _) in enumerate(runs):
        if name in bad:
            v.fail(i, f"{name}: {bad[name]}")
    lat = [end - start for _, start, end in runs]
    timed_s = (result["end_ms"] - result["start_ms"]) / 1000.0
    return v, len(runs), len(runs) - len(v.failed), timed_s, lat, 0


def check_trace_extras(v, work, result, exp):
    """The gate pass of `fanout_catchup`'s traced run and the query pass of
    `fanout_live`'s: their outputs are checked as in their own workloads,
    and any failure makes the run incorrect."""
    extras = result["extras"]
    if "gates" in extras:
        result["query_ids"].update(extras["gates"]["query_ids"])
        gv, _ = check.check_resident_gates(os.path.join(work, "gates"), exp)
        v.problems += [f"gates: {r}" for r in list(gv.failed.values())[:5] + gv.problems]
    if "queries" in extras:
        bad = check.check_queries(os.path.join(work, "results"), os.path.join(work, "star"),
                                  exp["queries"])
        v.problems += [f"query {n}: {r}" for n, r in sorted(bad.items())]


MEASURE = {
    "fanout_live": measure_fanout_live,
    "fanout_catchup": measure_fanout_catchup,
    "resident_gates": measure_resident_gates,
    "query_suite": measure_query_suite,
}


def run(workload, seed, seconds, trace, cores=CORES, overrides=None):
    t_start = time.time()
    load0 = os.getloadavg()[0]
    classpath = build()
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_gen = time.time()
        p = dict(PARAMS[workload], **(overrides or {}))
        params, exp = gen.GENERATORS[workload](work, seed, seconds, p)
        traced_extras = trace and workload in ("fanout_live", "fanout_catchup")
        if traced_extras:
            extra_params, extra_exp = gen.trace_extras(workload, work, seed, p)
            params.update(extra_params)
        children0 = resource.getrusage(resource.RUSAGE_CHILDREN)
        t_jvm = time.time()
        result = run_jvm(classpath, workload, work, trace, params, cores, timeout=170)
        children1 = resource.getrusage(resource.RUSAGE_CHILDREN)
        t_check = time.time()
        v, attempted, completed, timed_s, lat, posts = MEASURE[workload](work, result, exp)
        if traced_extras:
            check_trace_extras(v, work, result, extra_exp)
        t_done = time.time()
        record = {
            "workload": workload, "seed": seed, "trace": trace,
            "load_avg_1m_start": load0, "load_avg_1m_end": os.getloadavg()[0],
            "tree_cpu_s": (children1.ru_utime + children1.ru_stime
                           - children0.ru_utime - children0.ru_stime),
            "jvm_timed_cpu_s": result["cpu_ms"] / 1000.0,
            "timed_s": timed_s, "wall_s": time.time() - t_start,
            "phases_s": {"build": t_gen - t_start, "generate": t_jvm - t_gen,
                         "jvm": t_check - t_jvm, "check": t_done - t_check,
                         "jvm_setups": result["setup_s"]},
            "latency_samples": len(lat), "rounds": exp.get("rounds", 1),
            "known_fault_ops": len(v.known),
        }
        p50, p90 = metrics.percentile(lat, 50), metrics.percentile(lat, 90)
        if p50 is None or p90 is None:
            raise BenchError(f"{workload}: {len(lat)} latency samples are too few "
                             f"for a p90 with {metrics.MIN_BEYOND} samples beyond it")
        e2e = {
            "setup_s": metrics.median(result["setup_s"]),
            "throughput_per_s": completed / timed_s,
            "latency_p50_ms": p50, "latency_p90_ms": p90,
            "cpu_ms_per_op": result["cpu_ms"] / max(completed, 1),
            "peak_rss_mb": result["peak_rss_mb"],
        }
        if trace:
            spans = metrics.build_spans(result)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            spans_file = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.spans.json")
            metrics.write_spans(spans, spans_file)
            values = metrics.layer_metrics(result, spans, work, attempted, posts)
            record["spans"] = os.path.relpath(spans_file, ROOT)
            record["self_ms"] = {k: round(x, 3) for k, x in
                                 sorted(metrics.self_times(spans).items())}
            # end-to-end figures of a traced run, kept only to state the
            # tracing overhead; the metrics come from untraced runs
            record["end_to_end"] = e2e
            out = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print("run_record " + json.dumps(record))
        for line in v.summary():
            print("check: " + line, file=sys.stderr)
        print(json.dumps({"correct": v.correct, "attempted": attempted,
                          "failed": len(v.failed), "metrics": out}))
        return 0 if v.correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=CORES,
                    help="Spark local threads (reference runs only; the benchmark fixes it)")
    ap.add_argument("--set", action="append", default=[], metavar="KEY=INT",
                    help="override a workload parameter (reference runs only)")
    a = ap.parse_args(argv)
    overrides = {k: int(v) for k, v in (kv.split("=", 1) for kv in a.set)}
    try:
        return run(a.workload, a.seed, a.seconds, a.trace, a.cores, overrides)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
