"""From raw measurements to metrics: percentiles under the tail rule, the
traced run's spans with their self times, and the per-layer figures."""
import glob
import json
import math
import os

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile, or None when fewer than MIN_BEYOND
    samples lie strictly beyond it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span name: summed duration minus the part covered by its child
    spans (a span's children are those whose `parent` is its `id`)."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - union_length(kids)
    return out


# ------------------------------------------------------------ attribution

# Order of a micro-batch's phases (MicroBatchExecution): the offset is
# fetched and logged, the batch is read and planned, the sink runs, the
# commit log is written. `durationMs` gives only their lengths; the traced
# run lays them end to end from the trigger start in this order.
PHASES = [("latestOffset", "sources.latest_offset"), ("walCommit", "commit.wal"),
          ("getBatch", "sources.get_batch"), ("queryPlanning", "plan"),
          ("addBatch", "add_batch"), ("commitOffsets", "commit.offsets")]


def component(query_ids, qid):
    """'fanout', 'pii', 'license', 'readability' or None."""
    name = query_ids.get(qid) if qid else None
    return name.split(":")[0] if name else None


def job_layer(job, comp, executions):
    """The layer a job belongs to. Every job of a micro-batch carries the
    call site where its query was started, so streaming jobs are attributed
    by the physical plan of the SQL execution that ran them; other jobs go
    by their call-site file."""
    exe = executions.get(job.get("execution")) or {}
    plan = exe.get("plan") or ""
    head = plan.split("\n")[1] if "\n" in plan else plan
    if comp == "fanout":
        if exe.get("root") == exe.get("execution") and "BroadcastHashJoin" in plan:
            return "enrich.broadcast"  # the dimension broadcast of the batch plan
        if head.startswith("CollectLimit"):
            return "fanout.empty_check"
        if "InsertIntoHadoopFsRelationCommand" in plan:
            return "parquet"
        if "DeserializeToObject" in plan:
            return "leaderboard" if "HashAggregate" in plan else "http"
        return "fanout.other"
    if comp in ("pii", "license", "readability"):
        if head.startswith("CollectLimit"):
            return "gate.empty_check"
        if "InsertIntoHadoopFsRelationCommand" in plan:
            return "gate.write"
        return "gate.checkpoint"  # the eager localCheckpoint jobs, scorer included
    if job.get("group") == "enrich":
        return "enrich.noop"  # the traced run's Fanout.enriched-to-noop measurement
    if (job.get("group") or "").startswith("query:"):
        return "query.job"
    if job.get("group") == "query-check":
        return "query.check"  # the pass that writes results for the oracle check
    site = job.get("call_site", "")
    return site.split(" at ")[-1].split(".scala")[0] if " at " in site else "other"


def query_runs(result):
    """(name, start, end) of every timed query execution of the run."""
    return result.get("query_runs") or result.get("extras", {}).get("queries", {}).get("query_runs", [])


def build_spans(result):
    """Spans of the traced run: one per micro-batch trigger, its phases as
    children, and each Spark job as a child of its batch's add_batch phase;
    one per query execution, with the jobs of its job group as children.
    Times are ms on the harness clock."""
    origin = result["epoch_origin_ms"]
    query_ids = result.get("query_ids", {})
    trace = result["trace"]
    executions = {x["execution"]: x for x in trace["executions"]}
    spans, add_batch = [], {}
    for b in result["batches"]:
        comp = component(query_ids, b["query_id"])
        if comp is None:
            continue
        d = b["duration_ms"]
        start = b["start_ms"] - origin
        tid = len(spans)
        spans.append({"id": tid, "name": f"{comp}.trigger", "start": start,
                      "end": start + d.get("triggerExecution", 0), "parent": None,
                      "batch": b["batch"], "query": b["query_id"], "rows": b["rows"]})
        t = start
        for key, name in PHASES:
            ms = d.get(key, 0)
            sid = len(spans)
            spans.append({"id": sid, "name": f"{comp}.{name}", "start": t, "end": t + ms,
                          "parent": tid, "batch": b["batch"], "query": b["query_id"]})
            if key == "addBatch":
                add_batch[(b["query_id"], b["batch"])] = sid
            t += ms
    executions_of = {}
    for name, start, end in query_runs(result):
        executions_of.setdefault(name, []).append(len(spans))
        spans.append({"id": len(spans), "name": "query", "start": start, "end": end,
                      "parent": None, "batch": None, "query": name})
    for j in trace["jobs"]:
        comp = component(query_ids, j.get("query_id"))
        parent = add_batch.get((j.get("query_id"), j.get("batch")))
        group = j.get("group") or ""
        if group.startswith("query:"):
            t = j["start_ms"] - origin
            # the execution of that query whose span holds the job's start
            # (clock readings may differ by a millisecond)
            parent = next((i for i in executions_of.get(group[len("query:"):], [])
                           if spans[i]["start"] - 1 <= t <= spans[i]["end"] + 1), None)
        spans.append({"id": len(spans), "name": job_layer(j, comp, executions),
                      "start": j["start_ms"] - origin, "end": j["end_ms"] - origin,
                      "parent": parent, "batch": j.get("batch"), "query": j.get("query_id"),
                      "job": j["job"], "stages": j["stages"]})
    return spans


def dir_stats(paths):
    files = [f for p in paths for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)]
    return len(files), sum(os.path.getsize(f) for f in files)


def source_files_per_batch(ckpt):
    """batch id -> number of files the file source gave that batch, read
    from the query's source log."""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        name = os.path.basename(f)
        if name.isdigit():
            with open(f) as fh:
                out[int(name)] = sum(1 for line in fh if line.startswith("{"))
    return out


def layer_metrics(result, spans, work, events, received_posts):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    stages = {s["stage"]: s for s in result["trace"]["stages"]}
    trig = {"fanout": [], "gate": []}
    for s in spans:
        if s["name"].endswith(".trigger") and s.get("rows", 0) > 0:
            trig["fanout" if s["name"] == "fanout.trigger" else "gate"].append(s)
    fan_batches = {(s["query"], s["batch"]) for s in trig["fanout"]}
    gate_batches = {(s["query"], s["batch"]) for s in trig["gate"]}
    nf, ng = max(len(fan_batches), 1), max(len(gate_batches), 1)
    by_phase = {}
    for s in spans:
        if s["parent"] is not None and "job" not in s and (s["query"], s["batch"]) in fan_batches | gate_batches:
            by_phase.setdefault(s["name"], []).append(s["end"] - s["start"])
    jobs = [s for s in spans if "job" in s]

    def job_sum(layer, batches):
        return sum(s["end"] - s["start"] for s in jobs
                   if s["name"] == layer and (s["query"], s["batch"]) in batches)

    def stage_sum(layer, field):
        return sum(stages[st][field] for s in jobs if s["name"] == layer
                   for st in s["stages"] if st in stages)

    def mean_phase(name):
        v = by_phase.get(name, [])
        return sum(v) / len(v) if v else 0.0

    def jobs_in(batches):
        return sum(1 for s in jobs if (s["query"], s["batch"]) in batches)

    m = {}
    offs = [a + b for a, b in zip(by_phase.get("fanout.sources.latest_offset", []),
                                  by_phase.get("fanout.sources.get_batch", []))]
    m["sources.offset_ms"] = sum(offs) / len(offs) if offs else 0.0
    m["sources.backlog_files_max"] = backlog_files_max(result, work)
    m["fanout.trigger_ms"] = (sum(s["end"] - s["start"] for s in trig["fanout"]) / nf
                              if trig["fanout"] else 0.0)
    m["fanout.add_batch_ms"] = mean_phase("fanout.add_batch")
    m["fanout.plan_ms"] = mean_phase("fanout.plan")
    m["fanout.commit_ms"] = mean_phase("fanout.commit.wal") + mean_phase("fanout.commit.offsets")
    m["fanout.empty_check_ms"] = job_sum("fanout.empty_check", fan_batches) / nf
    m["fanout.jobs_per_batch"] = jobs_in(fan_batches) / nf if fan_batches else 0.0
    enrich = result.get("extras", {}).get("enrich")
    m["enrich.ms_per_kevent"] = (median(enrich["ms"]) / enrich["lines"] * 1000.0
                                 if enrich and enrich["lines"] else 0.0)
    m["parquet.job_ms"] = job_sum("parquet", fan_batches) / nf
    m["parquet.task_cpu_ms"] = stage_sum("parquet", "cpu_ns") / 1e6 / nf
    m["parquet.shuffle_write_bytes"] = stage_sum("parquet", "shuffle_write_bytes") / nf
    files, size = dir_stats(glob.glob(os.path.join(work, "run*", "analytics")))
    m["parquet.files_per_batch"] = files / nf if fan_batches else 0.0
    m["parquet.bytes_per_kevent"] = size / events * 1000.0 if fan_batches and events else 0.0
    m["leaderboard.job_ms"] = job_sum("leaderboard", fan_batches) / nf
    lbs = result.get("leaderboard_rounds") or ([result["leaderboard"]] if result.get("leaderboard") else [])
    inc_ns = sum(x.get("increment_ns", 0) for x in lbs)
    topk_ns = sum(x.get("topk_ns", 0) for x in lbs)
    topk_calls = sum(x.get("topk_calls", 0) for x in lbs)
    m["leaderboard.increment_ms"] = inc_ns / 1e6 / nf if fan_batches else 0.0
    m["leaderboard.topk_ms"] = topk_ns / 1e6 / topk_calls if topk_calls else 0.0
    m["http.job_ms"] = job_sum("http", fan_batches) / nf
    m["http.post_us"] = (stage_sum("http", "run_ms") * 1000.0 / received_posts
                         if received_posts else 0.0)
    reqs = result.get("receiver_requests", 0)
    m["http.receiver_us"] = result.get("receiver_handler_ns", 0) / 1000.0 / reqs if reqs else 0.0
    m["gate.batch_ms"] = (sum(s["end"] - s["start"] for s in trig["gate"]) / ng
                          if trig["gate"] else 0.0)
    m["gate.checkpoint_ms"] = job_sum("gate.checkpoint", gate_batches) / ng
    m["gate.write_ms"] = job_sum("gate.write", gate_batches) / ng
    gfiles, _ = dir_stats([d for base in (work, os.path.join(work, "gates"))
                           for d in glob.glob(os.path.join(base, "run-*", "*", "*"))
                           if os.path.basename(d) in ("corpus", "quarantine")])
    m["gate.files_per_batch"] = gfiles / ng if gate_batches else 0.0
    m["gate.jobs_per_batch"] = jobs_in(gate_batches) / ng if gate_batches else 0.0
    m.update(query_metrics(spans, stages))
    m["jvm.gc_ms"] = float(result["gc_ms"])
    m["jvm.threads_peak"] = float(result["threads_peak"])
    late = result.get("late_ms") or [0.0]
    m["generator.late_ms"] = max(late)
    return m


def query_metrics(spans, stages):
    """Per query execution, averaged over the run's executions: driver time
    (the execution's span less the union of its jobs), jobs, completed
    stages and the stages' task figures."""
    execs = {s["id"]: [] for s in spans if s["name"] == "query"}
    for s in spans:
        if s["name"] == "query.job" and s["parent"] in execs:
            execs[s["parent"]].append(s)
    n = len(execs)
    names = ["query.driver_ms", "query.jobs", "query.stages", "query.exec_run_ms",
             "query.task_cpu_ms", "query.gc_ms", "query.shuffle_bytes", "query.spill_bytes"]
    if not n:
        return dict.fromkeys(names, 0.0)
    by_id = {s["id"]: s for s in spans}
    tot = dict.fromkeys(names, 0.0)
    for sid, jobs in execs.items():
        ex = by_id[sid]
        inside = [(max(j["start"], ex["start"]), min(j["end"], ex["end"])) for j in jobs]
        tot["query.driver_ms"] += (ex["end"] - ex["start"]) - union_length(
            [(a, b) for a, b in inside if b > a])
        tot["query.jobs"] += len(jobs)
        done = [stages[st] for j in jobs for st in j["stages"] if st in stages]
        tot["query.stages"] += len(done)
        tot["query.exec_run_ms"] += sum(st["run_ms"] for st in done)
        tot["query.task_cpu_ms"] += sum(st["cpu_ns"] for st in done) / 1e6
        tot["query.gc_ms"] += sum(st["gc_ms"] for st in done)
        tot["query.shuffle_bytes"] += sum(st["shuffle_write_bytes"] for st in done)
        tot["query.spill_bytes"] += sum(st["spill_bytes"] for st in done)
    return {k: v / n for k, v in tot.items()}


def backlog_files_max(result, work):
    """Most input files waiting in the watched directory at any trigger
    start of the workload's first query (live: files renamed in by then,
    less those earlier batches consumed; catch-up and gates: the backlog)."""
    query_ids = result.get("query_ids", {})
    first = [q for q, n in query_ids.items() if n in ("fanout", "fanout:0", "pii:0")]
    if not first:
        return 0.0
    qid = first[0]
    name = query_ids[qid]
    ckpt = {"fanout": os.path.join(work, "run", "ckpt"),
            "fanout:0": os.path.join(work, "run-0", "ckpt"),
            "pii:0": os.path.join(work, "run-0", "pii", "ckpt")}[name]
    per_batch = source_files_per_batch(ckpt)
    origin = result["epoch_origin_ms"]
    batches = sorted((b for b in result["batches"] if b["query_id"] == qid),
                     key=lambda b: b["batch"])
    if name != "fanout":
        return float(sum(per_batch.values()))
    t0, tick = result["t0_ms"], result["tick_ms"]
    late = result["late_ms"]
    arrived = sorted(t0 + i * tick + late[i] for i in range(len(late)))
    consumed, worst = 0, 0
    for b in batches:
        start = b["start_ms"] - origin
        avail = sum(1 for a in arrived if a <= start)
        worst = max(worst, avail - consumed)
        consumed += per_batch.get(b["batch"], 0)
    return float(worst)


def write_spans(spans, path):
    with open(path, "w") as f:
        json.dump(spans, f)
