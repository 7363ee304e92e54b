"""Correctness checks: the program's outputs against the generator's own
records. Each check returns a `Verdict`: the operations that failed, split
into those that meet the one known fault (see `KNOWN_FAULT`) and all others,
and any problem that is not tied to one operation."""
import glob
import json
import math
import os

import pyarrow.parquet as pq

from gen import MALFORMED_ID_BASE, TIE_CONTENT, TIE_DURATION_MS, TIE_LENGTH_S

# Enrich rounds `engagement_pct` with Relational.round2, HALF_UP on the binary
# double: floor(x * 100 + 0.5) / 100. That is deliberate (it is engine
# independent), but an exact two-decimal tie such as 1.035, whose double lies
# just below it, comes out as 1.03, where the exact HALF_UP and the
# reference's Spark `round` give 1.04. The generator plants one such event per
# round, whatever the seed. Only the value round2 gives is excused; any other
# value on that event is an ordinary failure.
KNOWN_FAULT = "engagement_pct of an exact tie is rounded on the double (Relational.round2)"


def round2_on_double(duration_ms, length_s):
    """What Relational.round2 writes for (duration_ms / 1000.0) / length_s."""
    return math.floor(((duration_ms / 1000.0) / length_s) * 100 + 0.5) / 100.0


class Verdict:
    def __init__(self):
        self.failed = {}      # op id -> first reason
        self.known = set()    # op ids whose only fault is KNOWN_FAULT
        self.problems = []    # failures not tied to one operation

    def fail(self, op, reason, known=False):
        """Record the first reason an operation failed; a failure other than
        the known fault overrides a known one."""
        if known:
            if op not in self.failed:
                self.failed[op] = reason
                self.known.add(op)
            return
        if op in self.known or op not in self.failed:
            self.failed[op] = reason
        self.known.discard(op)

    @property
    def correct(self):
        return not self.problems and all(op in self.known for op in self.failed)

    def summary(self, limit=5):
        out = list(self.problems[:limit])
        out += [f"op {op}: {r}" for op, r in list(self.failed.items())[:limit]
                if op not in self.known]
        return out


def read_parquet_dir(path, columns):
    """Rows of every parquet file under `path` as dicts, with hive-style
    partition values (k=v directories) added as strings."""
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        rel = os.path.relpath(f, path).split(os.sep)[:-1]
        parts = dict(p.split("=", 1) for p in rel if "=" in p)
        schema = pq.read_schema(f)
        cols = [c for c in columns if c in schema.names]
        for r in pq.read_table(f, columns=cols).to_pylist():
            r.update(parts)
            rows.append(r)
    return rows


def parquet_files(path):
    return [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)]


# ------------------------------------------------------------------ fan-out

ANALYTICS_COLUMNS = ["event_id", "content_id", "content_type", "length_seconds",
                     "engagement_seconds", "engagement_pct"]


def check_analytics(v, rows, events, tag=""):
    """Exactly one row per valid event, nothing else; dimension columns NULL
    exactly for unknown content; derived columns as recomputed."""
    seen = {}
    for r in rows:
        eid = r["event_id"]
        if eid is None or eid >= MALFORMED_ID_BASE or eid not in events:
            v.problems.append(f"{tag}unexpected row with event_id {eid}")
            continue
        seen[eid] = seen.get(eid, 0) + 1
        e = events[eid]
        if r["content_id"] != e["content_id"]:
            v.fail(eid, f"{tag}content_id {r['content_id']} != {e['content_id']}")
        if r.get("event_month") != e["month"]:
            v.fail(eid, f"{tag}event_month {r.get('event_month')} != {e['month']}")
        if (r["content_type"] is None) != (not e["known"]):
            v.fail(eid, f"{tag}dimension columns NULL={r['content_type'] is None}, known={e['known']}")
        if r["content_type"] != e["content_type"] or r["length_seconds"] != e["length_seconds"]:
            v.fail(eid, f"{tag}dimension columns differ")
        if r["engagement_seconds"] != e["engagement_seconds"]:
            v.fail(eid, f"{tag}engagement_seconds {r['engagement_seconds']} != {e['engagement_seconds']}")
        if r["engagement_pct"] != e["engagement_pct"]:
            if (e["content_id"] == TIE_CONTENT and
                    r["engagement_pct"] == round2_on_double(TIE_DURATION_MS, TIE_LENGTH_S)):
                v.fail(eid, KNOWN_FAULT, known=True)
            else:
                v.fail(eid, f"{tag}engagement_pct {r['engagement_pct']} != {e['engagement_pct']}")
    for eid in events:
        n = seen.get(eid, 0)
        if n != 1:
            v.fail(eid, f"{tag}{n} analytics rows")
    return v


def expected_counts(events):
    counts = {}
    for e in events.values():
        counts[e["content_id"]] = counts.get(e["content_id"], 0) + 1
    return counts


def check_leaderboard(v, dump, events, tag=""):
    """Counts equal the generator's per-key counts; topK(10) is ordered by
    count descending, then key ascending."""
    want = expected_counts(events)
    got = {k: c for k, c in dump["counts"]}
    bad_keys = {k for k in set(want) | set(got) if want.get(k) != got.get(k)}
    for eid, e in events.items():
        if e["content_id"] in bad_keys:
            k = e["content_id"]
            v.fail(eid, f"{tag}leaderboard count of {k} is {got.get(k)}, expected {want.get(k)}")
    for k in bad_keys - set(want):
        v.problems.append(f"{tag}leaderboard holds unexpected key {k}")
    top = sorted(want.items(), key=lambda kc: (-kc[1], kc[0]))[:10]
    if [list(t) for t in top] != [list(t) for t in dump["top10"]]:
        v.problems.append(f"{tag}topK(10) {dump['top10']} != {top}")
    if dump.get("disordered", 0):
        v.problems.append(f"{tag}{dump['disordered']} dashboard reads of topK(10) were out of order")
    return v


def http_body(eid, e):
    return json.dumps({"event_id": eid, "content_id": e["content_id"],
                       "event_type": e["event_type"]}, separators=(",", ":"))


def check_receiver(v, hits, events):
    """Every valid event reaches the receiver exactly once, with its own
    body and an Idempotency-Key equal to its event_id."""
    by_key = {}
    for key, body, recv_ms in hits:
        by_key.setdefault(key, []).append((body, recv_ms))
    received = {}
    for eid, e in events.items():
        got = by_key.pop(str(eid), [])
        if len(got) != 1:
            v.fail(eid, f"received {len(got)} times")
            continue
        body, recv_ms = got[0]
        if body != http_body(eid, e):
            v.fail(eid, f"body {body!r} != {http_body(eid, e)!r}")
        received[eid] = recv_ms
    for key in by_key:
        v.problems.append(f"receiver got unexpected key {key}")
    return received


def check_fanout_live(work, exp):
    v = Verdict()
    events = exp["events"]
    run = os.path.join(work, "run")
    check_analytics(v, read_parquet_dir(os.path.join(run, "analytics"), ANALYTICS_COLUMNS), events)
    with open(os.path.join(run, "leaderboard.json")) as f:
        check_leaderboard(v, json.load(f), events)
    with open(os.path.join(run, "receiver.json")) as f:
        received = check_receiver(v, json.load(f), events)
    return v, received


def check_fanout_catchup(work, exp):
    v = Verdict()
    events = exp["events"]
    for r in range(exp["rounds"]):
        rd = os.path.join(work, f"run-{r}")
        tag = f"round {r}: "
        rv = Verdict()
        check_analytics(rv, read_parquet_dir(os.path.join(rd, "analytics"), ANALYTICS_COLUMNS),
                        events, tag)
        with open(os.path.join(rd, "leaderboard.json")) as f:
            check_leaderboard(rv, json.load(f), events, tag)
        for eid, reason in rv.failed.items():
            v.fail((r, eid), reason, known=eid in rv.known)
        v.problems += rv.problems
    return v


# ---------------------------------------------------------------- documents

GATES = ["pii", "license", "readability"]


def check_resident_gates(work, exp):
    """Per round: the PII quarantine is exactly the documents with a
    Luhn-valid card, the licence quarantine exactly the remaining ones with a
    non-permissive licence line, the readability quarantine exactly the
    remaining hard-to-read ones; no card number survives anywhere; admitted
    text is unchanged. Returns the verdict and, per round, the (gate, batch)
    that settled each document."""
    v = Verdict()
    docs = exp["docs"]
    settled = []
    for r in range(exp["rounds"]):
        rd = os.path.join(work, f"run-{r}")
        out = {}
        for g in GATES:
            for side in ("corpus", "quarantine"):
                out[(g, side)] = read_parquet_dir(os.path.join(rd, g, side),
                                                  ["doc_id", "text"])
        where = {}  # doc -> list of (gate, side, batch, text)
        for (g, side), rows in out.items():
            for row in rows:
                where.setdefault(row["doc_id"], []).append((g, side, int(row["_batch"]), row["text"]))
        settle = {}
        for doc_id, e in docs.items():
            op = (r, doc_id)
            entries = where.pop(doc_id, [])
            seen = {(g, side): (b, t) for g, side, b, t in entries}
            n_seen = len(entries)
            expect = []
            if e["card"] is not None:
                expect = [("pii", "quarantine")]
            elif not e["licence_ok"]:
                expect = [("pii", "corpus"), ("license", "quarantine")]
            else:
                expect = [("pii", "corpus"), ("license", "corpus"),
                          ("readability", "corpus" if e["readable"] else "quarantine")]
            if sorted(seen) != sorted(expect) or n_seen != len(expect):
                v.fail(op, f"round {r}: landed in {sorted(seen)}, expected {sorted(expect)}")
                continue
            for (g, side), (b, text) in seen.items():
                if e["card"] is not None and e["card"] in text:
                    v.fail(op, f"round {r}: card digits survive in {g}/{side}")
                elif side == "corpus" and text != e["text"]:
                    v.fail(op, f"round {r}: admitted text changed in {g}")
            if e["card"] is not None and "[CARD]" not in seen[("pii", "quarantine")][1]:
                v.fail(op, f"round {r}: quarantined text is not redacted")
            last_gate, last_side = expect[-1]
            settle[doc_id] = (last_gate, seen[(last_gate, last_side)][0])
        for doc_id in where:
            v.problems.append(f"round {r}: unexpected document {doc_id} in the outputs")
        settled.append(settle)
    return v, settled


# ------------------------------------------------------------------ queries


def check_queries(results, star, names):
    """Each query's parquet result under `results/<name>` against its
    `SparkEntry.oracleSql` run in DuckDB over the same star schema, aligned
    as tools/compare_oracle.py aligns them: columns by name, rows by their
    non-float columns, the same dtype kind per column, floats compared
    exactly. Returns {name: reason} for every query that does not match."""
    import duckdb
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                    "tools"))
    import compare_oracle as co
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(star, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"create view {name} as select * from read_parquet('{p}')")
    bad = {}
    for name in names:
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        try:
            s_rel = con.sql(f"select * from read_parquet('{os.path.join(results, name)}/*.parquet')")
            s_rows, s_cols = co.canon(s_rel.fetchall(), [c.lower() for c in s_rel.columns])
            s_kinds = co.dtype_map(s_rel)
            d_rel = con.sql(oracle[name])
            d_rows, d_cols = co.canon(d_rel.fetchall(), [c.lower() for c in d_rel.columns])
            d_kinds = co.dtype_map(d_rel)
        except Exception as e:  # noqa: BLE001 - any engine error is a mismatch
            bad[name] = f"error: {str(e)[:200]}"
            continue
        if s_cols != d_cols:
            bad[name] = f"columns {s_cols} != {d_cols}"
        elif any(s_kinds.get(c, ("?",))[0] != d_kinds.get(c, ("?",))[0] for c in s_cols):
            bad[name] = "dtype kinds differ"
        elif len(s_rows) != len(d_rows):
            bad[name] = f"{len(s_rows)} rows != {len(d_rows)}"
        elif not all(co.values_eq(a, b, 0.0) for sr, dr in zip(s_rows, d_rows)
                     for a, b in zip(sr, dr)):
            bad[name] = "values differ"
    con.close()
    return bad
