#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/tests.py

Covers the percentile rule, the planting of cards and licences, the HALF_UP
reference, the self-time and per-query computations, the correctness checks
(each fed outputs that pass, then the same outputs with one row dropped, one
count shifted, one request doubled, one document misrouted or one query
result changed), the steadiness verdict and, on the JVM side, the receiver's
counts and the leaderboard's top-k order (`perfbench.SelfTest`, built and
run through `run.py`'s build).
"""
import json
import os
import random
import re
import subprocess
import sys
import tempfile
import unittest
from fractions import Fraction

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402

CARD_RUN = re.compile(r"[0-9](?:[- ]?[0-9]){12,18}")  # Curate.cardRunPattern


class PercentileRule(unittest.TestCase):
    def test_no_percentile_without_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 90))
        self.assertEqual(metrics.percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(metrics.percentile(list(range(19)), 50))
        self.assertEqual(metrics.percentile(list(range(1, 21)), 50), 10)
        self.assertIsNone(metrics.percentile([], 50))

    def test_nearest_rank_ignores_order(self):
        vals = list(range(1, 201))
        random.Random(3).shuffle(vals)
        self.assertEqual(metrics.percentile(vals, 90), 180)
        self.assertEqual(metrics.percentile(vals, 50), 100)


class HalfUpReference(unittest.TestCase):
    def test_exact_ties_round_up(self):
        # BigDecimal.valueOf(d).divide(BigDecimal.valueOf(1000 * L), 2, HALF_UP)
        self.assertEqual(gen.half_up_2(1656000, 1600 * 1000), 1.04)
        self.assertEqual(gen.half_up_2(1147700, 92 * 1000), 12.48)
        self.assertEqual(gen.half_up_2(285, 1000), 0.29)
        self.assertEqual(gen.half_up_2(60000, 1800 * 1000), 0.03)
        self.assertEqual(gen.half_up_2(180000, 1800 * 1000), 0.1)
        self.assertEqual(gen.half_up_2(1, 3), 0.33)

    def test_planted_tie_shows_the_known_fault(self):
        self.assertEqual(check.round2_on_double(gen.TIE_DURATION_MS, gen.TIE_LENGTH_S), 1.03)
        self.assertEqual(gen.half_up_2(gen.TIE_DURATION_MS, 1000 * gen.TIE_LENGTH_S), 1.04)
        self.assertTrue(gen.is_two_decimal_tie(gen.TIE_DURATION_MS, gen.TIE_LENGTH_S))

    def test_tie_predicate_matches_exact_arithmetic(self):
        rng = random.Random(5)
        for _ in range(20000):
            d, length = rng.randint(0, 400000), rng.randint(60, 400)
            frac = Fraction(d * 100, 1000 * length) % 1
            self.assertEqual(gen.is_two_decimal_tie(d, length), frac == Fraction(1, 2))

    def test_random_durations_avoid_ties(self):
        rng = random.Random(7)
        g = gen.EventGen(rng, gen.Catalog(rng, 50), months=[(2024, 1)])
        for _ in range(5000):
            g.valid()
        for e in g.expected.values():
            if e["engagement_pct"] is not None and e["engagement_seconds"] is not None:
                d = round(e["engagement_seconds"] * 1000)
                self.assertFalse(gen.is_two_decimal_tie(d, e["length_seconds"]))


class Planting(unittest.TestCase):
    def setUp(self):
        self.g = gen.DocGen(random.Random(11))
        self.g.unit(600)

    def test_cards_are_luhn_valid_and_decoys_are_not(self):
        self.assertTrue(gen.luhn_valid("4111111111111111"))
        self.assertFalse(gen.luhn_valid("4111111111111112"))
        cards = [e for e in self.g.expected.values() if e["card"]]
        self.assertGreater(len(cards), 30)
        for e in self.g.expected.values():
            runs = [r.replace(" ", "").replace("-", "") for r in CARD_RUN.findall(e["text"])]
            if e["card"]:
                self.assertEqual(runs, [e["card"]])
                self.assertTrue(gen.luhn_valid(e["card"]))
            else:
                self.assertTrue(all(not gen.luhn_valid(r) for r in runs))
        decoys = [e for e in self.g.expected.values() if not e["card"] and CARD_RUN.search(e["text"])]
        self.assertGreater(len(decoys), 30)

    def test_licence_lines_decide_admission(self):
        admitted = {line: ok for _, line, ok in gen.LICENCES}
        seen = set()
        for e in self.g.expected.values():
            found = [line for line in admitted if line and line in e["text"]]
            self.assertLessEqual(len(found), 1)
            line = found[0] if found else ""
            seen.add(line)
            self.assertEqual(e["licence_ok"], admitted[line])
        self.assertEqual(seen, set(admitted))

    def test_hard_passages_fail_readability(self):
        hard = [e for e in self.g.expected.values() if not e["readable"]]
        easy = [e for e in self.g.expected.values() if e["readable"]]
        self.assertGreater(len(hard), 40)
        self.assertGreater(len(easy), 300)
        self.assertLess(gen.readability_milli("internationalization " * 30), 0)
        self.assertGreater(gen.readability_milli("the cat sat on a mat."), 90000)

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            pa_, ea = gen.fanout_catchup(a, 9, 8, run.PARAMS["fanout_catchup"])
            pb_, eb = gen.fanout_catchup(b, 9, 8, run.PARAMS["fanout_catchup"])
            self.assertEqual(pa_, pb_)
            self.assertEqual(ea["events"], eb["events"])
            for name in sorted(os.listdir(os.path.join(a, "backlog"))):
                with open(os.path.join(a, "backlog", name)) as fa, \
                        open(os.path.join(b, "backlog", name)) as fb:
                    self.assertEqual(fa.read(), fb.read())


class SelfTime(unittest.TestCase):
    def test_span_minus_union_of_children(self):
        spans = [
            {"id": 0, "name": "trigger", "start": 0, "end": 100, "parent": None},
            {"id": 1, "name": "add_batch", "start": 10, "end": 90, "parent": 0},
            {"id": 2, "name": "parquet", "start": 20, "end": 50, "parent": 1},
            {"id": 3, "name": "http", "start": 40, "end": 60, "parent": 1},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st["trigger"], 20)
        self.assertEqual(st["add_batch"], 40)  # 80 minus the union [20, 60]
        self.assertEqual(st["parquet"], 30)
        self.assertEqual(st["http"], 20)


def live_fixture(work, seed=21):
    """A small live run's expected events plus outputs a correct program
    would have written (analytics parquet, leaderboard and receiver dumps)."""
    rng = random.Random(seed)
    cat = gen.Catalog(rng, 30)
    g = gen.EventGen(rng, cat, months=[(2024, 3), (2024, 4)])
    for i in range(4):
        g.unit(20, 2, i == 0)
    events = g.expected
    run_dir = os.path.join(work, "run")
    by_month = {}
    for eid, e in events.items():
        pct = e["engagement_pct"]
        if e["content_id"] == gen.TIE_CONTENT:
            pct = 1.03  # what Relational.round2 writes for the planted tie
        by_month.setdefault(e["month"], []).append({
            "event_id": eid, "content_id": e["content_id"], "content_type": e["content_type"],
            "length_seconds": e["length_seconds"], "engagement_seconds": e["engagement_seconds"],
            "engagement_pct": pct})
    for month, rows in by_month.items():
        d = os.path.join(run_dir, "analytics", f"event_month={month}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "part-0.parquet"))
    counts = check.expected_counts(events)
    ordered = sorted(counts.items(), key=lambda kc: (-kc[1], kc[0]))
    dump = {"counts": [list(kc) for kc in ordered], "top10": [list(kc) for kc in ordered[:10]],
            "polls": 5, "disordered": 0}
    hits = [[str(eid), check.http_body(eid, e), 1.0] for eid, e in events.items()]
    return {"events": events}, run_dir, dump, hits


def write_live(run_dir, dump, hits):
    with open(os.path.join(run_dir, "leaderboard.json"), "w") as f:
        json.dump(dump, f)
    with open(os.path.join(run_dir, "receiver.json"), "w") as f:
        json.dump(hits, f)


class Corruption(unittest.TestCase):
    def test_clean_outputs_pass_with_only_the_known_fault(self):
        with tempfile.TemporaryDirectory() as work:
            exp, run_dir, dump, hits = live_fixture(work)
            write_live(run_dir, dump, hits)
            v, received = check.check_fanout_live(work, exp)
            self.assertTrue(v.correct, v.summary())
            self.assertEqual(len(v.failed), 1)  # the planted tie
            self.assertEqual(v.known, set(v.failed))
            self.assertEqual(len(received), len(exp["events"]))

    def test_other_value_on_the_tie_fails(self):
        for bad in (None, 0.0, 1.05):
            with tempfile.TemporaryDirectory() as work:
                exp, run_dir, dump, hits = live_fixture(work)
                write_live(run_dir, dump, hits)
                tie = next(e for e, x in exp["events"].items()
                           if x["content_id"] == gen.TIE_CONTENT)
                for f in check.parquet_files(os.path.join(run_dir, "analytics")):
                    rows = pq.read_table(f).to_pylist()
                    for r in rows:
                        if r["event_id"] == tie:
                            r["engagement_pct"] = bad
                    pq.write_table(pa.Table.from_pylist(rows), f)
                v, _ = check.check_fanout_live(work, exp)
                self.assertFalse(v.correct, bad)
                self.assertNotIn(tie, v.known)

    def test_dropped_row_fails(self):
        with tempfile.TemporaryDirectory() as work:
            exp, run_dir, dump, hits = live_fixture(work)
            write_live(run_dir, dump, hits)
            f = sorted(check.parquet_files(os.path.join(run_dir, "analytics")))[0]
            t = pq.read_table(f)
            dropped = t.column("event_id")[0].as_py()
            pq.write_table(t.slice(1), f)
            v, _ = check.check_fanout_live(work, exp)
            self.assertFalse(v.correct)
            self.assertIn("0 analytics rows", v.failed[dropped])

    def test_shifted_count_fails(self):
        with tempfile.TemporaryDirectory() as work:
            exp, run_dir, dump, hits = live_fixture(work)
            key, cnt = dump["counts"][3]
            dump["counts"][3] = [key, cnt + 1]
            write_live(run_dir, dump, hits)
            v, _ = check.check_fanout_live(work, exp)
            self.assertFalse(v.correct)
            self.assertEqual({e for e, x in exp["events"].items() if x["content_id"] == key},
                             {op for op, r in v.failed.items() if "leaderboard" in r})

    def test_misordered_top10_fails(self):
        with tempfile.TemporaryDirectory() as work:
            exp, run_dir, dump, hits = live_fixture(work)
            dump["top10"][0], dump["top10"][1] = dump["top10"][1], dump["top10"][0]
            write_live(run_dir, dump, hits)
            v, _ = check.check_fanout_live(work, exp)
            self.assertFalse(v.correct)

    def test_receiver_counts(self):
        with tempfile.TemporaryDirectory() as work:
            exp, run_dir, dump, hits = live_fixture(work)
            doubled, missing, wrong = hits[0][0], hits[1][0], hits[2][0]
            hits = hits + [hits[0]]
            hits = [h for h in hits if h[0] != missing]
            hits = [[k, b.replace('"content_id":"', '"content_id":"zz') if k == wrong else b, t]
                    for k, b, t in hits]
            write_live(run_dir, dump, hits)
            v, received = check.check_fanout_live(work, exp)
            self.assertFalse(v.correct)
            self.assertEqual(v.failed[int(doubled)], "received 2 times")
            self.assertEqual(v.failed[int(missing)], "received 0 times")
            self.assertIn("body", v.failed[int(wrong)])
            self.assertEqual(len(received), len(exp["events"]) - 2)

    def test_misrouted_document_fails(self):
        with tempfile.TemporaryDirectory() as work:
            g = gen.DocGen(random.Random(4))
            g.unit(60)
            exp = {"docs": g.expected, "rounds": 1}
            rows = {}
            for doc_id, e in g.expected.items():
                if e["card"]:
                    rows.setdefault(("pii", "quarantine"), []).append(
                        (doc_id, e["text"].replace(e["card"], "[CARD]")))
                    continue
                rows.setdefault(("pii", "corpus"), []).append((doc_id, e["text"]))
                if not e["licence_ok"]:
                    rows.setdefault(("license", "quarantine"), []).append((doc_id, e["text"]))
                    continue
                rows.setdefault(("license", "corpus"), []).append((doc_id, e["text"]))
                side = "corpus" if e["readable"] else "quarantine"
                rows.setdefault(("readability", side), []).append((doc_id, e["text"]))

            def write(rows):
                for (gate, side), rs in rows.items():
                    d = os.path.join(work, "run-0", gate, side, "_batch=0")
                    os.makedirs(d, exist_ok=True)
                    pq.write_table(pa.table({"doc_id": [r[0] for r in rs],
                                             "text": [r[1] for r in rs]}),
                                   os.path.join(d, "part-0.parquet"))
            write(rows)
            v, settled = check.check_resident_gates(work, exp)
            self.assertTrue(v.correct, v.summary())
            self.assertEqual(len(settled[0]), len(g.expected))
            moved = rows[("pii", "quarantine")].pop()
            rows[("pii", "corpus")].append((moved[0], g.expected[moved[0]]["text"]))
            write(rows)
            v, _ = check.check_resident_gates(work, exp)
            self.assertFalse(v.correct)
            self.assertIn((0, moved[0]), v.failed)


class QueryCheck(unittest.TestCase):
    ORACLE = "select k, count(*) as n, sum(v) as total from t group by k"

    def fixture(self, work, rows):
        star, results = os.path.join(work, "star"), os.path.join(work, "results")
        os.makedirs(star)
        os.makedirs(os.path.join(results, "qx"))
        pq.write_table(pa.table({"k": ["a", "b", "a", "c"], "v": [1.5, 2.0, 3.0, 4.25]}),
                       os.path.join(star, "t.parquet"))
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(results, "qx", "part-0.parquet"))
        with open(os.path.join(results, "oracle_sql.json"), "w") as f:
            json.dump({"qx": self.ORACLE}, f)
        return results, star

    GOOD = [{"total": 4.25, "n": 1, "k": "c"}, {"total": 4.5, "n": 2, "k": "a"},
            {"total": 2.0, "n": 1, "k": "b"}]

    def test_matching_result_in_any_order_passes(self):
        with tempfile.TemporaryDirectory() as work:
            self.assertEqual(check.check_queries(*self.fixture(work, self.GOOD), ["qx"]), {})

    def test_changed_results_fail(self):
        dropped = self.GOOD[1:]
        shifted = [dict(self.GOOD[0], n=2)] + self.GOOD[1:]
        as_float = [dict(r, n=float(r["n"])) for r in self.GOOD]
        for bad, why in ((dropped, "rows"), (shifted, "values"), (as_float, "dtype")):
            with tempfile.TemporaryDirectory() as work:
                out = check.check_queries(*self.fixture(work, bad), ["qx"])
                self.assertIn(why, out.get("qx", ""), bad)


class QueryMetrics(unittest.TestCase):
    def test_driver_time_is_the_execution_less_its_jobs(self):
        spans = [{"id": 0, "name": "query", "start": 0.0, "end": 100.0, "parent": None},
                 {"id": 1, "name": "query.job", "start": 10.0, "end": 40.0, "parent": 0,
                  "stages": [1, 2]},
                 {"id": 2, "name": "query.job", "start": 30.0, "end": 50.0, "parent": 0,
                  "stages": [3]}]
        stage = {"run_ms": 5, "cpu_ns": 2e6, "gc_ms": 1, "shuffle_write_bytes": 10,
                 "spill_bytes": 0}
        m = metrics.query_metrics(spans, {1: stage, 3: stage})  # stage 2 was skipped
        self.assertEqual(m["query.driver_ms"], 60.0)
        self.assertEqual(m["query.jobs"], 2)
        self.assertEqual(m["query.stages"], 2)
        self.assertEqual(m["query.task_cpu_ms"], 4.0)
        self.assertEqual(m["query.shuffle_bytes"], 20)

    def test_no_queries_reads_zero(self):
        self.assertEqual(set(metrics.query_metrics([], {}).values()), {0.0})


class SteadyVerdict(unittest.TestCase):
    SPEC = {"end_to_end": [{"name": "latency_p50_ms", "better": "lower", "bound": 0.2},
                           {"name": "setup_s", "better": "lower", "bound": 0.25}]}

    def summary(self, median, spread, setup_spread=0.5):
        return {"latency_p50_ms": {"median": median, "spread": spread},
                "setup_s": {"median": 10.0, "spread": setup_spread}, "failed_share": [0.0]}

    def test_medians_apart_either_way_disagree(self):
        a = self.summary(100.0, 0.1)
        self.assertEqual(steady.verdict(a, self.summary(105.0, 0.1), self.SPEC), [])
        self.assertTrue(steady.verdict(a, self.summary(125.0, 0.1), self.SPEC))
        self.assertTrue(steady.verdict(a, self.summary(80.0, 0.1), self.SPEC))

    def test_spread_beyond_bound_disagrees_except_for_setup(self):
        a = self.summary(100.0, 0.1)
        self.assertTrue(steady.verdict(a, self.summary(100.0, 0.3), self.SPEC))
        self.assertEqual(steady.verdict(a, self.summary(100.0, 0.1, setup_spread=0.9),
                                        self.SPEC), [])


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_command(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.PARAMS))


class JvmSide(unittest.TestCase):
    def test_receiver_and_leaderboard(self):
        cp = run.build()
        p = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertIn("SelfTest: ok", p.stdout)


if __name__ == "__main__":
    unittest.main(verbosity=2)
