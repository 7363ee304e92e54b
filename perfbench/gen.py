"""Input generation for the benchmark's workloads.

Everything here is a pure function of the seed: the same seed gives the same
files and the same expected outputs. The program under test only ever sees
the files; the expectations stay on this side and feed `check.py`.
"""
import bisect
import json
import os
import random
import re
from fractions import Fraction
from math import floor

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["play", "pause", "finish", "click"]
DEVICES = ["web", "ios", "android", "tv"]
CONTENT_TYPES = ["podcast", "newsletter", "video"]

# One content item whose ratio is an exact two-decimal tie: 1656000 ms over
# 1600 s is 1.035, which HALF_UP rounds to 1.04. It does not depend on the
# seed; every round plants exactly one event on it (see `tie_event`).
TIE_CONTENT = "tie-0000"
TIE_LENGTH_S = 1600
TIE_DURATION_MS = 1656000

# Planted malformed envelopes carry ids from this range when they carry one
# at all, so a leak into any sink is recognisable.
MALFORMED_ID_BASE = 9_000_000_000


def half_up_2(numerator, denominator):
    """HALF_UP to two decimals of the exact ratio numerator/denominator
    (what java.math.BigDecimal.divide(d, 2, HALF_UP) gives), as a float."""
    q = Fraction(numerator, denominator)
    sign = -1 if q < 0 else 1
    return sign * floor(abs(q) * 100 + Fraction(1, 2)) / 100.0


def is_two_decimal_tie(duration_ms, length_s):
    """True when duration_ms / (1000 * length_s) has exactly 5 in the third
    decimal and nothing after it."""
    return duration_ms % (10 * length_s) == 5 * length_s


def write_atomic(path, text):
    """Write aside, then rename into place, so a watcher never sees a
    partial file."""
    aside = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(aside, "w") as f:
        f.write(text)
    os.replace(aside, path)


# ------------------------------------------------------------------ fan-out


class Catalog:
    """The content dimension and a Zipf-skewed key sampler over it."""

    def __init__(self, rng, n_content, zipf_s=1.1, null_length_share=0.05):
        self.ids = [f"c{i:06d}" for i in range(n_content)]
        self.length = {}
        self.ctype = {}
        for cid in self.ids:
            self.ctype[cid] = rng.choice(CONTENT_TYPES)
            self.length[cid] = None if rng.random() < null_length_share else rng.randint(60, 3600)
        self.ctype[TIE_CONTENT] = "podcast"
        self.length[TIE_CONTENT] = TIE_LENGTH_S
        weights = [1.0 / (i + 1) ** zipf_s for i in range(n_content)]
        total = sum(weights)
        acc, self.cum = 0.0, []
        for w in weights:
            acc += w / total
            self.cum.append(acc)

    def pick(self, rng):
        return self.ids[min(bisect.bisect_left(self.cum, rng.random()), len(self.ids) - 1)]

    def write(self, path):
        ids = self.ids + [TIE_CONTENT]
        table = pa.table({
            "content_id": pa.array(ids, pa.string()),
            "title": pa.array([f"Title {c}" for c in ids], pa.string()),
            "content_type": pa.array([self.ctype[c] for c in ids], pa.string()),
            "length_seconds": pa.array([self.length[c] for c in ids], pa.int32()),
        })
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))


class EventGen:
    """Debezium envelopes for engagement events, with the expected
    enrichment of every valid one."""

    def __init__(self, rng, catalog, months, unknown_share=0.03, null_duration_share=0.05):
        self.rng = rng
        self.catalog = catalog
        self.months = months  # list of (year, month)
        self.unknown_share = unknown_share
        self.null_duration_share = null_duration_share
        self.next_id = 1
        self.next_bad = 0
        self.expected = {}  # event_id -> dict

    def _ts(self):
        y, m = self.rng.choice(self.months)
        return "%04d-%02d-%02d %02d:%02d:%02d" % (
            y, m, self.rng.randint(1, 28), self.rng.randint(0, 23),
            self.rng.randint(0, 59), self.rng.randint(0, 59))

    def _duration(self, length_s):
        if self.rng.random() < self.null_duration_share:
            return None
        while True:
            d = self.rng.randint(0, 3_600_000)
            # exact ties are planted only through TIE_CONTENT, so that the
            # share of events that meet them is the same in every run
            if length_s is None or not is_two_decimal_tie(d, length_s):
                return d

    def _record(self, eid, cid, duration):
        ts = self._ts()
        known = cid in self.catalog.length
        length_s = self.catalog.length.get(cid)
        after = {
            "id": eid, "content_id": cid, "user_id": f"u-{self.rng.randint(0, 999_999):06d}",
            "event_type": self.rng.choice(EVENT_TYPES), "event_ts": ts,
            "duration_ms": duration, "device": self.rng.choice(DEVICES), "raw_payload": "{}",
        }
        self.expected[eid] = {
            "content_id": cid, "event_type": after["event_type"], "month": ts[:7],
            "known": known,
            "content_type": self.catalog.ctype.get(cid) if known else None,
            "length_seconds": length_s if known else None,
            "engagement_seconds": None if duration is None else duration / 1000.0,
            "engagement_pct": (None if duration is None or length_s is None
                               else half_up_2(duration, 1000 * length_s)),
        }
        # both envelope shapes: wrapped for even ids, bare for odd ids
        if eid % 2 == 0:
            return json.dumps({"payload": {"after": after, "op": "c"}})
        return json.dumps({"after": after, "op": "c"})

    def valid(self):
        eid = self.next_id
        self.next_id += 1
        if self.rng.random() < self.unknown_share:
            cid = f"x{self.rng.randint(0, 999_999):06d}"  # not in the dimension
        else:
            cid = self.catalog.pick(self.rng)
        return eid, self._record(eid, cid, self._duration(self.catalog.length.get(cid)))

    def tie_event(self):
        eid = self.next_id
        self.next_id += 1
        return eid, self._record(eid, TIE_CONTENT, TIE_DURATION_MS)

    def malformed(self):
        """Three kinds in turn: a truncated document, a delete (after is
        null) and a non-numeric id. None of them may reach a sink."""
        k = self.next_bad
        self.next_bad += 1
        bad_id = MALFORMED_ID_BASE + k
        kind = k % 3
        if kind == 0:
            return json.dumps({"payload": {"after": {"id": bad_id, "content_id": "c000001"}}})[:-7]
        if kind == 1:
            return json.dumps({"payload": {"before": {"id": bad_id}, "after": None, "op": "d"}})
        return json.dumps({"after": {"id": f"n{bad_id}", "content_id": "c000001",
                                     "event_type": "play"}, "op": "c"})

    def unit(self, n_valid, n_malformed, with_tie):
        """One input file: n_valid valid events (one of them the tie event
        when `with_tie`) and n_malformed malformed envelopes, shuffled."""
        lines, ids = [], []
        for i in range(n_valid):
            eid, line = self.tie_event() if (with_tie and i == 0) else self.valid()
            lines.append(line)
            ids.append(eid)
        lines += [self.malformed() for _ in range(n_malformed)]
        self.rng.shuffle(lines)
        return "\n".join(lines) + "\n", ids


# ---------------------------------------------------------------- documents

EASY_WORDS = ("the cat sat on a mat and ran to see his dog at home we go "
              "up in the sun it is a good day for a walk with my friend").split()
HARD_WORDS = ("internationalization incomprehensibility institutionalization "
              "characteristically interdisciplinary unconstitutionality "
              "electroencephalography counterrevolutionary").split()

LICENCES = [
    # (share, line, admitted by the licence gate)
    (0.25, "SPDX-License-Identifier: MIT", True),
    (0.15, "Licensed under the Apache License, Version 2.0.", True),
    (0.10, "Redistribution is allowed under the BSD 3-Clause terms.", True),
    (0.15, "SPDX-License-Identifier: GPL-3.0-only", False),
    (0.10, "Released under the GNU General Public License.", False),
    (0.05, "SPDX-License-Identifier: LicenseRef-Proprietary", False),
    (0.20, "", False),
]


def luhn_valid(digits):
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = ord(ch) - 48
        if i % 2 == 1:
            d = d * 2 - 9 if d * 2 > 9 else d * 2
        total += d
    return total % 10 == 0


def card_number(rng, valid):
    """A 16-digit number whose Luhn checksum holds (valid) or fails."""
    body = "4" + "".join(str(rng.randint(0, 9)) for _ in range(14))
    for check in "0123456789":
        if luhn_valid(body + check) == valid:
            return body + check
    raise AssertionError("unreachable")


def readability_milli(text):
    """Flesch reading ease x1000 with the integer steps the readability gate
    documents; None for a wordless text."""
    words = [t for t in re.split(r"\s+", text) if t]
    if not words:
        return None
    sentences = max(len(re.findall(r"[.!?]+", text)), 1)
    syllables = len(re.findall(r"[aeiouyAEIOUY]+", text))
    wps = (1000 * len(words)) // sentences
    spw = (1000 * syllables) // len(words)
    return 206835 - (1015 * wps) // 1000 - (84600 * spw) // 1000


class DocGen:
    """Documents with planted payment cards (Luhn-valid), decoy digit runs
    (Luhn-invalid), licence lines and hard-to-read passages."""

    def __init__(self, rng, card_share=0.12, decoy_share=0.10, hard_share=0.15):
        self.rng = rng
        self.card_share = card_share
        self.decoy_share = decoy_share
        self.hard_share = hard_share
        self.next_id = 0
        self.expected = {}

    def _sentence(self, words, n):
        return " ".join(self.rng.choice(words) for _ in range(n))

    def doc(self):
        doc_id = self.next_id
        self.next_id += 1
        hard = self.rng.random() < self.hard_share
        if hard:
            body = [self._sentence(HARD_WORDS, self.rng.randint(25, 40))]
        else:
            body = [self._sentence(EASY_WORDS, self.rng.randint(6, 12)) + "."
                    for _ in range(self.rng.randint(2, 5))]
        r = self.rng.random()
        card = None
        if r < self.card_share:
            card = card_number(self.rng, True)
            body.insert(self.rng.randint(0, len(body)), f"card {card} on file")
        elif r < self.card_share + self.decoy_share:
            body.insert(self.rng.randint(0, len(body)),
                        f"invoice {card_number(self.rng, False)} paid")
        x, acc = self.rng.random(), 0.0
        for share, line, admitted in LICENCES:
            acc += share
            if x < acc:
                break
        if line:
            body.insert(self.rng.randint(0, len(body)), line)
        text = " ".join(body)
        fre = readability_milli(text)
        self.expected[doc_id] = {
            "text": text, "card": card,
            "licence_ok": admitted,
            "readable": fre is not None and fre >= 30000,
        }
        return json.dumps({"doc_id": doc_id, "text": text})

    def unit(self, n):
        return "\n".join(self.doc() for _ in range(n)) + "\n"


# -------------------------------------------------------------- star schema

STAR_WORDS = ("scan column window order sort part agg value line key join merge group "
              "query a vector hash slow stream filter fast the batch spark table small "
              "data big customer row").split()
LANGS = ["en", "fr", "es", "zh", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "cold", "anvil", "small", "widget", "green", "bolt", "large"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STAR_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def star_schema(path, seed):
    """The star schema `SparkEntry.queries` read (`graft.model.Tables`), with
    the column names and types of the shared test data, generated from the
    seed: 6,000 line items, 1,500 orders, 150 customers, 200 parts, 10
    suppliers, 1,000 events, 500 documents and 500 64-wide embeddings."""
    import datetime as dt
    rng = random.Random(seed)
    os.makedirs(path, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    def money(lo, hi):
        return round(rng.uniform(lo, hi), 2)

    def day(y0, y1):
        return dt.datetime(y0, 1, 1) + dt.timedelta(days=rng.randint(0, 365 * (y1 - y0)))

    n_cust, n_part, n_supp, n_ord = 150, 200, 10, 1500
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("supplier", {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": pa.array([rng.randint(0, 24) for _ in range(n_supp)], pa.int32()),
                       "s_acctbal": [money(-999, 9999) for _ in range(n_supp)]})
    write("customer", {"c_custkey": pa.array(range(n_cust), pa.int64()),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": pa.array([rng.randint(0, 24) for _ in range(n_cust)], pa.int32()),
                       "c_acctbal": [money(-999, 9999) for _ in range(n_cust)],
                       "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]})
    write("part", {"p_partkey": pa.array(range(n_part), pa.int64()),
                   "p_name": [f"{rng.choice(PART_WORDS)} {rng.choice(PART_WORDS)}" for _ in range(n_part)],
                   "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}" for _ in range(n_part)],
                   "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
                   "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
                   "p_retailprice": [900.0 + i % 200 / 10.0 for i in range(n_part)]})
    odate = [day(1995, 2001) for _ in range(n_ord)]
    write("orders", {"o_orderkey": pa.array(range(n_ord), pa.int64()),
                     "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
                     "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
                     "o_totalprice": [money(1000, 500000) for _ in range(n_ord)],
                     "o_orderdate": pa.array(odate, pa.timestamp("us")),
                     "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]})
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(n_ord):
        for ln in range(1, rng.randint(1, 7) + 1):
            if len(li["l_orderkey"]) >= 6000:
                break
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100.0)
            li["l_tax"].append(rng.randint(0, 8) / 100.0)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odate[o] + dt.timedelta(days=rng.randint(1, 120)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    write("lineitem", li)
    n_ev, n_doc = 1000, 500
    t0 = dt.datetime(2024, 1, 1)
    write("events", {"event_id": pa.array(range(n_ev), pa.int64()),
                     "ts": pa.array(sorted(t0 + dt.timedelta(microseconds=rng.randint(0, 30 * 86400 * 10**6))
                                           for _ in range(n_ev)), pa.timestamp("us")),
                     "user_id": pa.array([rng.randint(0, 14) for _ in range(n_ev)], pa.int64()),
                     "event_type": [rng.choice(STAR_EVENT_TYPES) for _ in range(n_ev)],
                     "value": [money(0, 200) for _ in range(n_ev)],
                     "props": [json.dumps({"k": rng.randint(0, 99)}) for _ in range(n_ev)]})
    texts = []
    for i in range(n_doc):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.randrange(len(texts))])  # exact duplicates
        else:
            texts.append(" ".join(rng.choice(STAR_WORDS) for _ in range(rng.randint(15, 80))))
    write("documents", {"doc_id": pa.array(range(n_doc), pa.int64()), "text": texts,
                        "lang": [rng.choice(LANGS) for _ in range(n_doc)],
                        "source": [f"src{i % 20}" for i in range(n_doc)],
                        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    write("embeddings", {"vec_id": pa.array(range(n_doc), pa.int64()),
                         "embedding": pa.array([[rng.gauss(0, 1) for _ in range(64)] for _ in range(n_doc)],
                                               pa.list_(pa.float32())),
                         "label": pa.array([rng.randint(0, 4) for _ in range(n_doc)], pa.int32())})


# The `SparkEntry.queries` the benchmark runs (see README.md for why each).
QUERIES = [
    "q01_cdc_parse", "q04_leaderboard", "q05_recent", "q92_rolling_spikes", "q194_margin_gate",
    "q212_pca_anisotropy", "q189_semantic_contamination", "q258_sitemap", "q106_normalize",
    "q110_winnow", "q223_pass_at_k", "q114_url_canon", "q32_frame_sample", "q46_hash_sample",
    "q116_gopher_rep", "q57_window_battery", "q163_grouped_gk", "q255_byte_bpe",
    "q21_token_stats", "q30_embed_neardup", "q245_cdx_index",
]


# ---------------------------------------------------------------- workloads


def fanout_live(work, seed, seconds, p):
    rng = random.Random(seed)
    cat = Catalog(rng, p["dim_rows"])
    cat.write(os.path.join(work, "dim"))
    gen = EventGen(rng, cat, months=[(2024, 3)])
    # warm-up ticks use their own id range via a separate generator
    warm = EventGen(random.Random(seed + 1), cat, months=[(2024, 3)])
    warm.next_id = 5_000_000_000
    os.makedirs(os.path.join(work, "warmup"))
    for i in range(p["warm_files"]):
        text, _ = warm.unit(p["warm_valid"], p["warm_valid"] // 19, False)
        write_atomic(os.path.join(work, "warmup", f"w-{i}.json"), text)
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    ticks_per_s = round(1000 / p["tick_ms"])
    ticks = seconds * ticks_per_s
    tick_of = {}
    for t in range(ticks):
        text, ids = gen.unit(p["tick_valid"], p["tick_malformed"], t % ticks_per_s == 0)
        write_atomic(os.path.join(staged, f"tick-{t:05d}.json"), text)
        for eid in ids:
            tick_of[eid] = t
    params = {"ticks": ticks, "tick_ms": p["tick_ms"], "trigger_ms": p["trigger_ms"],
              "poll_ms": p["poll_ms"], "expected_valid": len(gen.expected)}
    return params, {"events": gen.expected, "tick_of": tick_of}


def fanout_catchup(work, seed, seconds, p):
    rng = random.Random(seed)
    cat = Catalog(rng, p["dim_rows"])
    cat.write(os.path.join(work, "dim"))
    months = [(2023, m) for m in range(7, 13)] + [(2024, m) for m in range(1, 4)]
    gen = EventGen(rng, cat, months=months[:p["months"]])
    warm = EventGen(random.Random(seed + 1), cat, months=months[:p["months"]])
    warm.next_id = 5_000_000_000
    os.makedirs(os.path.join(work, "warmup"))
    for i in range(2):
        text, _ = warm.unit(p["warm_valid"], 3, False)
        write_atomic(os.path.join(work, "warmup", f"w-{i}.json"), text)
    backlog = os.path.join(work, "backlog")
    os.makedirs(backlog)
    file_of = {}
    for f in range(p["files"]):
        text, ids = gen.unit(p["file_valid"], p["file_malformed"], f == 0)
        name = f"part-{f:04d}.json"
        write_atomic(os.path.join(backlog, name), text)
        for eid in ids:
            file_of[eid] = name
    rounds = max(1, round(seconds / p["nominal_round_s"]))
    return {"rounds": rounds}, {"events": gen.expected, "file_of": file_of, "rounds": rounds}


def resident_gates(work, seed, seconds, p):
    rng = random.Random(seed)
    gen = DocGen(rng)
    warm = DocGen(random.Random(seed + 1))
    warm.next_id = 5_000_000_000
    os.makedirs(os.path.join(work, "warmup"))
    write_atomic(os.path.join(work, "warmup", "w-0.json"), warm.unit(p["warm_docs"]))
    docs = os.path.join(work, "docs")
    os.makedirs(docs)
    for f in range(p["files"]):
        write_atomic(os.path.join(docs, f"part-{f:04d}.json"), gen.unit(p["file_docs"]))
    rounds = max(1, round(seconds / p["nominal_round_s"]))
    return {"rounds": rounds}, {"docs": gen.expected, "rounds": rounds}


def query_suite(work, seed, seconds, p):
    star_schema(os.path.join(work, "star"), seed)
    return {"queries": ",".join(QUERIES), "seconds": seconds}, {"queries": QUERIES}


def trace_extras(workload, work, seed, p):
    """Inputs of the layer that a listed workload's traced run times besides
    its own: a small document backlog for the resident gates in
    `fanout_catchup`, the star schema for the query list in `fanout_live`.
    Returns the extra JVM parameters and the expectations."""
    if workload == "fanout_catchup":
        _, gate_exp = resident_gates(os.path.join(work, "gates"), seed, p["nominal_round_s"],
                                     {"files": 1, "file_docs": p["trace_docs"], "warm_docs": 10,
                                      "nominal_round_s": p["nominal_round_s"]})
        return {}, {"docs": gate_exp["docs"], "rounds": 1}
    star_schema(os.path.join(work, "star"), seed)
    return {"queries": ",".join(QUERIES)}, {"queries": QUERIES}


GENERATORS = {
    "fanout_live": fanout_live,
    "fanout_catchup": fanout_catchup,
    "resident_gates": resident_gates,
    "query_suite": query_suite,
}
