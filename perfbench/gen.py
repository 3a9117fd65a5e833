"""Seeded input generators. Every input the benchmark feeds the program
is made here from the run's seed; nothing is read from the repository's
tests or test data, so editing a test cannot change benchmark inputs.

- ``corpus``: Oyez-shaped oral-argument JSON documents, one per case,
  with planted malformed files.
- ``star_schema``: the sf0.1-shaped analytics tables (TPC-H-like star
  schema plus events, documents and embeddings).
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

WORDS = (
    "the court counsel argument question statute record petitioner "
    "respondent because congress amendment clause review standard "
    "precedent judgment jurisdiction remedy evidence trial appeal "
    "federal state law rule case brief opinion dissent majority "
    "whether would could should that this there which interpretation "
    "doctrine liability damages injunction agency authority"
).split()

JUSTICES = [
    "John G. Roberts, Jr.", "Clarence Thomas", "Samuel A. Alito, Jr.",
    "Sonia Sotomayor", "Elena Kagan", "Neil Gorsuch", "Brett M. Kavanaugh",
    "Amy Coney Barrett", "Ketanji Brown Jackson",
]

FIRST_TERM = 2010
N_TERMS = 10

# kinds of planted malformed files, one file of each per corpus; the
# pipeline must quarantine all of them
JUNK_KINDS = ("syntax", "no_docket", "no_sections")


def make_case(rng: random.Random, case_no: int, term: int, n_sections: int) -> dict:
    """One Oyez-shaped document: ``n_sections`` sections, 20-30 turns per
    section, 1-3 text blocks per turn, 1-30 words per block (blocks under
    four words are dropped by the program's short-text filter)."""
    t = 0.0
    advocates = [
        {"ID": 10_000 + case_no * 4 + i, "name": f"Advocate {case_no}-{i}",
         "roles": None if i % 2 else ["attorney"]}
        for i in range(rng.randint(2, 4))
    ]
    justices = [
        {"ID": 1 + j, "name": f"Justice {name}", "roles": ["scotus_justice"]}
        for j, name in enumerate(JUSTICES)
    ]
    sections = []
    for _ in range(n_sections):
        turns = []
        for _ in range(rng.randint(20, 30)):
            speaker = rng.choice(justices if rng.random() < 0.45 else advocates)
            blocks = []
            for _ in range(rng.randint(1, 3)):
                n = rng.randint(1, 30)
                text = " ".join(rng.choice(WORDS) for _ in range(n))
                dur = round(n * 0.35, 3)
                blocks.append({
                    "start": round(t, 3), "stop": round(t + dur, 3),
                    "byte_start": 0, "byte_stop": len(text), "text": text,
                })
                t += dur
            turns.append({
                "start": blocks[0]["start"], "stop": blocks[-1]["stop"],
                "speaker": speaker, "text_blocks": blocks,
            })
        sections.append({
            "start": turns[0]["start"], "stop": turns[-1]["stop"],
            "byte_start": 0, "byte_stop": 1, "turns": turns,
        })
    docket = f"{term % 100:02d}-{case_no:05d}"
    return {
        "id": f"oa_{term}_{case_no}",
        "title": f"Case {case_no} v. United States",
        "term": str(term),
        "case_id": f"{term}_{docket}",
        "docket_number": docket,
        "session": rng.choice(["october", "november", "january", "march"]),
        "transcript": {
            "title": f"Oral argument in case {case_no}",
            "duration": round(t, 3),
            "sections": sections,
        },
    }


def junk_payload(rng: random.Random, case_no: int, kind: str) -> str:
    """A file the program must quarantine: unparseable JSON, a document
    without a docket number, or a document without sections."""
    if kind == "syntax":
        return '{"id": "broken_%d", "transcript": {"sections": [unclosed' % case_no
    doc = make_case(rng, case_no, FIRST_TERM, 2)
    if kind == "no_docket":
        doc["docket_number"] = None
    else:
        doc["transcript"]["sections"] = []
    return json.dumps(doc)


def _sections(i: int) -> int:
    """2-5 sections, cycled so that corpus totals hardly vary by seed."""
    return 2 + i % 4


def corpus(seed: int, n_cases: int) -> list[dict]:
    """``n_cases`` valid cases spread over ``N_TERMS`` terms plus one
    malformed file of each of ``JUNK_KINDS``.

    Each entry: {"name", "term", "doc"} for a valid case or
    {"name", "junk": payload} for a malformed file."""
    rng = random.Random(seed)
    out = []
    for i in range(n_cases):
        term = FIRST_TERM + i % N_TERMS
        out.append({"name": f"case_{i:05d}", "term": term,
                    "doc": make_case(rng, i, term, _sections(i))})
    for j, kind in enumerate(JUNK_KINDS):
        out.append({"name": f"junk_{j:04d}",
                    "junk": junk_payload(rng, 900_000 + j, kind)})
    rng.shuffle(out)
    return out


def write_corpus(entries: list[dict], path: str) -> int:
    """One pretty-printed JSON file per case (the reference's S3
    layout). Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for e in entries:
        body = e["junk"] if "junk" in e else json.dumps(e["doc"], indent=1)
        with open(os.path.join(path, e["name"] + ".json"), "w") as fh:
            fh.write(body)
        total += len(body)
    return total


# ---- analytics tables ----------------------------------------------

def _ts(rng: np.random.Generator, n: int, lo: str, hi: str, unit: str):
    a = np.datetime64(lo, unit).astype(np.int64)
    b = np.datetime64(hi, unit).astype(np.int64)
    return rng.integers(a, b + 1, n).astype(f"datetime64[{unit}]")


def star_schema(path: str, seed: int, sf: float = 0.1) -> None:
    """Write the sf-shaped analytics tables as one parquet file each:
    ``region nation customer supplier part orders lineitem events
    documents embeddings``. Column names and types follow the schema
    the registry queries read. Row counts, key ranges and uniqueness,
    join fan-outs and value distributions follow the sf0.1 tables the
    registry queries were validated on: keys and foreign keys are
    uniform draws, so about a quarter of the lineitem rows repeat an
    (l_orderkey, l_linenumber) pair there as here, and eight documents
    are exact duplicates of others."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    f64 = lambda a: pa.array(a, pa.float64())  # noqa: E731
    ts_us = lambda a: pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))  # noqa: E731

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    save("region", {"r_regionkey": i32(np.arange(5)), "r_name": regions})
    save("nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    save("customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist(),
    })
    save("supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "cold", "tiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "valve", "pipe", "screw", "spring"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
    save("part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)].tolist(),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    status = np.array(["O", "F", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    save("orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": f64(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": ts_us(_ts(rng, n_ord, "1995-01-01", "2001-08-01", "D")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist(),
    })
    flags = np.array(["N", "A", "R"])
    lstat = np.array(["O", "F"])
    save("lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": f64(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": flags[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": lstat[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": ts_us(_ts(rng, n_line, "1995-01-02", "2001-11-04", "D")),
    })
    n_ev = int(1_000_000 * sf)
    ev_ts = np.sort(_ts(rng, n_ev, "2024-01-01T00:00:00", "2024-01-30T23:59:59", "us"))
    etypes = np.array(["view", "click", "purchase", "signup", "error"])
    save("events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": ts_us(ev_ts),
        "user_id": i64(rng.integers(0, int(15_000 * sf), n_ev)),
        "event_type": etypes[rng.integers(0, 5, n_ev)].tolist(),
        "value": f64(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = int(50_000 * sf)
    vocab = np.array(
        "spark query table join scan filter group sort hash merge stream "
        "batch window row column value key data vector agg order line part "
        "customer fast slow big small a the".split()
    )
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    for dst in rng.choice(n_doc, 8, replace=False):  # planted exact duplicates
        texts[dst] = texts[int(rng.integers(0, n_doc))]
    save("documents", {
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc,
                           p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts]),
    })
    vecs, labels = embeddings(seed + 1, int(20_000 * sf))
    save("embeddings", {
        "vec_id": i64(np.arange(len(vecs))),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    })


def embeddings(seed: int, n: int, dim: int = 64, n_labels: int = 10):
    """``n`` unit float32 vectors around ``n_labels`` random centres,
    with their label. Returns (vectors [n, dim], labels [n])."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    v = centres[labels] + 1.2 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)
