"""Reference results the benchmark checks the program's outputs against:
a pure-Python transcript flattener and DuckDB fingerprints of the
registry queries' oracle SQL."""

from __future__ import annotations

import json
import os

MIN_WORDS = 4  # the reference keeps text blocks with more than three words


def flatten(doc: dict) -> list[tuple]:
    """Kept utterances of one document, in order, as
    (case_id, utterance_index, char_start, word_count, text) — the
    reference's triple loop over sections, turns and text blocks."""
    out, idx, offset = [], 0, 0
    for s in doc["transcript"]["sections"]:
        for turn in s["turns"]:
            for b in turn["text_blocks"]:
                words = len(b["text"].split())
                if words < MIN_WORDS:
                    continue
                out.append((doc["case_id"], idx, offset, words, b["text"]))
                offset += len(b["text"]) + 1
                idx += 1
    return out


def sections_with_text(doc: dict) -> int:
    """Sections that keep at least one utterance: one chunk each."""
    return sum(
        any(
            len(b["text"].split()) >= MIN_WORDS
            for t in s["turns"]
            for b in t["text_blocks"]
        )
        for s in doc["transcript"]["sections"]
    )


def corpus_counts(entries: list[dict]) -> dict[str, int]:
    docs = [e["doc"] for e in entries if "doc" in e]
    return {
        "files": len(entries),
        "valid": len(docs),
        "junk": len(entries) - len(docs),
        "utterances": sum(len(flatten(d)) for d in docs),
        "chunks": sum(sections_with_text(d) for d in docs),
    }


TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def query_fingerprints(sf_dir: str, registry, names: list[str], cache: str) -> dict:
    """(row count, sorted columns, value hash) of each query's DuckDB
    oracle over ``sf_dir``, cached in ``cache`` keyed by the oracle SQL
    so an edited oracle is recomputed."""
    import duckdb

    from tools.check_correctness import value_hash

    known = {}
    if os.path.exists(cache):
        with open(cache) as fh:
            known = json.load(fh)
    out, con = {}, None
    for name in names:
        sql = registry[name].oracle
        hit = known.get(name)
        if hit and hit["sql"] == sql:
            out[name] = hit
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')"
                )
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = {"sql": sql, "rows": len(rows), "cols": sorted(cols),
                     "hash": value_hash(cols, rows)}
    if con is not None:
        con.close()
        with open(cache + ".tmp", "w") as fh:
            json.dump(out, fh)
        os.replace(cache + ".tmp", cache)
    return out
