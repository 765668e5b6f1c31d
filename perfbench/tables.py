#!/usr/bin/env python3
"""Seeded relational tables for the inventory queries of the `query_mix`
workload, and the DuckDB oracle's answers on them.

    python3 perfbench/tables.py --seed 1 --out DIR [--sql SQL.json --expected OUT.json]

Writes `lineitem`, `documents` and `embeddings` as one Parquet file each
(`DIR/<name>.parquet`), with the schemas of the engine's fixture tables
(TESTDATA.md): random TPC-H-style line items, word-salad documents with
planted exact and near duplicates, and unit-norm 64-dimensional embeddings
with planted near-duplicate vectors. The same seed writes the same rows.

With `--sql`, a JSON object {query name: DuckDB SQL}, it runs every query
in DuckDB over the written tables and writes {name: {"columns": [...],
"rows": [[...], ...]}} to `--expected`. Decimals, non-finite floats and
timestamps are tagged objects ({"$dec": "1.50"}, {"$f": "nan"},
{"$ts": "..."}), so a reader can compare every value exactly.
"""
import argparse
import datetime
import decimal
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEMS = 60000
DOCUMENTS = 500
EMBEDDINGS = 500
DIM = 64
SOURCES = 20
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)


def lineitem(r):
    n = LINEITEMS
    ship0 = np.datetime64("1995-01-01", "D")
    ship = ship0 + r.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(r.integers(1, n // 4 + 1, n), pa.int64()),
        "l_partkey": pa.array(r.integers(1, 2001, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(1, 101, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(r.integers(90000, 10500000, n) / 100.0),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n).tolist(), pa.string()),
        "l_linestatus": pa.array(r.choice(["O", "F"], n).tolist(), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def documents(r):
    texts = []
    for i in range(DOCUMENTS):
        kind = r.random()
        if i >= 20 and kind < 0.04:
            # exact duplicate of an earlier document
            texts.append(texts[r.integers(0, i)])
        elif i >= 20 and kind < 0.12:
            # near duplicate: an earlier document with a few words replaced
            ws = texts[r.integers(0, i)].split()
            for j in r.choice(len(ws), max(1, len(ws) // 12), replace=False):
                ws[j] = WORDS[r.integers(0, len(WORDS))]
            texts.append(" ".join(ws))
        else:
            texts.append(" ".join(r.choice(WORDS, r.integers(8, 90))))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(r.choice(LANGS, DOCUMENTS, p=LANG_WEIGHTS).tolist(), pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(DOCUMENTS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(r):
    v = r.standard_normal((EMBEDDINGS, DIM))
    # near-duplicate vectors: a perturbed copy of an earlier vector
    for i in range(20, EMBEDDINGS):
        if r.random() < 0.1:
            v[i] = v[r.integers(0, i)] + 0.3 * r.standard_normal(DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, EMBEDDINGS), pa.int32()),
    })


def tagged(v):
    """A JSON-safe value that keeps its exact meaning."""
    if isinstance(v, decimal.Decimal):
        return {"$dec": str(v)}
    if isinstance(v, float) and not math.isfinite(v):
        return {"$f": repr(v)}
    if isinstance(v, (datetime.datetime, datetime.date)):
        return {"$ts": v.isoformat()}
    if isinstance(v, (list, tuple)):
        return [tagged(x) for x in v]
    if isinstance(v, dict):
        return {"$struct": [[k, tagged(x)] for k, x in v.items()]}
    return v


def oracle(tables_dir, sql):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name in ("lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, name)}.parquet'")
    out = {}
    for name, q in sql.items():
        rel = con.sql(q)
        out[name] = {"columns": rel.columns,
                     "rows": [tagged(list(row)) for row in rel.fetchall()]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sql")
    ap.add_argument("--expected")
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for i, (name, make) in enumerate((("lineitem", lineitem), ("documents", documents),
                                      ("embeddings", embeddings))):
        # one stream per table, so the tables do not depend on each other
        r = np.random.default_rng([a.seed, i])
        pq.write_table(make(r), os.path.join(a.out, f"{name}.parquet"))
    if a.sql:
        with open(a.sql) as fh:
            sql = json.load(fh)
        with open(a.expected, "w") as fh:
            json.dump(oracle(a.out, sql), fh)


if __name__ == "__main__":
    main()
