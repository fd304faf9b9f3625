"""Seeded input generation for the three workloads.

Every input the emulator sees is made here from the run's seed; the
expected results the checks compare against are computed from the same
inputs in Python/NumPy/DuckDB (see checks.py), never read back from the
program.
"""

import json
import os
import random

import numpy as np

# the 30-word vocabulary and value domains the pipeline entries' literal
# predicates select on (BUILDING segment, ASIA region, 1-URGENT..5-LOW
# priorities, A/N/R return flags, 1992-1998 dates)
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# ---------------------------------------------------------------- ci_suite

CI_MODULES_PER_ROUND = 2  # one per wire protocol
CI_MULTI_ROWS = 30
CI_BOUND_ROWS = 2
CI_POINTS = 2


def ci_suite(seed):
    """Two "test modules" per round, one per protocol, each with its own
    table slot, bound single-row inserts, one multi-row insert and the
    probe/point/small SELECTs a driver test suite sends."""
    r = random.Random(seed * 7919 + 1)
    modules = []
    for m in range(CI_MODULES_PER_ROUND):
        base = r.randrange(1000, 9000)
        rows = []
        for i in range(CI_BOUND_ROWS + CI_MULTI_ROWS):
            rows.append((base + i, "n%05d" % r.randrange(100000),
                         r.randrange(-50000, 50000) / 100.0))
        r.shuffle(rows)
        threshold = r.randrange(-20000, 20000) / 100.0
        point_ids = [rows[r.randrange(len(rows))][0] for _ in range(CI_POINTS)]
        modules.append({
            "protocol": "gosnowflake" if m % 2 == 0 else "restv2",
            "table": "CI_T%d" % m,
            "bound_rows": rows[:CI_BOUND_ROWS],
            "multi_rows": rows[CI_BOUND_ROWS:],
            "threshold": threshold,
            "point_ids": point_ids,
        })
    return {"modules": modules}


# ---------------------------------------------------------------- load_dml

DML_CSV_ROWS = 40000
DML_JSON_ROWS = 20000
DML_DELTA_ROWS = 4000
DML_CATS = 20
DML_DELETE_MOD = 7  # DELETE … WHERE ID % 7 = 0
# fixed (seed-independent) rows with lower-case JSON keys: COPY matches
# JSON keys to the table's upper-case column names case-sensitively and
# loads these as all-NULL rows, so this probe fails on every round
LOWER_KEY_PROBE = [{"id": 1, "cat": "p", "amount": 1.25, "note": "x"},
                   {"id": 2, "cat": "p", "amount": 2.5, "note": "y"},
                   {"id": 3, "cat": "q", "amount": 3.75, "note": "z"}]


def load_dml(seed, out_dir):
    """Writes load.csv (header + rows), load.json (NDJSON) and delta.csv;
    returns the file metadata and the statements' parameters."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = DML_CSV_ROWS + DML_JSON_ROWS
    ids = rng.permutation(n * 2)[:n].astype(np.int64)
    cats = rng.integers(0, DML_CATS, n)
    amounts = rng.integers(0, 10_000_000, n) / 100.0
    notes = rng.integers(0, 1000, n)
    csv_path = os.path.join(out_dir, "load.csv")
    with open(csv_path, "w") as f:
        f.write("id,cat,amount,note\n")
        for i in range(DML_CSV_ROWS):
            f.write("%d,c%d,%.2f,n%d\n" % (ids[i], cats[i], amounts[i], notes[i]))
    # keys spelled like the table's (upper-case) column names; the
    # lower-case spelling is exercised by the fixed probe file below
    json_path = os.path.join(out_dir, "load.json")
    with open(json_path, "w") as f:
        for i in range(DML_CSV_ROWS, n):
            f.write(json.dumps({"ID": int(ids[i]), "CAT": "c%d" % cats[i],
                                "AMOUNT": float("%.2f" % amounts[i]),
                                "NOTE": "j%d" % notes[i]}) + "\n")
    probe_path = os.path.join(out_dir, "probe_lower.json")
    with open(probe_path, "w") as f:
        f.write("".join(json.dumps(r) + "\n" for r in LOWER_KEY_PROBE))
    # delta: half matches existing ids (MERGE updates), half is new
    existing = rng.choice(ids, DML_DELTA_ROWS // 2, replace=False)
    fresh = np.setdiff1d(np.arange(n * 2, dtype=np.int64), ids)
    fresh = rng.choice(fresh, DML_DELTA_ROWS - len(existing), replace=False)
    d_ids = np.concatenate([existing, fresh])
    rng.shuffle(d_ids)
    d_cats = rng.integers(0, DML_CATS, len(d_ids))
    d_amounts = rng.integers(0, 10_000_000, len(d_ids)) / 100.0
    delta_path = os.path.join(out_dir, "delta.csv")
    with open(delta_path, "w") as f:
        f.write("id,cat,amount,note\n")
        for i in range(len(d_ids)):
            f.write("%d,d%d,%.2f,m\n" % (d_ids[i], d_cats[i], d_amounts[i]))
    return {
        "csv": csv_path, "json": json_path, "delta": delta_path,
        "probe": probe_path,
        "update_cat": "c%d" % rng.integers(0, DML_CATS),
        "delete_mod": DML_DELETE_MOD,
        "copy_cat": "c%d" % rng.integers(0, DML_CATS),
    }


# ---------------------------------------------------------------- analytic

AN_EMBEDDINGS = 500
AN_DIM = 64
AN_LABELS = 8
AN_DOCS = 500
AN_ORDERS = 15000
AN_LINES_PER_ORDER = 4
AN_CUSTOMERS = 1500
AN_SUPPLIERS = 100
AN_BM25_QUERIES = 2
AN_BM25_TERMS = 2


def analytic_docs(rng, n_docs):
    """{doc_id: text}: 15-89 words each, drawn from VOCAB."""
    words = np.array(VOCAB)
    return {d: " ".join(words[rng.integers(0, len(VOCAB), int(rng.integers(15, 90)))])
            for d in range(n_docs)}


def analytic(seed, out_dir):
    """Writes the corpus directory the pipeline entries read (one parquet
    file per table, the schemas Tables.load expects) and returns the
    seeded BM25 query terms."""
    import duckdb
    import pandas as pd

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # embeddings: unit-norm, mildly clustered by label. The seed changes the
    # values, not the amount of work: clusters are equal in size, every
    # BM25 query has AN_BM25_TERMS terms, and DELETE's modulus is fixed,
    # so runs on different seeds do the same work.
    centers = rng.normal(size=(AN_LABELS, AN_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.permutation(np.arange(AN_EMBEDDINGS) % AN_LABELS)
    vecs = 0.5 * centers[labels] + rng.normal(size=(AN_EMBEDDINGS, AN_DIM)) / np.sqrt(AN_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)

    words = np.array(VOCAB)
    texts = analytic_docs(rng, AN_DOCS)
    docs = [(d, t, ["en", "de", "fr", "es", "zh"][d % 5], "src%d" % (d % 20), len(t))
            for d, t in texts.items()]

    nations = [(i, "NATION_%d" % i, i % 5) for i in range(25)]
    customers = [(c, "Customer#%06d" % c, int(rng.integers(0, 25)),
                  round(float(rng.uniform(-999, 9999)), 2),
                  SEGMENTS[int(rng.integers(0, 5))]) for c in range(1, AN_CUSTOMERS + 1)]
    suppliers = [(s, "Supplier#%04d" % s, int(rng.integers(0, 25)),
                  round(float(rng.uniform(-999, 9999)), 2)) for s in range(1, AN_SUPPLIERS + 1)]
    day0 = np.datetime64("1992-01-01")
    orders, lines = [], []
    for o in range(1, AN_ORDERS + 1):
        odate = day0 + np.timedelta64(int(rng.integers(0, 2400)), "D")
        orders.append((o, int(rng.integers(1, AN_CUSTOMERS + 1)),
                       "FOP"[int(rng.integers(0, 3))],
                       round(float(rng.uniform(1000, 500000)), 2), str(odate),
                       PRIORITIES[int(rng.integers(0, 5))]))
        for ln in range(1, AN_LINES_PER_ORDER + 1):
            ship = odate + np.timedelta64(int(rng.integers(1, 120)), "D")
            lines.append((o, int(rng.integers(1, 200)),
                          int(rng.integers(1, AN_SUPPLIERS + 1)), ln,
                          float(rng.integers(1, 51)),
                          round(float(rng.uniform(900, 100000)), 2),
                          float(rng.integers(0, 11)) / 100.0,
                          float(rng.integers(0, 9)) / 100.0,
                          "ANR"[int(rng.integers(0, 3))],
                          "OF"[int(rng.integers(0, 2))], str(ship)))

    con = duckdb.connect()
    try:
        def write(name, cols, rows):
            con.execute("CREATE OR REPLACE TABLE %s (%s)" % (name, cols))
            names = [c.split()[0] for c in cols.split(", ")]
            con.register("src_rows", pd.DataFrame(rows, columns=names))
            con.execute("INSERT INTO %s SELECT * FROM src_rows" % name)
            con.unregister("src_rows")
            con.execute("COPY %s TO '%s' (FORMAT PARQUET)"
                        % (name, os.path.join(out_dir, name + ".parquet")))

        write("region", "r_regionkey INTEGER, r_name VARCHAR",
              [(i, n) for i, n in enumerate(REGIONS)])
        write("nation", "n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
              nations)
        write("customer", "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, "
              "c_acctbal DOUBLE, c_mktsegment VARCHAR", customers)
        write("supplier", "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, "
              "s_acctbal DOUBLE", suppliers)
        write("orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
              orders)
        write("lineitem", "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
              "l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE, "
              "l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, "
              "l_linestatus VARCHAR, l_shipdate TIMESTAMP", lines)
        write("documents", "doc_id BIGINT, text VARCHAR, lang VARCHAR, "
              "source VARCHAR, n_chars BIGINT", docs)
        write("embeddings", "vec_id BIGINT, embedding FLOAT[], label INTEGER",
              [(i, vecs[i].tolist(), int(labels[i])) for i in range(AN_EMBEDDINGS)])
    finally:
        con.close()

    queries = []
    for _ in range(AN_BM25_QUERIES):
        queries.append(" ".join(words[rng.choice(len(VOCAB), AN_BM25_TERMS, replace=False)]))
    return {"dir": out_dir, "bm25_queries": queries, "vectors": vecs,
            "docs": texts}
