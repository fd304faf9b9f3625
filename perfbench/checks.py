"""Expected results computed apart from the program, and the checks that
compare the program's wire results against them.

Each check returns None when the result is right and a one-line reason
when it is not; the workloads count a statement whose check fails as
failed. No check compares against a stored copy of an earlier run.
"""

import math

import numpy as np

REL_TOL = 1e-9


def close(a, b, rel=REL_TOL, abs_tol=1e-6):
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_tol)


def rows_equal(got, want, what):
    """Row lists compared cell by cell: numbers with a relative tolerance,
    everything else as strings."""
    if len(got) != len(want):
        return "%s: %d rows, expected %d" % (what, len(got), len(want))
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return "%s: row %d has %d cells, expected %d" % (what, i, len(g), len(w))
        for j, (gv, wv) in enumerate(zip(g, w)):
            if wv is None or gv is None:
                if not (wv is None and gv is None):
                    return "%s: row %d col %d is %r, expected %r" % (what, i, j, gv, wv)
            elif isinstance(wv, (int, float)) and not isinstance(wv, bool):
                try:
                    ok = close(gv, wv)
                except (TypeError, ValueError):
                    ok = False
                if not ok:
                    return "%s: row %d col %d is %r, expected %r" % (what, i, j, gv, wv)
            elif str(gv) != str(wv):
                return "%s: row %d col %d is %r, expected %r" % (what, i, j, gv, wv)
    return None


# ---------------------------------------------------------------- ci_suite

def ci_expected(module):
    rows = module["bound_rows"] + module["multi_rows"]
    by_id = {r[0]: r for r in rows}
    ids = [r[0] for r in rows]
    scores = [r[2] for r in rows]
    above = sorted(r[0] for r in rows if r[2] > module["threshold"])[:5]
    return {
        "agg": [[len(rows), sum(scores), min(ids), max(ids)]],
        "points": {i: [[by_id[i][1], by_id[i][2]]] for i in module["point_ids"]},
        "above": [[i, by_id[i][1]] for i in above],
    }


# ---------------------------------------------------------------- load_dml

def dml_expected(spec):
    """Replays one round on a Python model of the table: the rows each COPY
    loads (lines in the staged file), the MERGE counts, and the rows each
    UPDATE/DELETE/INSERT…SELECT touches, with COUNT/SUM after each step."""
    table = {}
    csv_rows = 0
    with open(spec["csv"]) as f:
        next(f)
        for line in f:
            i, c, a, n = line.rstrip("\n").split(",")
            table[int(i)] = [c, float(a), n]
            csv_rows += 1
    json_rows = 0
    import json
    with open(spec["json"]) as f:
        for line in f:
            o = json.loads(line)
            table[int(o["ID"])] = [o["CAT"], float(o["AMOUNT"]), o["NOTE"]]
            json_rows += 1
    exp = {"copy_csv": csv_rows, "copy_json": json_rows}

    def snap():
        return [[len(table), sum(v[1] for v in table.values())]]

    exp["after_copy"] = snap()
    delta = []
    with open(spec["delta"]) as f:
        next(f)
        for line in f:
            i, c, a, n = line.rstrip("\n").split(",")
            delta.append((int(i), c, float(a), n))
    exp["copy_delta"] = len(delta)
    inserted = updated = 0
    for i, c, a, n in delta:
        if i in table:
            table[i][0], table[i][1] = c, a
            updated += 1
        else:
            table[i] = [c, a, n]
            inserted += 1
    exp["merge"] = [inserted, updated, 0]
    exp["after_merge"] = snap()
    upd = 0
    for v in table.values():
        if v[0] == spec["update_cat"]:
            v[1] = v[1] + 1.5
            upd += 1
    exp["update"] = upd
    exp["after_update"] = snap()
    gone = [i for i in table if i % spec["delete_mod"] == 0]
    for i in gone:
        del table[i]
    exp["delete"] = len(gone)
    exp["after_delete"] = snap()
    src = [(i, v) for i, v in table.items() if v[0] == spec["copy_cat"]]
    for i, v in src:
        table[i + 10_000_000] = list(v)
    exp["insert_select"] = len(src)
    exp["after_insert"] = snap()
    return exp


def check_count(got, want, what):
    try:
        g = int(float(got))
    except (TypeError, ValueError):
        return "%s: got %r" % (what, got)
    return None if g == want else "%s: %d, expected %d" % (what, g, want)


def check_merge(got_row, want):
    """got_row: the MERGE result row (inserted, updated, deleted)."""
    if got_row is None or len(got_row) < 3:
        return "merge: result row %r" % (got_row,)
    got = [int(float(x)) for x in got_row[:3]]
    return None if got == want else "merge: counts %s, expected %s" % (got, want)


def check_conserved(before, after, inserted, deleted, what):
    """Rows conserved: after = before + inserted - deleted."""
    want = before + inserted - deleted
    return None if after == want else (
        "%s: %d rows after, expected %d + %d - %d" % (what, after, before, inserted, deleted))


# ---------------------------------------------------------------- analytic

def knn_exact(vecs, k=5):
    """Exact cosine top-k per query over every other vector, ties broken by
    id — the definition p05_knn_exact publishes. Returns (ids, sims)."""
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    np.fill_diagonal(sims, -np.inf)
    n = len(v)
    order = np.lexsort((np.tile(np.arange(n), (n, 1)), -sims), axis=1)[:, :k]
    return order, np.take_along_axis(sims, order, axis=1), sims


def check_ann(rows, exact_sims_topk, all_sims, k=5, eps=1e-6):
    """rows: (qid, neighbor_id, rank, score) from an approximate top-k
    entry. Property: sorted by their TRUE similarity, the i-th returned
    neighbour is never closer than the exact i-th neighbour; ids are
    distinct, not the query itself, and at most k per query."""
    per_q = {}
    for r in rows:
        per_q.setdefault(int(float(r[0])), []).append(int(float(r[1])))
    if not per_q:
        return "ann: empty result"
    for q, ns in per_q.items():
        if len(ns) > k or len(set(ns)) != len(ns) or q in ns:
            return "ann: query %d neighbour list %s" % (q, ns)
        true = sorted((all_sims[q, n] for n in ns), reverse=True)
        for i, s in enumerate(true):
            if s > exact_sims_topk[q, i] + eps:
                return ("ann: query %d neighbour #%d has similarity %.6f above "
                        "the exact #%d %.6f" % (q, i + 1, s, i + 1, exact_sims_topk[q, i]))
    return None


def recall(rows, exact_ids):
    hits = total = 0
    per_q = {}
    for r in rows:
        per_q.setdefault(int(float(r[0])), set()).add(int(float(r[1])))
    for q in range(len(exact_ids)):
        total += exact_ids.shape[1]
        hits += len(per_q.get(q, set()) & set(int(x) for x in exact_ids[q]))
    return hits / total if total else 0.0


def check_recall(value, floor, what):
    if not (0.0 <= value <= 1.0):
        return "%s: recall %r outside [0, 1]" % (what, value)
    return None if value >= floor else "%s: recall %.4f below floor %.2f" % (what, value, floor)


def bm25_scores(query, docs, k1=1.2, b=0.75):
    """BM25 of every document for a disjunctive query, the documented
    scoring (idf ln(1 + (N - df + 0.5) / (df + 0.5)), k1 = 1.2, b = 0.75,
    document length in space-separated tokens), in NumPy.
    Returns (doc_ids, n_tokens, scores) in doc id order."""
    ids = np.array(sorted(docs))
    toks = [docs[i].split(" ") for i in ids]
    dl = np.array([len(t) for t in toks], dtype=float)
    score = np.zeros(len(ids))
    for term in dict.fromkeys(query.lower().split()):
        tf = np.array([t.count(term) for t in toks], dtype=float)
        df = float((tf > 0).sum())
        idf = math.log(1.0 + (len(ids) - df + 0.5) / (df + 0.5))
        score += np.where(tf > 0, idf * tf * (1 + k1) / (tf + k1 * (1 - b + b * dl / dl.mean())), 0.0)
    return ids, dl.astype(int), score


def check_bm25(rows, query, docs, k=50, tol=2e-6):
    """rows: (doc_id, n_tokens, score) of TABLE(BM25_SEARCH(query)) against
    the NumPy scores: exactly min(k, documents) distinct rows; each row's
    token count and score those of its document; scores non-increasing
    down the result; and no document left out scores above the last one
    returned (ties at the cut may go either way)."""
    ids, dl, score = bm25_scores(query, docs)
    pos = {int(d): j for j, d in enumerate(ids)}
    want = min(k, len(ids))
    if len(rows) != want:
        return "bm25 %r: %d rows, expected %d" % (query, len(rows), want)
    got = [int(float(r[0])) for r in rows]
    if len(set(got)) != len(got):
        return "bm25 %r: a document is returned twice" % query
    prev = math.inf
    for d, r in zip(got, rows):
        j = pos.get(d)
        if j is None:
            return "bm25 %r: unknown document %s" % (query, r[0])
        s = float(r[-1])
        if int(float(r[1])) != dl[j] or abs(s - score[j]) > tol:
            return "bm25 %r: doc %d (%s tokens, score %.6f), expected (%d, %.6f)" % (
                query, d, r[1], s, dl[j], score[j])
        if s > prev + 1e-12:
            return "bm25 %r: score %.6f after %.6f" % (query, s, prev)
        prev = s
    left_out = np.delete(score, [pos[d] for d in got])
    if left_out.size and left_out.max() > prev + tol:
        return "bm25 %r: a document scoring %.6f is left out below %.6f" % (
            query, left_out.max(), prev)
    return None


# DuckDB queries over the same generated parquet, written from each
# entry's documented semantics; timestamps are compared as dates.
ORACLE_SQL = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2),
          round(sum(l_extendedprice), 2),
          round(sum(l_extendedprice * (1 - l_discount)), 2),
          round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2),
          avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "q03_top_orders": """
        SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority,
          sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer, orders, lineitem
        WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
          AND c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q05_nation_revenue": """
        SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
        GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q17_window_rank": """
        SELECT o_orderkey, o_orderpriority, o_totalprice, rn FROM (
          SELECT o_orderkey, o_orderpriority, o_totalprice,
            row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3 ORDER BY o_orderpriority, rn""",
}
DATE_COLS = {"q03_top_orders": 1}


def analytic_oracle(corpus_dir, entries):
    import duckdb
    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders", "customer", "supplier", "nation", "region"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, "%s/%s.parquet" % (corpus_dir, t)))
        return {e: [list(r) for r in con.execute(ORACLE_SQL[e]).fetchall()]
                for e in entries}
    finally:
        con.close()


def compare_entry(entry, rows, want):
    j = DATE_COLS.get(entry)
    if j is not None:
        rows = [[str(c)[:10] if k == j else c for k, c in enumerate(r)] for r in rows]
    return rows_equal(rows, want, entry)


def check_knn_exact(rows, exact_ids, exact_sims):
    """p05_knn_exact rows (qid, neighbor_id, rank, sim_r) against the NumPy
    top-5: same ids in the same order, similarity to 6 places."""
    if len(rows) != exact_ids.size:
        return "p05: %d rows, expected %d" % (len(rows), exact_ids.size)
    for r in rows:
        q, n, k = int(float(r[0])), int(float(r[1])), int(float(r[2]))
        if exact_ids[q, k - 1] != n:
            return "p05: query %d rank %d is %d, expected %d" % (q, k, n, exact_ids[q, k - 1])
        if abs(float(r[3]) - exact_sims[q, k - 1]) > 2e-6:
            return "p05: query %d rank %d similarity %s, expected %.6f" % (
                q, k, r[3], exact_sims[q, k - 1])
    return None
