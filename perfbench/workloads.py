"""The three closed-loop workloads: one client, one keep-alive connection
per protocol, whole rounds of the same statements.

Each workload has
  prepare(seed, dir)  -- makes its inputs and expected results (untimed,
                         before the server starts);
  fixture(client, t)  -- untimed server-side set-up (stages, PUTs, base
                         tables), its statements checked like a round's;
  round(client, t)    -- one round; every statement is counted in the
                         tally, and one whose result is wrong is failed.
"""

import os

import checks
import gen

GS, V2 = "gosnowflake", "restv2"


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors = []  # unexpected failures: make the run incorrect
        self.hook = None  # traced runs: called around each statement

    def step(self, client, proto, sql, bindings=None, kind="stmt", check=None):
        """Runs one statement and applies its check; returns the rows, or
        None when the statement failed."""
        self.attempted += 1
        if self.hook:
            self.hook(kind, None)
        try:
            rows = client.run(proto, sql, bindings, kind)
        except Exception as e:  # noqa: BLE001 - any wire failure fails the op
            self.fail("%s: %s" % (kind, e))
            return None
        if self.hook:
            self.hook(kind, rows)
        if check is not None:
            why = check(rows)
            if why:
                self.fail(why)
                return None
        return rows

    def fail(self, why, expected=False):
        self.failed += 1
        if not expected:
            self.errors.append(why)


def _cell(rows, i=0, j=0):
    return rows[i][j] if rows and len(rows) > i and len(rows[i]) > j else None


def _expect_rows(want, what):
    return lambda rows: checks.rows_equal(rows, want, what)


def _expect_count(j, want, what):
    return lambda rows: checks.check_count(_cell(rows, 0, j), want, what)


# ------------------------------------------------------------------ ci_suite

class CiSuite:
    """What a driver test suite sends: per module, login, USE, CREATE OR
    REPLACE TABLE, bound single-row INSERTs and one multi-row INSERT,
    constant/context probes, SHOW/DESCRIBE, point and small SELECTs,
    logout; the two modules of a round use the two protocols."""

    name = "ci_suite"
    corpus_dir = None

    def prepare(self, seed, _dir):
        self.spec = gen.ci_suite(seed)
        for m in self.spec["modules"]:
            m["expected"] = checks.ci_expected(m)

    def fixture(self, client, t):
        pass

    def round(self, client, t):
        for m in self.spec["modules"]:
            p, tbl, exp = m["protocol"], m["table"], m["expected"]
            outer = client.token
            client.login()
            t.step(client, p, "USE DATABASE BENCH", kind="use")
            t.step(client, p, "USE SCHEMA PUBLIC", kind="use")
            t.step(client, p, "CREATE OR REPLACE TABLE %s (ID INT, NAME VARCHAR, SCORE DOUBLE)"
                   % tbl, kind="ddl")
            for (i, name, score) in m["bound_rows"]:
                t.step(client, p, "INSERT INTO %s (ID, NAME, SCORE) VALUES (?, ?, ?)" % tbl,
                       [("FIXED", i), ("TEXT", name), ("REAL", repr(score))], kind="insert",
                       check=_expect_count(0, 1, "bound insert"))
            values = ", ".join("(%d, '%s', %r)" % r for r in m["multi_rows"])
            t.step(client, p, "INSERT INTO %s VALUES %s" % (tbl, values), kind="insert",
                   check=_expect_count(0, len(m["multi_rows"]), "multi-row insert"))
            t.step(client, p, "SELECT 1", kind="probe", check=_expect_rows([[1]], "SELECT 1"))
            t.step(client, p, "SELECT CURRENT_DATABASE(), CURRENT_SCHEMA()", kind="probe",
                   check=_expect_rows([["BENCH", "PUBLIC"]], "CURRENT_*"))
            t.step(client, p, "SHOW TABLES", kind="show",
                   check=lambda rows, tbl=tbl: None if any(
                       str(c).upper() == tbl for r in rows for c in r)
                   else "SHOW TABLES lacks %s" % tbl)
            t.step(client, p, "DESCRIBE TABLE %s" % tbl, kind="show",
                   check=lambda rows: None if [str(r[0]).upper() for r in rows]
                   == ["ID", "NAME", "SCORE"] else "DESCRIBE columns %r" % (rows,))
            for pid in m["point_ids"]:
                t.step(client, p, "SELECT NAME, SCORE FROM %s WHERE ID = ?" % tbl,
                       [("FIXED", pid)], kind="point",
                       check=_expect_rows(exp["points"][pid], "point select %d" % pid))
            t.step(client, p, "SELECT COUNT(*), SUM(SCORE), MIN(ID), MAX(ID) FROM %s" % tbl,
                   kind="select", check=_expect_rows(exp["agg"], "aggregate"))
            t.step(client, p, "SELECT ID, NAME FROM %s WHERE SCORE > %r ORDER BY ID LIMIT 5"
                   % (tbl, m["threshold"]), kind="select",
                   check=_expect_rows(exp["above"], "filtered select"))
            client.logout()
            client.token = outer


# ------------------------------------------------------------------ load_dml

class LoadDml:
    """Writes beside reads. The fixture PUTs the seeded files and COPYs
    them into DML_BASE (and the MERGE source DML_D). Every round clones
    DML_T from DML_BASE, so each round starts from the same table state,
    then runs a MERGE upsert, an UPDATE, a DELETE and an INSERT…SELECT,
    each followed by a verifying SELECT over REST v2, and ends with the
    COPY of the fixed lower-case-key JSON probe."""

    name = "load_dml"
    corpus_dir = None
    COLS = "(ID BIGINT, CAT VARCHAR, AMOUNT DOUBLE, NOTE VARCHAR)"

    def prepare(self, seed, d):
        self.spec = gen.load_dml(seed, os.path.join(d, "files"))
        self.exp = checks.dml_expected(self.spec)
        self.put_bytes = sum(os.path.getsize(self.spec[k])
                             for k in ("csv", "json", "delta", "probe"))
        self.copy_bytes = sum(os.path.getsize(self.spec[k]) for k in ("csv", "json"))
        self.row_bytes = self.copy_bytes / (self.exp["copy_csv"] + self.exp["copy_json"])

    def fixture(self, client, t):
        e = self.exp
        client.run(GS, "CREATE OR REPLACE STAGE BSTAGE", kind="fixture")
        for k in ("csv", "json", "delta", "probe"):
            client.run(GS, "PUT file://%s @BSTAGE/%s" % (os.path.abspath(self.spec[k]), k),
                       kind="put")
        t.step(client, GS, "CREATE OR REPLACE TABLE DML_BASE " + self.COLS, kind="ddl")
        t.step(client, GS, "COPY INTO DML_BASE FROM @BSTAGE/csv "
               "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)", kind="copy_load",
               check=_expect_count(3, e["copy_csv"], "COPY csv rows_loaded"))
        t.step(client, GS, "COPY INTO DML_BASE FROM @BSTAGE/json FILE_FORMAT = (TYPE = JSON)",
               kind="copy_load", check=_expect_count(3, e["copy_json"], "COPY json rows_loaded"))
        self._snap(client, t, "DML_BASE", e["after_copy"], "after COPY", 0,
                   e["copy_csv"] + e["copy_json"])
        t.step(client, GS, "CREATE OR REPLACE TABLE DML_D " + self.COLS, kind="ddl")
        t.step(client, GS, "COPY INTO DML_D FROM @BSTAGE/delta "
               "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)", kind="copy_delta",
               check=_expect_count(3, e["copy_delta"], "COPY delta rows_loaded"))

    def _snap(self, client, t, table, want, what, before=None, inserted=0, deleted=0):
        def check(rows):
            why = checks.rows_equal([rows[0][:2]] if rows else rows, want, what)
            if why or before is None:
                return why
            return checks.check_conserved(before, int(float(rows[0][0])),
                                          inserted, deleted, what)
        t.step(client, V2, "SELECT COUNT(*), SUM(AMOUNT) FROM " + table, kind="verify",
               check=check)

    def round(self, client, t):
        e = self.exp
        t.step(client, GS, "CREATE OR REPLACE TABLE DML_T CLONE DML_BASE", kind="clone")
        self._snap(client, t, "DML_T", e["after_copy"], "after CLONE")
        t.step(client, GS, "MERGE INTO DML_T t USING DML_D s ON t.ID = s.ID "
               "WHEN MATCHED THEN UPDATE SET t.CAT = s.CAT, t.AMOUNT = s.AMOUNT "
               "WHEN NOT MATCHED THEN INSERT (ID, CAT, AMOUNT, NOTE) "
               "VALUES (s.ID, s.CAT, s.AMOUNT, s.NOTE)", kind="merge",
               check=lambda rows: checks.check_merge(rows[0] if rows else None, e["merge"]))
        n = e["after_copy"][0][0]
        self._snap(client, t, "DML_T", e["after_merge"], "after MERGE", n, e["merge"][0])
        t.step(client, GS, "UPDATE DML_T SET AMOUNT = AMOUNT + 1.5 WHERE CAT = '%s'"
               % self.spec["update_cat"], kind="update",
               check=_expect_count(0, e["update"], "UPDATE rows"))
        self._snap(client, t, "DML_T", e["after_update"], "after UPDATE")
        n = e["after_merge"][0][0]
        t.step(client, GS, "DELETE FROM DML_T WHERE ID %% %d = 0" % self.spec["delete_mod"],
               kind="delete", check=_expect_count(0, e["delete"], "DELETE rows"))
        self._snap(client, t, "DML_T", e["after_delete"], "after DELETE", n, 0, e["delete"])
        n = e["after_delete"][0][0]
        t.step(client, GS, "INSERT INTO DML_T SELECT ID + 10000000, CAT, AMOUNT, NOTE "
               "FROM DML_T WHERE CAT = '%s'" % self.spec["copy_cat"], kind="insert_select",
               check=_expect_count(0, e["insert_select"], "INSERT SELECT rows"))
        self._snap(client, t, "DML_T", e["after_insert"], "after INSERT SELECT", n,
                   e["insert_select"])
        # the fixed lower-case-key JSON probe (see gen.LOWER_KEY_PROBE): its
        # COPY reports every row LOADED but loads NULLs; the verifying
        # SELECT shows it, and the COPY is counted as failed
        probe = gen.LOWER_KEY_PROBE
        t.step(client, GS, "CREATE OR REPLACE TABLE DML_P " + self.COLS, kind="ddl")
        t.step(client, GS, "COPY INTO DML_P FROM @BSTAGE/probe FILE_FORMAT = (TYPE = JSON)",
               kind="copy_probe", check=_expect_count(3, len(probe), "COPY probe rows_loaded"))
        rows = t.step(client, V2, "SELECT COUNT(ID), SUM(AMOUNT) FROM DML_P", kind="verify")
        if rows is not None and checks.rows_equal(
                rows, [[len(probe), sum(r["amount"] for r in probe)]], "probe"):
            t.fail("COPY JSON with lower-case keys loaded NULL rows", expected=True)


# ------------------------------------------------------------------ analytic

Q_ENTRIES = ["q01_pricing_summary", "q03_top_orders", "q05_nation_revenue",
             "q17_window_rank"]
ANN_ENTRY = "p42_knn_ivfpq"
# recall@5 floor, set well under what the entry reaches on these corpora
RECALL_FLOOR = 0.15


class Analytic:
    """Heavy reads through TABLE(PIPELINE(...)): q-series scan/join/
    aggregate/window entries, the exact kNN and the IVF-PQ ANN entry p42,
    and seeded BM25_SEARCH terms over REST v2. The rest of the ANN family
    (p35, p46, p47) is left out so that a run fits the time one benchmark
    run may take (see README)."""

    name = "analytic"

    def prepare(self, seed, d):
        self.spec = gen.analytic(seed, os.path.join(d, "corpus"))
        self.corpus_dir = self.spec["dir"]
        self.oracle = checks.analytic_oracle(self.spec["dir"], Q_ENTRIES)
        ids, sims, all_sims = checks.knn_exact(self.spec["vectors"])
        self.exact_ids, self.exact_sims, self.all_sims = ids, sims, all_sims

    def fixture(self, client, t):
        pass

    def _pipe(self, entry):
        return "SELECT * FROM TABLE(PIPELINE('%s'))" % entry

    def round(self, client, t):
        for q in Q_ENTRIES:
            t.step(client, GS, self._pipe(q), kind=q,
                   check=lambda rows, q=q: checks.compare_entry(q, rows, self.oracle[q]))
        t.step(client, GS, self._pipe("p05_knn_exact"), kind="p05_knn_exact",
               check=lambda rows: checks.check_knn_exact(rows, self.exact_ids,
                                                         self.exact_sims))

        def check_ann(rows):
            why = checks.check_ann(rows, self.exact_sims, self.all_sims)
            if why:
                return ANN_ENTRY + " " + why
            return checks.check_recall(checks.recall(rows, self.exact_ids),
                                       RECALL_FLOOR, ANN_ENTRY)
        t.step(client, GS, self._pipe(ANN_ENTRY), kind=ANN_ENTRY, check=check_ann)
        for qtext in self.spec["bm25_queries"]:
            t.step(client, V2, "SELECT * FROM TABLE(BM25_SEARCH('%s'))" % qtext,
                   kind="bm25",
                   check=lambda rows, qtext=qtext: checks.check_bm25(
                       rows, qtext, self.spec["docs"]))


WORKLOADS = {w.name: w for w in (CiSuite, LoadDml, Analytic)}
