"""The traced run: per-layer numbers for the same workloads.

Spans come from three places and share the client's statement index:
the client's own span (send/receive, bytes), the emulator's query
history (executor elapsed per query id), and the Spark events the traced
server's listeners keep (jobs, tasks, query compile phases). REST v2
statements carry their handle as Spark job group; gosnowflake statements
carry none, so every server event is attributed to the statement whose
client window holds it, which is exact with one sequential client.
Everything is kept in memory and written to .perfbench/traces/ at the end.
"""

import json
import os
import statistics
import time

MB = 1024.0 * 1024.0
WRITE_KINDS = ("insert", "update", "delete", "merge", "insert_select")
STAGED_KINDS = ("p05_knn_exact", "p42_knn_ivfpq")
ENTRY_KINDS = ("q01_pricing_summary", "q03_top_orders", "q05_nation_revenue",
               "q17_window_rank") + STAGED_KINDS + ("bm25",)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _files(d):
    out = {}
    for dp, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(dp, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    def __init__(self, server, client, wl, run_dir):
        self.server, self.client, self.wl = server, client, wl
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.writes = []      # (kind, new parquet files, new bytes, rows changed)
        self._before = None

    def begin(self, tally):
        self.warm_spans = list(self.client.spans)
        self.jvm0 = self.server.side("/jvm")
        tally.hook = self._around

    def _around(self, kind, rows):
        if kind not in WRITE_KINDS:
            return
        if rows is None:
            self._before = _files(self.warehouse)
            return
        after = _files(self.warehouse)
        new = [p for p in after if p not in self._before and p.endswith(".parquet")]
        try:
            first = rows[0]
            changed = (int(float(first[0])) + int(float(first[1]))
                       if kind == "merge" else int(float(first[0])))
        except (IndexError, TypeError, ValueError):
            changed = 0
        self.writes.append((kind, len(new), sum(after[p] for p in new), changed))

    def _events(self):
        """Listener events arrive on Spark's asynchronous bus: read until
        the count stops moving."""
        last = None
        for _ in range(20):
            ev = self.server.side("/events")
            if last is not None and len(ev) == len(last):
                return ev
            last = ev
            time.sleep(0.25)
        return last

    def finish(self, timed, wall, cpu_ms, steal):
        errors = []
        ev = self._events()
        jvm1 = self.server.side("/jvm")
        emu = self.server.side("/emulator")
        seen, stmts = set(), []
        for s in timed:
            key = (s["sql"], json.dumps(s["bindings"]))
            if key not in seen and len(stmts) < 200:
                seen.add(key)
                stmts.append({"sql": s["sql"], "bindings": s["bindings"]})
        micro = self.server.side("/microbench", stmts)
        history = {qid: ms for qid, ms in emu["history"]}

        starts = {e["job"]: e for e in ev if e["ev"] == "job_start"}
        ends = {e["job"]: e["t"] for e in ev if e["ev"] == "job_end"}
        jobs = [(s["t"], ends.get(j, s["t"]), s.get("group")) for j, s in starts.items()]
        tasks = [e for e in ev if e["ev"] == "task"]
        qes = [e for e in ev if e["ev"] == "qe"]

        rows = []
        for s in timed:
            lo, hi = s["t_send"] * 1000.0, s["t_recv"] * 1000.0
            js = [(a, b) for a, b, _ in jobs if lo <= a <= hi]
            ts = [t for t in tasks if lo <= t["finish"] <= hi]
            exec_ms = history.get(s["qid"])
            jobs_ms = _union_ms(js, lo, hi)
            compile_ms = sum(q["compile_ms"] for q in qes if lo <= q["t"] <= hi)
            rows.append({
                "i": s["i"], "kind": s["kind"], "proto": s["proto"], "rt_ms": s["rt_ms"],
                "exec_ms": exec_ms, "jobs": len(js), "jobs_ms": jobs_ms,
                "compile_ms": compile_ms, "tasks": len(ts),
                "task_run_ms": sum(t.get("run_ms", 0) for t in ts),
                "task_cpu_ms": sum(t.get("cpu_ns", 0) for t in ts) / 1e6,
                "tasks_ms": _union_ms([(t["launch"], t["finish"]) for t in ts], lo, hi),
                "in_bytes": sum(t.get("in_bytes", 0) for t in ts),
                "shuffle_w": sum(t.get("shuffle_w", 0) for t in ts),
                "spill": sum(t.get("spill", 0) for t in ts),
            })
        n = max(1, len(rows))
        with_exec = [r for r in rows if r["exec_ms"] is not None]
        if len(with_exec) < len(rows):
            errors.append("trace: %d statements without a query-history record"
                          % (len(rows) - len(with_exec)))
        task_cpu = sum(r["task_cpu_ms"] for r in rows)
        if task_cpu > cpu_ms:
            errors.append("trace: listener task CPU %.0f ms exceeds the server's /proc CPU "
                          "%.0f ms over the timed phase" % (task_cpu, cpu_ms))
        grouped = sum(1 for _, _, g in jobs if g)

        def kind_rt(kind, spans):
            return [s["rt_ms"] for s in spans if s["kind"] == kind]

        m = {}
        # the tail repeats too loosely between runs to be an end-to-end
        # metric here (16-56 statements per run); it is kept per layer
        lat = [s["rt_ms"] for s in timed]
        m["client.stmt_p90_ms"] = (statistics.quantiles(lat, n=10, method="inclusive")[8]
                                   if len(lat) > 1 else _median(lat), "ms")
        m["server.wire_ms"] = (_median([r["rt_ms"] - r["exec_ms"] for r in with_exec]), "ms")
        m["server.req_bytes"] = (_mean([s["req_bytes"] for s in timed]), "bytes")
        m["server.resp_bytes"] = (_mean([s["resp_bytes"] for s in timed]), "bytes")
        m["server.login_ms"] = (_median(self.client.logins), "ms")
        m["emulator.bind_us"] = (micro["bind_us"], "us")
        m["emulator.classify_us"] = (micro["classify_us"], "us")
        m["emulator.rewrite_us"] = (micro["rewrite_us"], "us")
        m["emulator.execute_ms"] = (_median([r["exec_ms"] for r in with_exec]), "ms")
        m["emulator.history_size"] = (emu["history_size"], "count")
        m["emulator.history_success_us"] = (emu["history_success_us"], "us")
        m["emulator.live_sessions_after"] = (emu["live_sessions"], "count")
        m["emulator.statements_retained"] = (emu["statements_retained"], "count")
        m["spark.compile_ms"] = (_mean([r["compile_ms"] for r in rows]), "ms")
        m["spark.jobs_per_stmt"] = (sum(r["jobs"] for r in rows) / n, "count")
        m["spark.tasks_per_stmt"] = (sum(r["tasks"] for r in rows) / n, "count")
        m["spark.task_run_ms"] = (sum(r["task_run_ms"] for r in rows) / n, "ms")
        m["spark.task_cpu_ms"] = (task_cpu / n, "ms")
        m["spark.driver_wait_ms"] = (_mean([max(0.0, r["exec_ms"] - r["tasks_ms"])
                                           for r in with_exec]), "ms")
        m["spark.input_mb"] = (sum(r["in_bytes"] for r in rows) / n / MB, "MB")
        m["spark.shuffle_write_mb"] = (sum(r["shuffle_w"] for r in rows) / n / MB, "MB")
        m["spark.spill_mb"] = (sum(r["spill"] for r in rows) / n / MB, "MB")
        m["spark.grouped_job_share"] = (grouped / max(1, len(jobs)), "ratio")

        puts = kind_rt("put", self.warm_spans)
        put_bytes = getattr(self.wl, "put_bytes", 0)
        m["stage.put_mb_per_s"] = ((put_bytes / MB) / (sum(puts) / 1000.0) if puts else 0.0,
                                   "MB/s")
        # the CSV and JSON COPYs of the fixture, so in set-up
        copies = kind_rt("copy_load", self.warm_spans)
        copy_bytes = getattr(self.wl, "copy_bytes", 0)
        m["operators.copy_mb_per_s"] = ((copy_bytes / MB) / (sum(copies) / 1000.0)
                                        if copies else 0.0, "MB/s")
        m["operators.merge_ms"] = (_median(kind_rt("merge", timed)), "ms")
        cow = [w for w in self.writes if w[0] in ("update", "delete")]
        m["operators.cow_files_rewritten"] = (_mean([w[1] for w in cow]), "count")
        row_bytes = getattr(self.wl, "row_bytes", 0) or 1.0
        changed = sum(w[3] for w in self.writes) * row_bytes
        m["operators.write_amp"] = (sum(w[2] for w in self.writes) / changed
                                    if changed else 0.0, "ratio")
        wh = _files(self.warehouse)
        data = [p for p in wh if p.endswith(".parquet")]
        m["catalog.table_files"] = (len(data), "count")
        data_bytes = sum(wh[p] for p in data)
        m["catalog.space_amp"] = (sum(wh.values()) / data_bytes if data_bytes else 0.0, "ratio")

        for k in ENTRY_KINDS:
            m["queries.entry_ms." + k] = (_median(kind_rt(k, timed)), "ms")
        cold = [max(kind_rt(k, self.warm_spans)) - _median(kind_rt(k, timed))
                for k in STAGED_KINDS if kind_rt(k, self.warm_spans) and kind_rt(k, timed)]
        m["queries.stage_cold_ms"] = (sum(cold), "ms")
        m["queries.defs_lookup_us"] = (micro["defs_lookup_us"], "us")

        m["jvm.gc_ms_per_stmt"] = ((jvm1["gc_ms"] - self.jvm0["gc_ms"]) / n, "ms")
        m["jvm.gc_count"] = (jvm1["gc_count"] - self.jvm0["gc_count"], "count")
        m["jvm.code_cache_mb"] = (jvm1["code_cache"] / MB, "MB")
        m["jvm.heap_used_mb"] = (jvm1["heap_used"] / MB, "MB")
        m["host.steal_pct"] = (steal, "%")

        # self time per layer, mean ms per statement: what the wire/server
        # adds around the executor, the executor outside Spark, and Spark
        # jobs; with spark.compile_ms they add up to the mean round trip
        m["trace.stmts_per_s"] = (len(timed) / wall, "1/s")
        m["trace.self_ms.server"] = (_mean([r["rt_ms"] - r["exec_ms"] for r in with_exec]), "ms")
        m["trace.self_ms.emulator"] = (_mean([max(0.0, r["exec_ms"] - r["compile_ms"]
                                                  - r["jobs_ms"]) for r in with_exec]), "ms")
        m["trace.self_ms.spark_jobs"] = (_mean([r["jobs_ms"] for r in rows]), "ms")
        m["trace.task_cpu_share"] = (task_cpu / cpu_ms if cpu_ms else 0.0, "ratio")

        out = os.path.join(os.path.dirname(os.path.dirname(self.server.run_dir)), "traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, os.path.basename(self.server.run_dir) + ".json"), "w") as f:
            json.dump({"statements": rows, "events": ev, "emulator": {
                k: v for k, v in emu.items() if k != "history"}, "microbench": micro,
                "jvm": [self.jvm0, jvm1], "writes": self.writes,
                "metrics": {k: v for k, (v, _) in m.items()}}, f)
        return m, errors
