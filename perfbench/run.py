#!/usr/bin/env python3
"""Wire-level benchmark of the graft emulator.

    python3 perfbench/run.py --workload ci_suite|load_dml|analytic \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the packaged jar with sbt (once
per source state), makes the workload's inputs from the seed, starts
`graft.server.ServerMain` from the jar in a run directory of its own,
drives whole rounds of the workload over both wire protocols for at least
S seconds and at least two rounds after an untimed warm-up round, checks
every result, stops the server and removes the run directory. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports
the end-to-end metrics, --trace 1 starts the traced server
(perfbench/agent) instead and reports the per-layer metrics. See
perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
import urllib.request

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import tracer as tracing  # noqa: E402
import workloads  # noqa: E402
from wire import Client  # noqa: E402

SPARK_CORES = 2          # of the host's 4: the rest is the client's and the JVM's
HEAP = "2g"
YOUNG = "512m"
SERVER_START_TIMEOUT_S = 120
STOP_TIMEOUT_S = 20
BUILD_TIMEOUT_S = 840
MIN_ROUNDS = 2           # timed rounds per run, whatever --seconds says

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ------------------------------------------------------------------- build

def source_digest(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt")]
    files += sorted(glob.glob(os.path.join(root, "project", "*.properties")))
    files += sorted(glob.glob(os.path.join(root, "project", "*.sbt")))
    for d in ("src/main", "perfbench/agent"):
        for dp, _, fs in sorted(os.walk(os.path.join(root, d))):
            files += [os.path.join(dp, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """sbt package + the runtime classpath, then javac of the trace agent
    against them. Cached under .perfbench/build keyed by the sources."""
    bdir = os.path.join(work, "build")
    stamp = os.path.join(bdir, "stamp.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("digest") == digest and os.path.exists(st["jar"]):
            return st
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            "-Dsbt.global.base=" + os.path.join(bdir, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the jar (sbt package)")
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                                "export Runtime/fullClasspath"], cwd=root, env=env,
                               stdout=out, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except (OSError, subprocess.TimeoutExpired) as e:
            raise BenchError("sbt failed to run: %s" % e)
    if p.returncode != 0:
        raise BenchError("sbt exited %d (see %s)" % (p.returncode, out.name))
    with open(os.path.join(bdir, "sbt.log")) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp_line = next((ln for ln in reversed(lines)
                    if ":" in ln and ".jar" in ln and not ln.startswith("[")), None)
    jars = sorted(glob.glob(os.path.join(root, "target", "scala-*", "*.jar")),
                  key=os.path.getmtime)
    if not cp_line or not jars:
        raise BenchError("sbt produced no jar or classpath")
    jar = jars[-1]
    classes = os.path.join(os.path.dirname(jar), "classes")
    cp = [jar if c.rstrip("/") == classes else c for c in cp_line.split(":")]
    agent = os.path.join(bdir, "agent")
    shutil.rmtree(agent, ignore_errors=True)
    os.makedirs(agent)
    p = subprocess.run(["javac", "-nowarn", "-d", agent, "-cp", ":".join(cp),
                        os.path.join(HERE, "agent", "TraceMain.java")],
                       capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise BenchError("javac of the trace agent failed: " + p.stderr[-2000:])
    st = {"digest": digest, "jar": jar, "classpath": cp, "agent": agent}
    with open(stamp, "w") as f:
        json.dump(st, f)
    log("built in %.0f s" % (time.time() - t0))
    return st


# ------------------------------------------------------------------ server

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """The emulator JVM, confined to one run directory: java.io.tmpdir
    (stage root, CoW/time-travel temp dirs), the warehouse, Spark's local
    dir and the pipeline and Materialize staging roots all live under it.
    Left to their defaults the two staging roots would go to /dev/shm,
    outside the run, and outlive a killed server; set per run they are
    never shared, so every run pays the cold index build."""

    def __init__(self, build_info, run_dir, corpus_dir, traced):
        self.run_dir = run_dir
        self.port = free_port()
        self.trace_port = free_port() if traced else None
        for d in ("tmp", "warehouse", "local", "pipe_stage", "mat_stage"):
            os.makedirs(os.path.join(run_dir, d), exist_ok=True)
        cp = build_info["classpath"]
        main = "graft.server.ServerMain"
        if traced:
            cp = [build_info["agent"]] + cp
            main = "perfbench.TraceMain"
        cmd = ["java"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
        cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Xmx" + HEAP, "-Xmn" + YOUNG, "-XX:ReservedCodeCacheSize=512m",
                "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
                "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
                "-Dgraft.shingleStageDir=" + os.path.join(run_dir, "pipe_stage"),
                "-Dgraft.matStageDir=" + os.path.join(run_dir, "mat_stage")]
        if corpus_dir:
            cmd.append("-Dgraft.pipelineDir=" + corpus_dir)
        cmd += ["-cp", ":".join(cp), main]
        env = dict(os.environ)
        env.update({"GRAFT_PORT": str(self.port), "SPARK_GRAFT_CPUS": str(SPARK_CORES)})
        if traced:
            env["PERFBENCH_TRACE_PORT"] = str(self.trace_port)
        self.log_path = os.path.join(run_dir, "server.log")
        self.log_file = open(self.log_path, "w")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=self.log_file,
                                     stderr=subprocess.STDOUT, start_new_session=True)
        self.pid = self.proc.pid

    def wait_ready(self):
        deadline = time.time() + SERVER_START_TIMEOUT_S
        while time.time() < deadline:
            if self.proc.poll() is not None:
                raise BenchError("server exited with %s at start-up (log: %s)"
                                 % (self.proc.returncode, self.tail()))
            try:
                with urllib.request.urlopen("http://127.0.0.1:%d/health" % self.port,
                                            timeout=2) as r:
                    if r.status == 200:
                        if self.trace_port is None or self._side_ready():
                            return
            except OSError:
                pass
            time.sleep(0.2)
        raise BenchError("server did not answer within %d s" % SERVER_START_TIMEOUT_S)

    def _side_ready(self):
        try:
            self.side("/jvm")
            return True
        except OSError:
            return False

    def side(self, path, body=None):
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request("http://127.0.0.1:%d%s" % (self.trace_port, path),
                                     data=data)
        with urllib.request.urlopen(req, timeout=120) as r:
            return json.loads(r.read())

    def tail(self, n=2000):
        try:
            with open(self.log_path) as f:
                return f.read()[-n:]
        except OSError:
            return ""

    def stop(self):
        """SIGTERM to the server's process group, wait, SIGKILL as the
        fallback; always reaps."""
        if self.proc.poll() is None:
            try:
                os.killpg(self.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
            try:
                self.proc.wait(STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                log("server ignored SIGTERM; killing")
        try:
            os.killpg(self.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.log_file.close()


# --------------------------------------------------------------------- run

def hd_median(xs):
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of the order statistics. A round mixes statement classes
    whose latencies sit apart (a load_dml round has a gap between its
    verifying SELECTs and its table rewrites near the middle), and the sample
    median jumps across such a gap when two statements swap places; this
    estimate moves smoothly instead."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a = (n + 1) / 2.0
    g = np.linspace(0.0, 1.0, 20001)
    pdf = g ** (a - 1) * (1 - g) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    return float(np.diff(np.interp(np.arange(n + 1) / n, g, cdf)) @ x)


def by_kind(spans):
    """Summed round trip per statement kind, ms, in first-seen order."""
    out = {}
    for sp in spans:
        out[sp["kind"]] = out.get(sp["kind"], 0.0) + sp["rt_ms"]
    return out


def run(args, root):
    work = os.path.join(root, ".perfbench")
    build_info = build(root, work)
    wl = workloads.WORKLOADS[args.workload]()
    run_dir = os.path.join(work, "runs", "%s-s%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    server = None
    try:
        wl.prepare(args.seed, os.path.join(run_dir, "inputs"))
        server = Server(build_info, run_dir, wl.corpus_dir, bool(args.trace))
        server.wait_ready()
        t_ready = time.perf_counter() - server.t_launch
        client = Client(server.port)
        client.login()
        warm = workloads.Tally()
        wl.fixture(client, warm)
        wl.round(client, warm)
        t_setup = time.perf_counter() - server.t_launch
        warm_spans = len(client.spans)
        log("set-up: server ready %.2fs, fixture and warm-up round %.2fs (%s)" % (
            t_ready, t_setup - t_ready, ", ".join(
                "%s %.0f" % (k, v) for k, v in by_kind(client.spans).items())))

        tracer = tracing.Tracer(server, client, wl, run_dir) if args.trace else None
        tally = workloads.Tally()
        if tracer:
            tracer.begin(tally)
        cpu0, steal0 = procstat.cpu_ms(server.pid), procstat.host_cpu()
        t0 = time.perf_counter()
        rounds = []  # (wall s, server CPU ms, statements) per round
        while True:
            r0, c0, n0 = time.perf_counter(), procstat.cpu_ms(server.pid), len(client.spans)
            wl.round(client, tally)
            rounds.append((time.perf_counter() - r0, procstat.cpu_ms(server.pid) - c0,
                           len(client.spans) - n0))
            if len(rounds) >= MIN_ROUNDS and time.perf_counter() - t0 >= args.seconds:
                break
        wall = time.perf_counter() - t0
        cpu1, steal1 = procstat.cpu_ms(server.pid), procstat.host_cpu()
        rss_mb = procstat.peak_rss_kb(server.pid) / 1024.0
        timed = client.spans[warm_spans:]
        lat = [s["rt_ms"] for s in timed]
        n = len(timed)
        steal = procstat.steal_pct(steal0, steal1)
        log("%s seed=%d rounds=%d statements=%d wall=%.2fs setup=%.2fs steal=%.1f%% "
            "round_s=%s" % (args.workload, args.seed, len(rounds), n, wall, t_setup, steal,
                            ",".join("%.2f" % r[0] for r in rounds)))
        log("timed round trips per kind, ms: " + ", ".join(
            "%s %.0f" % (k, v) for k, v in by_kind(timed).items()))
        errors = warm.errors + tally.errors
        if tracer:
            metrics, trace_errors = tracer.finish(timed, wall, cpu1 - cpu0, steal)
            errors += trace_errors
        else:
            # medians over the rounds: a burst of host steal that slows one
            # round of three does not move them
            metrics = {
                "setup_s": (t_setup, "s"),
                "stmts_per_s": (statistics.median(k / w for w, _, k in rounds), "1/s"),
                "stmt_p50_ms": (hd_median(lat), "ms"),
                "cpu_ms_per_stmt": (statistics.median(c / k for _, c, k in rounds), "ms"),
                "peak_rss_mb": (rss_mb, "MB"),
            }
        client.logout()
        client.close()
        for e in errors[:20]:
            log("CHECK FAILED: " + e)
        return {
            "correct": not errors,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM to the benchmark unwinds through run()'s cleanup, which
    # stops the server and removes the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        log("no build.sbt/src/main in %s: run from the root of a checkout" % root)
        return 2
    try:
        result = run(args, root)
    except BenchError as e:
        log("ERROR: %s" % e)
        return 3
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
