#!/usr/bin/env bash
# Wire-path durability chaos (r15 VERDICT "Next round" #7): kill -9 one
# executor JVM while a `TABLE(PIPELINE('<entry>'))` statement is being
# served over the REST v2 wire under local-cluster + reliable checkpoints,
# and prove the STATEMENT-level contract:
#
#   - the HTTP response ARRIVES (no hung handle — a client with a timeout
#     never leaks a statement), and
#   - it either SUCCEEDS, with a rowset identical to a clean re-run of the
#     same statement on the recovered server (executor relaunch + durable
#     checkpoint re-read), or FAILS as a clean SnowflakeError JSON
#     (success:false + code) that a client can retry — and the retry on
#     the same server must then succeed with the same pinned rowset.
#
#   tools/wire_chaos_gate.sh [sfDir] [entry]
#
# Defaults: sf0.01 + p20_dedup_clusters with -Dgraft.ccDriverMaxEdges=0 so
# the distributed min-label loop (the checkpoint consumer) is live when the
# kill lands. Arming marker: first reliable-checkpoint part file, same as
# tools/chaos_gate.sh.
set -uo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
ENTRY=${2:-p20_dedup_clusters}
PORT=${GRAFT_PORT:-8097}
CK=$(mktemp -d /tmp/wire_chaos_XXXX)
LOG=target/wire_chaos_server.log
sbt -batch package > /dev/null
JAR=$(ls -t target/scala-2.13/snowflakeemulatorspark_2.13-*.jar | head -1)
# local-cluster launches executor JVMs via the launcher library, which
# needs SPARK_HOME (else "Cannot find any build directories") — same
# symlink shim as tools/cluster_gate.sh so work/ dirs land in-repo.
mkdir -p target/sparkhome
for d in jars bin conf sbin data RELEASE LICENSE NOTICE README.md; do
  ln -sfn "/opt/spark/$d" "target/sparkhome/$d"
done
export SPARK_HOME="$PWD/target/sparkhome"
export SPARK_SCALA_VERSION=2.13
export SPARK_GRAFT_MASTER='local-cluster[2,8,8192]'
export SPARK_GRAFT_JARS="$PWD/$JAR"
export SPARK_GRAFT_CPUS=16
export GRAFT_PORT=$PORT
export GRAFT_JAVA_OPTS="-Dgraft.checkpointMode=reliable -Dgraft.ccDriverMaxEdges=0 -Dgraft.checkpointDir=$CK/ck -Dgraft.matStageDir=$CK/mat -Dgraft.pipelineDir=$SF"
tools/run_main.sh graft.server.ServerMain > "$LOG" 2>&1 &
SRV_PID=$!
trap 'kill $SRV_PID 2>/dev/null; pkill -P $SRV_PID 2>/dev/null' EXIT
for _ in $(seq 1 240); do
  if curl -sf "http://127.0.0.1:$PORT/health" > /dev/null 2>&1; then break; fi
  if ! kill -0 $SRV_PID 2> /dev/null; then
    echo "[wire_chaos] FAIL: server died at startup"; tail -5 "$LOG"; exit 2
  fi
  sleep 0.5
done
echo "[wire_chaos] server up on :$PORT (sf=$SF entry=$ENTRY)"

Q="SELECT * FROM TABLE(PIPELINE('$ENTRY'))"
BODY=$(printf '{"statement":"%s"}' "$Q")
RESP=/tmp/wire_chaos_resp.json
rm -f "$RESP"
# the statement, with a hard client timeout: a hung handle = gate failure
curl -s --max-time 900 -X POST -H 'Content-Type: application/json' \
  -d "$BODY" "http://127.0.0.1:$PORT/api/v2/statements" -o "$RESP" &
CURL_PID=$!

armed=0
for _ in $(seq 1 2400); do
  if find "$CK/ck" -name "part-*" 2> /dev/null | head -1 | grep -q part; then
    armed=1; break
  fi
  if ! kill -0 $CURL_PID 2> /dev/null; then break; fi
  sleep 0.25
done
if [ "$armed" != 1 ]; then
  echo "[wire_chaos] FAIL: statement finished before the checkpoint marker armed"
  exit 2
fi
# this server's executors only (descendants of the server JVM)
VICTIM=$(tools/executor_of.sh $SRV_PID)
if [ -z "$VICTIM" ]; then
  echo "[wire_chaos] FAIL: no executor process found to kill"; exit 2
fi
echo "[wire_chaos] kill -9 executor pid $VICTIM (mid-statement)"
kill -9 "$VICTIM"

if ! wait $CURL_PID; then
  echo "[wire_chaos] FAIL: HTTP client timed out / transport error — hung handle"
  exit 1
fi
CODE=$(python3 -c "import json;print(json.load(open('$RESP')).get('code',''))")
echo "[wire_chaos] statement response code=$CODE"

rowhash() { # canonical rowset hash of a v2 response file
  python3 - "$1" << 'EOF'
import json, sys, hashlib
j = json.load(open(sys.argv[1]))
rows = sorted(json.dumps(r) for r in j.get("data", []))
print(len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest())
EOF
}

# clean re-run on the SAME recovered server = the pinned result
REF=/tmp/wire_chaos_ref.json
curl -s --max-time 900 -X POST -H 'Content-Type: application/json' \
  -d "$BODY" "http://127.0.0.1:$PORT/api/v2/statements" -o "$REF" || {
    echo "[wire_chaos] FAIL: post-chaos retry did not complete"; exit 1; }
REF_CODE=$(python3 -c "import json;print(json.load(open('$REF')).get('code',''))")
if [ "$REF_CODE" != "090001" ]; then
  echo "[wire_chaos] FAIL: retry on recovered server failed:"; cat "$REF"; exit 1
fi

if [ "$CODE" = "090001" ]; then
  H1=$(rowhash "$RESP"); H2=$(rowhash "$REF")
  echo "[wire_chaos] chaos rowset:  $H1"
  echo "[wire_chaos] retry rowset:  $H2"
  if [ "$H1" != "$H2" ]; then
    echo "[wire_chaos] FAIL: survived but rowset differs from the pinned re-run"
    exit 1
  fi
  echo "[wire_chaos] PASS: statement survived the executor kill with the pinned rowset"
else
  MSG=$(python3 -c "import json;print(json.load(open('$RESP')).get('message','')[:160])")
  echo "[wire_chaos] clean error surfaced to the client: $MSG"
  echo "[wire_chaos] PASS: no hung handle; clean retryable error + successful retry"
fi
