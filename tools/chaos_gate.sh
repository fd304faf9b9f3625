#!/usr/bin/env bash
# Durability chaos gate (r14 VERDICT "Next round" #2): kill one executor
# JVM mid-flight during the iterative connected-components entry (p20,
# whose rounds consume the PREVIOUS round's materialization) under
# local-cluster, and prove the checkpointMode contract:
#
#   reliable: the job COMPLETES and the result still hash-matches the
#             DuckDB oracle — checkpoint files on shared storage survive
#             the executor loss, a relaunched executor re-reads them.
#   stage:    the job COMPLETES and hash-matches for the same reason —
#             staged parquet under matStageDir survives the loss; tasks
#             re-read columnar files on retry.
#   local:    the job FAILS with the documented block-loss error class —
#             localCheckpoint truncates lineage to executor-lifetime
#             blocks, so losing the executor makes the plan
#             unrecoverable by design (the reason `local` is the
#             single-tenant bench mode, never the cluster mode).
#
#   tools/chaos_gate.sh reliable [sfDir] [killDelaySec]
#   tools/chaos_gate.sh stage    [sfDir] [killDelaySec]
#   tools/chaos_gate.sh local    [sfDir] [killDelaySec]
#
# CHAOS_ENTRY selects the iterative entry (default p20_dedup_clusters);
# any Materialize-riding loop works for reliable/stage, whose arming
# marker (first checkpoint/staged-round file) is entry-agnostic — e.g.
# CHAOS_ENTRY=p80_lexrank (power-iteration rounds) or p41_pq_codebook
# (k-means + PQ codebook fit rounds). `local` mode's arming marker is
# p20-specific (the staged pair table).
#
# Determinism: the kill is armed by a filesystem marker — p20's first act
# is staging the shingle table (-Dgraft.shingleStageDir points it at a
# watched temp dir), so "marker exists + delay" lands inside the
# iterative loop, not before the job or after it.
set -uo pipefail
cd "$(dirname "$0")/.."
MODE=${1:-reliable}
SF=${2:-/root/testdata/sf0.01}
DELAY=${3:-3}
ENTRY=${CHAOS_ENTRY:-p20_dedup_clusters}
OUT=/tmp/chaos_out_$MODE
RUN=target/chaos_${MODE}.log
rm -rf "$OUT"
mkdir -p target/sparkhome
for d in jars bin conf sbin data RELEASE LICENSE NOTICE README.md; do
  ln -sfn "/opt/spark/$d" "target/sparkhome/$d"
done
sbt -batch package > /dev/null
JAR=$(ls target/scala-2.13/snowflakeemulatorspark_2.13-*.jar | head -1)
MARK=$(mktemp -d /tmp/chaos_shingle_XXXX)
CK=$(mktemp -d /tmp/chaos_ck_XXXX)
export SPARK_HOME="$PWD/target/sparkhome"
export SPARK_SCALA_VERSION=2.13
export SPARK_GRAFT_MASTER='local-cluster[2,8,8192]'
export SPARK_GRAFT_JARS="$PWD/$JAR"
export SPARK_GRAFT_CPUS=16
# ccDriverMaxEdges=0 forces p20's DISTRIBUTED min-label loop (the 100 TB
# path) — at test SFs the edge front fits the driver union-find fast
# path, which materializes nothing and would leave the kill unarmed
# CHAOS_EXTRA_OPTS appends entry-specific dials (e.g.
# -Dgraft.lexCheckpoint=2 so p80's power iteration checkpoints every
# other round and the arming marker appears mid-loop)
export GRAFT_JAVA_OPTS="-Dgraft.checkpointMode=$MODE -Dgraft.ccDriverMaxEdges=0 -Dgraft.shingleStageDir=$MARK -Dgraft.checkpointDir=$CK/ck -Dgraft.matStageDir=$CK/mat ${CHAOS_EXTRA_OPTS:-}"
echo "[chaos] mode=$MODE sf=$SF entry=$ENTRY delay=${DELAY}s"
sbt -batch "runMain graft.Verify $SF $OUT $ENTRY" > "$RUN" 2>&1 &
SBT_PID=$!
# Arm the kill INSIDE the iterative loop, not merely inside the job:
#  - reliable: the first checkpoint part-files under $CK/ck exist exactly
#    when round 1 of the CC loop has materialized and rounds 2+ still run;
#  - stage: the first materialized round's _SUCCESS under $CK/mat plays
#    the same role (Materialize stage mode = parquet write + readback);
#  - local: no checkpoint files exist, so arm on the staged shingle
#    marker (p20's first act) plus a small delay into the loop.
armed=0
for _ in $(seq 1 2400); do
  if [ "$MODE" = reliable ]; then
    if find "$CK/ck" -name "part-*" 2> /dev/null | head -1 | grep -q part; then
      armed=1; break
    fi
  elif [ "$MODE" = stage ]; then
    # require >=2 round markers (CHAOS_STAGE_MARKERS to override): a
    # single m_* could be a PRE-loop Materialize call; the second marker
    # proves the iterative loop itself is writing rounds, so the kill
    # lands inside it (entries that materialize exactly once never arm
    # and the gate exits 2 — conservative by design)
    if [ "$(ls -d "$CK"/mat/m_*/_SUCCESS 2> /dev/null | wc -l)" -ge "${CHAOS_STAGE_MARKERS:-2}" ]; then
      armed=1; break
    fi
  else
    # pr2_* is the staged PAIR table — the last thing p20 builds before
    # entering the min-label loop whose localCheckpoint blocks the kill
    # must destroy (the shingle table sh_* lands much earlier)
    if ls "$MARK"/pr2_*/_SUCCESS > /dev/null 2>&1; then armed=1; break; fi
  fi
  if ! kill -0 $SBT_PID 2> /dev/null; then break; fi
  sleep 0.25
done
if [ "$armed" != 1 ]; then
  echo "[chaos] FAIL: job ended before the marker armed (too fast/crashed)"
  wait $SBT_PID; tail -5 "$RUN"; exit 2
fi
[ "$MODE" = local ] && sleep "$DELAY"
# scope the victim to THIS run's executors: the descendants of the sbt
# process this script started, so a concurrent Spark session on the host
# can never be selected
VICTIM=$(tools/executor_of.sh $SBT_PID)
if [ -z "${VICTIM}" ]; then
  echo "[chaos] FAIL: no executor process alive at kill time"
  kill $SBT_PID 2> /dev/null; exit 2
fi
KILL_TIME=$(date +%s%N)
echo "[chaos] kill -9 executor pid $VICTIM at $(date -u +%T.%N)"
kill -9 "$VICTIM"
wait $SBT_PID
RC=$?
echo "[chaos] sbt exit=$RC"
grep -m2 -E "Lost executor|Executor .* (removed|FAILED)" "$RUN" || true
if [ "$MODE" != local ] && [ -e "$OUT/$ENTRY/_SUCCESS" ]; then
  # nanosecond mtime (date -r +%s%N) so a kill inside the same wall-clock
  # second as the output write no longer trips a spurious exit 3
  DONE_TIME=$(date -r "$OUT/$ENTRY/_SUCCESS" +%s%N)
  if [ "$KILL_TIME" -ge "$DONE_TIME" ]; then
    echo "[chaos] FAIL: kill landed AFTER the output was written — the run"
    echo "        proved nothing; rerun (job too fast for the marker)"
    exit 3
  fi
  echo "[chaos] kill landed $(( (DONE_TIME - KILL_TIME) / 1000000 )) ms before the output write (mid-job confirmed)"
fi
if [ "$MODE" != local ]; then
  if grep -q "\[verify\] $ENTRY failed" "$RUN"; then
    echo "[chaos] FAIL: $MODE mode did not survive the executor kill:"
    grep "\[verify\]" "$RUN"; exit 1
  fi
  [ -d "$OUT/$ENTRY" ] || { echo "[chaos] FAIL: no output written"; exit 1; }
  SF_DIR="$SF" VERIFY_OUT="$OUT" python3 tools/oracle_check.py || exit 1
  echo "[chaos] PASS: $MODE survived the kill; $ENTRY hash-matches the oracle"
else
  if grep -q "\[verify\] $ENTRY failed" "$RUN"; then
    echo "[chaos] observed failure (expected for local mode):"
    grep -m1 "\[verify\] $ENTRY failed" "$RUN"
    echo "[chaos] PASS: local mode failed as documented under executor loss"
  else
    echo "[chaos] NOTE: local mode SURVIVED — kill likely landed outside a"
    echo "        window holding live localCheckpoint blocks; rerun with a"
    echo "        different delay, or read $RUN for Spark's retry behavior"
    exit 3
  fi
fi
