#!/usr/bin/env bash
# Print the pid of one Spark executor JVM started under process $1, or
# nothing. Under local-cluster the workers run inside the driver JVM and
# start each executor as its child, so a gate that launched the driver
# finds its own executors among that process's descendants and never
# selects one of a concurrent Spark session on the same host.
#
#   VICTIM=$(tools/executor_of.sh "$DRIVER_OR_LAUNCHER_PID")
ps -eo pid=,ppid=,args= | awk -v root="$1" '
  { parent[$1] = $2 }
  $3 ~ /java$/ && / org\.apache\.spark\.executor\.CoarseGrainedExecutorBackend / { exe[$1] = 1 }
  END {
    for (p in exe)
      for (q = parent[p]; q != ""; q = parent[q])
        if (q == root) { print p; exit }
  }'
