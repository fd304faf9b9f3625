"""Readers of /proc for the server process and the host."""

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_ms(pid):
    """User + system CPU of the process so far, in ms (all its threads)."""
    with open("/proc/%d/stat" % pid) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[11], fields[12] are utime and stime (stat fields 14 and 15)
    return (int(fields[11]) + int(fields[12])) * 1000.0 / CLK_TCK


def peak_rss_kb(pid):
    with open("/proc/%d/status" % pid) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def host_cpu():
    """(steal, total) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts[:8]]
    return vals[7], sum(vals)


def steal_pct(a, b):
    total = b[1] - a[1]
    return 100.0 * (b[0] - a[0]) / total if total > 0 else 0.0
