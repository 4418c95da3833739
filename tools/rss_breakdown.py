"""Where a benchmark's peak RSS sits: the JVM, each Python daemon, each worker.

Usage (from the repository root):

    python3 tools/rss_breakdown.py python3 northbench/run.py \\
        --workload crawl-pipeline --seed 1 --seconds 30

Runs the command as a child, samples the resident set of every process
below it from /proc, and after the child exits prints the sample whose
summed RSS was highest, split per process. The sum covers what northbench's
``peak_rss_mb`` covers: the child's descendants, not the child itself.
``peak_rss_mb`` alone cannot tell a smaller JVM from one Python worker pool
fewer; this split can. Roles:

- ``jvm``: the Spark JVM;
- ``daemon``: a ``pyspark.daemon`` started by the JVM, one per worker pool;
- ``worker``: a Python worker forked by a daemon;
- ``other``: anything else, e.g. a ``chmod`` the JVM forked for a file it
  wrote; until it execs, such a child reports the JVM's whole RSS.

Exits with the child's exit code.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.2


def _proc_table() -> dict[int, tuple[int, int, bytes]]:
    """pid -> (ppid, rss bytes, cmdline) for every readable process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/statm", encoding="utf-8") as f:
                rss = int(f.read().split()[1]) * PAGE
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, IndexError, ValueError):
            continue
        out[int(entry)] = (ppid, rss, cmd)
    return out


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _role(table, pid: int) -> str:
    ppid, _, cmd = table[pid]
    if b"pyspark.daemon" in cmd:
        parent_cmd = table.get(ppid, (0, 0, b""))[2]
        return "worker" if b"pyspark.daemon" in parent_cmd else "daemon"
    if os.path.basename(cmd.split(b"\0", 1)[0]) == b"java":
        return "jvm"
    return "other"


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    child = subprocess.Popen(argv)
    peak, at_peak, samples = 0, [], 0
    while child.poll() is None:
        table = _proc_table()
        pids = _descendants(table, child.pid)
        total = sum(table[p][1] for p in pids)
        samples += 1
        if total > peak:
            peak = total
            at_peak = [(_role(table, p), p, table[p][0], table[p][1]) for p in pids]
        time.sleep(INTERVAL_S)
    mb = 2**20
    print(f"peak summed RSS {peak / mb:.0f} MB over {samples} samples, by process:")
    for role, pid, ppid, rss in sorted(at_peak, key=lambda r: (r[0], -r[3])):
        print(f"  {role:7s} pid {pid:>7d} ppid {ppid:>7d} {rss / mb:9.1f} MB")
    by_role: dict[str, int] = {}
    for role, _, _, rss in at_peak:
        by_role[role] = by_role.get(role, 0) + rss
    print("  by role: " + ", ".join(f"{r} {v / mb:.0f} MB" for r, v in sorted(by_role.items())))
    return child.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
