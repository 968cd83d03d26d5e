"""Peak memory of the session's processes over a block: the JVM and the
Python daemon and workers it forks. Read from /proc and the JVM's
memory-pool beans; nothing samples while the block runs.

Entering resets every process's peak-RSS mark (writing 5 to
/proc/<pid>/clear_refs) and the peak of every JVM heap pool; leaving
sums the marks (VmHWM) and the pool peaks. A sum of peaks is the
combined peak when the parts peak together and an upper bound on it
otherwise. As in any summed RSS, pages a forked worker shares
copy-on-write with the daemon count once per process.

A Python worker that ran no instruction during the block is left out:
Spark keeps idle workers for a minute after their last task, so an
earlier stage's leftovers would otherwise count in a block that never
used them, or not, depending on how long that stage ended before.
"""

from __future__ import annotations

import os


def tree(root: int) -> list[int]:
    """root and all its descendants."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
        # the comm field may hold spaces; fields after it follow ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    members, frontier = [root], [root]
    while frontier:
        for k in kids.get(frontier.pop(), []):
            members.append(k)
            frontier.append(k)
    return members


def _hwm(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def _cpu_ns(pid: int) -> int:
    with open(f"/proc/{pid}/schedstat") as fh:
        return int(fh.read().split()[0])


class PeakMem:
    """Context manager over a Spark session. After the block, in bytes:
    `.peak` the summed peak RSS of the JVM and its descendants that ran,
    `.python` the part of it from the Python processes, and `.heap` the
    summed peak use of the JVM's survivor and old heap pools (eden's
    peak is just its size: G1 fills it before every collection)."""

    def __init__(self, spark):
        self.root = spark.sparkContext._gateway.proc.pid
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [
            p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP" and "Eden" not in p.getName()
        ]
        self.cpu: dict[int, int] = {}
        self.peak = self.python = self.heap = 0

    def __enter__(self) -> PeakMem:
        for pid in tree(self.root):
            try:
                self.cpu[pid] = _cpu_ns(pid)
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except (FileNotFoundError, ProcessLookupError):
                pass  # exited since the scan
        for p in self.pools:
            p.resetPeakUsage()
        return self

    def __exit__(self, *exc) -> None:
        jvm = _hwm(self.root)
        total = 0
        for pid in tree(self.root):
            try:
                if pid == self.root or _cpu_ns(pid) != self.cpu.get(pid):
                    total += _hwm(pid)
            except (FileNotFoundError, ProcessLookupError):
                pass
        self.peak, self.python = total, total - jvm
        self.heap = sum(p.getPeakUsage().getUsed() for p in self.pools)
