"""Timing summaries, the correctness ledger, and process-tree memory."""

from __future__ import annotations

import os
import statistics
import sys


def timing_summary(values: list[float]) -> dict:
    """Median and mean, plus the highest of p90/p99 that has at least ten
    samples beyond it, always with the sample count. An empty sample gives
    n=0 and nothing else."""
    n = len(values)
    out: dict = {"n": n}
    if not n:
        return out
    out["p50"] = statistics.median(values)
    out["mean"] = statistics.fmean(values)
    for pct in (99, 90):
        if n * (100 - pct) / 100 >= 10:
            out[f"p{pct}"] = statistics.quantiles(values, n=100)[pct - 1]
            break
    return out


class Ledger:
    """Counts operations attempted and failed. An operation fails when it
    raises or when one of its answers differs from the expected one; every
    failure is printed with what was asked."""

    def __init__(self, out=sys.stderr):
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.failures: list[dict] = []
        self._out = out

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def attempt(self) -> int:
        self.attempted += 1
        return self.attempted

    def fail(self, op: int, what: str, **detail) -> None:
        self.failed_ops.add(op)
        rec = {"op": op, "what": what, **detail}
        self.failures.append(rec)
        print(f"perfbench FAILED: {rec}", file=self._out, flush=True)

    def expect(self, op: int, what: str, got, expected, **detail) -> bool:
        if got == expected:
            return True
        self.fail(op, what, got=repr(got)[:400], expected=repr(expected)[:400], **detail)
        return False


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host since boot, from /proc/stat: the
    share stolen by other guests shows how noisy a run's host was."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def process_tree(root_pid: int) -> list[int]:
    """A process and all its descendants (Linux /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def peak_rss_bytes(root_pid: int) -> tuple[int, int]:
    """(sum of the peak resident sizes the kernel kept for each live
    process of the tree, number of processes). The peaks need not coincide
    and forked workers share pages, so the sum bounds the tree's true peak
    from above."""
    total = n = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next((line for line in f if line.startswith("VmHWM:")), None)
        except OSError:
            continue
        if hwm is not None:
            total += int(hwm.split()[1]) * 1024
            n += 1
    return total, n


def dir_bytes(root: str) -> int:
    """Total size of the regular files under root."""
    return sum(
        os.path.getsize(os.path.join(dirpath, name))
        for dirpath, _, files in os.walk(root)
        for name in files
    )
