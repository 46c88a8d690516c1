"""Peak memory of a process tree, sampled from a separate process.

    python3 memsampler.py <root-pid> <result.json>

Every 0.25 s it sums the proportional set size (PSS, from
``/proc/<pid>/smaps_rollup``) of ``root-pid`` and all its descendants:
the Spark JVM, its Python workers and the benchmark process. PSS
splits pages shared between processes, so a forked child is not
counted twice. The benchmark's own helpers (this sampler and the load
generator) are left out. Each new peak is written to ``result.json``
as ``{"peak_mb": total, "by_exe_mb": {exe: mb}}``. Runs until killed.

Sampling from its own process keeps the work off the interpreter lock
of the process being measured.
"""

from __future__ import annotations

import json
import os
import sys
import time

SKIP = ("memsampler.py", "loadgen.py")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_mb(root: int) -> dict[str, float]:
    kids = _children()
    out: dict[str, float] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
            if any(a.endswith(s.encode()) for a in argv[1:3] for s in SKIP):
                continue
            mb = _pss_mb(pid)
            exe = os.path.basename(argv[0].decode(errors="replace")) or "?"
        except OSError:
            continue  # the process ended between listing and reading
        out[exe] = out.get(exe, 0.0) + mb
        stack.extend(kids.get(pid, ()))
    return out


def main() -> int:
    root, path = int(sys.argv[1]), sys.argv[2]
    peak = 0.0
    while os.path.exists(f"/proc/{root}"):
        by_exe = tree_mb(root)
        total = sum(by_exe.values())
        if total > peak:
            peak = total
            with open(path + ".tmp", "w") as fh:
                json.dump({"peak_mb": peak, "by_exe_mb": by_exe}, fh)
            os.replace(path + ".tmp", path)
        time.sleep(0.25)
    return 0


if __name__ == "__main__":
    sys.exit(main())
