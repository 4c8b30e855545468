"""Process-tree readings from /proc: members and memory."""

from __future__ import annotations

import os


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return stat[stat.rindex(")") + 2:].split()


def tree_pids(root_pid: int) -> set[int]:
    """``root_pid`` and all its live descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat_fields(int(name))[1])
            except (OSError, IndexError):
                continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def pss_bytes(pids: set[int]) -> int:
    """Sum of proportional set sizes: pages a forked Python worker shares
    with its parent count once, not once per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total
