"""Gate-rotation honesty check: the driver's correctness gate covers only
the FIRST 50 entries of __spark_entry__.queries(), so every entry CHANGED
since the last judged round must sit in positions 1-50 (trailing entries
must be carry-overs that were gated green in an earlier round, unchanged
since).

"Changed" is detected against the last round-boundary commit (the most
recent commit whose subject starts with "round N:"): an entry is changed
if it is new, its q_* function source differs, or its oracle SQL string
differs. Engine-kernel changes that alter an entry's semantics ALWAYS
surface in its oracle SQL (the oracle must mirror the semantics), so this
catches kernel-driven re-gates too.

Usage: python scripts/check_gate_order.py  (exit 1 on violation)
"""

from __future__ import annotations

import importlib.util
import inspect
import os
import re
import subprocess
import sys
import tempfile

GATE_CAP = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _round_base_ref() -> str:
    out = subprocess.run(
        ["git", "log", "--format=%H %s"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout
    for line in out.splitlines():
        h, _, subject = line.partition(" ")
        if re.match(r"round \d+:", subject):
            return h
    raise SystemExit("no round-boundary commit found")


def _load_module(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def changed_entries() -> tuple[list[str], list[str]]:
    """-> (registry order, entries changed since the round base)."""
    base = _round_base_ref()
    old_src = subprocess.run(
        ["git", "show", f"{base}:__spark_entry__.py"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout

    sys.path.insert(0, REPO)
    import __spark_entry__ as cur

    with tempfile.NamedTemporaryFile(
        "w", suffix="_old_entry.py", delete=False
    ) as f:
        f.write(old_src)
        old_path = f.name
    old = _load_module(old_path, "__spark_entry_old__")

    cur_q = cur.queries()
    old_q = old.queries()
    cur_o = cur.oracle_sql()
    old_o = old.oracle_sql()

    changed = []
    for name, fn in cur_q.items():
        if name not in old_q:
            changed.append(name)
            continue
        if inspect.getsource(fn) != inspect.getsource(old_q[name]):
            changed.append(name)
            continue
        if cur_o.get(name) != old_o.get(name):
            changed.append(name)
    return list(cur_q), changed


def main() -> int:
    order, changed = changed_entries()
    bad = [n for n in changed if order.index(n) >= GATE_CAP]
    print(f"registry: {len(order)} entries; changed since round base: {len(changed)}")
    for n in changed:
        pos = order.index(n) + 1
        mark = "OK " if pos <= GATE_CAP else "BAD"
        print(f"  {mark} pos {pos:3d}  {n}")
    if bad:
        print(f"VIOLATION: {bad} changed but sit outside the {GATE_CAP}-entry gate")
        return 1
    print("gate order OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
