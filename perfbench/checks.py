"""Output checks: exact top-k identity and conserved quantities.

Each check returns ``None`` when it holds and a one-line description of the
first difference otherwise; :class:`Checks` collects the failures of a run.
"""

from __future__ import annotations

import sys

import numpy as np


def topk_mismatch(got, want) -> str | None:
    """``got``/``want``: sequences of (docid, score). Docids must be equal
    and in the same order; scores equal to the bit as float32."""
    got, want = list(got), list(want)
    if len(got) != len(want):
        return f"{len(got)} hits, reference has {len(want)}"
    for rank, ((gd, gs), (wd, ws)) in enumerate(zip(got, want), start=1):
        if int(gd) != int(wd):
            return f"rank {rank}: docid {gd}, reference {wd}"
        g, w = np.float32(gs), np.float32(ws)
        if g.view(np.int32) != w.view(np.int32):
            return f"rank {rank} (docid {gd}): score {g!r}, reference {w!r}"
    return None


def equal(name: str, got, want) -> str | None:
    return None if got == want else f"{name}: {got} != {want}"


class Checks:
    def __init__(self):
        self.failures: list[str] = []
        self.count = 0

    def add(self, what: str, problem: str | None) -> None:
        self.count += 1
        if problem is not None:
            self.failures.append(f"{what}: {problem}")
            print(f"CHECK FAILED {what}: {problem}", file=sys.stderr)

    @property
    def ok(self) -> bool:
        return not self.failures
