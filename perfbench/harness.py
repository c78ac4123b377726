"""Closed-loop op timing shared by the workloads.

One client runs one op at a time; an op is the call into the engine's
public function plus the checksum action that consumes its result.  Each
op's answer is compared with the oracle's, and an op that raises or
mismatches counts as failed and is left out of the latency figures.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench.trace import Tracer


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool


@dataclass
class Bench:
    spark: object
    conf: object
    cores: int
    seed: int
    seconds: float
    tracer: Tracer
    ops: list[Op] = field(default_factory=list)

    def run_op(self, kind: str, fn, expect, same=None) -> None:
        """Time ``fn()`` (call + action) and check it against ``expect``."""
        same = same or (lambda got, want: got == want)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, op_id=len(self.ops)):
                got = fn()
            ok = bool(same(got, expect))
            if not ok:
                print(f"perfbench: {kind} op {len(self.ops)}: got {got}, "
                      f"oracle {expect}", file=sys.stderr)
        except Exception:  # an op that raises is a failed op, not a crash
            traceback.print_exc()
            ok = False
        self.ops.append(Op(kind, time.perf_counter() - t0, ok))

    def check(self, kind: str, ok: bool, detail: str = "") -> None:
        """Record an untimed correctness check as an op."""
        if not ok:
            print(f"perfbench: check {kind} failed {detail}", file=sys.stderr)
        self.ops.append(Op(kind, 0.0, ok))

    def times(self, kind: str) -> list[float]:
        return [o.seconds for o in self.ops if o.kind == kind and o.ok]

    def median_s(self, kind: str) -> float:
        t = self.times(kind)
        return statistics.median(t) if t else float("nan")

    def op_ms(self, kinds) -> float:
        """Geometric mean over op kinds of each kind's median op time: a
        summary that does not depend on how many ops of each kind fit in
        the run."""
        meds = [self.median_s(k) for k in kinds if self.times(k)]
        if not meds:
            return float("nan")
        return 1e3 * math.exp(sum(math.log(m) for m in meds) / len(meds))

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def dir_files(path: str) -> dict[str, int]:
    """``{file path: size}`` for every data file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith("."):  # skip checksum side files
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())
