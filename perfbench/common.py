"""State and helpers shared by the workloads."""

from __future__ import annotations

import gc
import math
import os
import statistics
import sys
import traceback

import spans

TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


class Run:
    """One benchmark run: its Spark session, settings and seed, and the
    count of operations attempted and failed."""

    def __init__(self, spark, cfg: dict, seed: int, seconds: float, traced: bool, rundir: str):
        self.spark, self.cfg = spark, cfg
        self.seed, self.seconds, self.traced, self.dir = seed, seconds, traced, rundir
        self.tag = f"s{seed}"
        self.tracer = spans.Tracer() if traced else None
        self.attempted = 0
        self.failed = 0
        self.report: dict = {}

    def check(self, ok: bool, what: str) -> None:
        """Count a wrong output as a failed operation."""
        if not ok:
            self.failed += 1
            print(f"perfbench: MISMATCH {what}", file=sys.stderr)

    def error(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        traceback.print_exception(exc, file=sys.stderr)

    @staticmethod
    def tail(samples: list[float]) -> tuple[float | None, float | None]:
        """(percentile, value): the highest of TAIL_PERCENTILES with at
        least ten samples beyond it, by nearest rank; (None, None) when
        there are fewer than 20 samples."""
        n, best = len(samples), (None, None)
        ordered = sorted(samples)
        for p in TAIL_PERCENTILES:
            rank = math.ceil(p / 100 * n)
            if rank >= 1 and n - rank >= 10:
                best = (p, ordered[rank - 1])
        return best


def settle() -> None:
    """Move every object alive now (inputs, oracle) out of the garbage
    collector's reach, so its full passes during the timed loop do not
    rescan them and add pauses that are the benchmark's, not the
    program's."""
    gc.collect()
    gc.freeze()


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def middle_half_mean(values) -> float:
    """Mean of the values left when the lowest and the highest quarter
    (rounded down) are dropped: as robust to one slow operation as the
    median, and it uses more of the samples."""
    ordered = sorted(values)
    cut = len(ordered) // 4
    return statistics.fmean(ordered[cut : len(ordered) - cut])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path) for f in files
    )


def per_op_layers(tracer: spans.Tracer, ops: dict[str, list[str]]) -> dict[str, float]:
    """Self time of every layer per operation: for each kind of operation
    (``ops`` maps a kind to its operation ids), the mean over that
    kind's operations, summed over the kinds. In serve, for instance,
    ``index.build.self_s`` is its time per build and ``index.wand.self_s``
    its time per request. ``op.unattributed_s`` is the time inside the
    operations that no layer span covers, ``trace.spans_per_op`` their
    span count, both summed over the kinds the same way."""
    totals = {layer: 0.0 for layer in [*spans.LAYERS, spans.SPARK_LAYER, spans.OP_LAYER]}
    n_spans = 0.0
    for ids in ops.values():
        for op in ids:
            op_spans = tracer.request_spans(op)
            n_spans += len(op_spans) / len(ids)
            for layer, s in tracer.self_times(op_spans).items():
                totals[layer] += s / len(ids)
    out = {f"{layer}.self_s": v for layer, v in totals.items() if layer != spans.OP_LAYER}
    out["op.unattributed_s"] = totals[spans.OP_LAYER]
    out["trace.spans_per_op"] = n_spans
    return out
