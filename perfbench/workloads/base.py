"""What every workload provides to the runner."""

from __future__ import annotations


class Workload:
    """One closed-loop, single-client workload.

    ``setup`` builds the inputs from the seed, loads them and warms every
    code path the timed ops use; ``op`` runs one unit op and may set
    ``rec["rows"]`` (generated rows it delivered); reads interleaved with
    the writes append their latency to ``self.reads`` (a workload without
    them reports its op latencies as reads); ``verify`` runs the
    oracle after the timed phase. Oracle differences go through
    ``mismatch``."""

    name = ""
    #: The timed loop ends only after a whole number of this many ops.
    pass_len = 1

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.reads: list[float] = []
        self.mismatches: list[str] = []

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, rec: dict) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        raise NotImplementedError

    def close(self) -> None:
        pass
