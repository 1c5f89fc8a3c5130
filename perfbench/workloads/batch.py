"""``batch``: the two batch uses of the engine in one pass, in the order
a deployment runs them: the graph build over a TXT corpus with its delta
refresh (:mod:`.build`), then the analytics suite over a directed graph
(:mod:`.analytics`).

They share one JVM, so the cold JIT and code-generation cost a batch job
pays is paid once, mostly by the build, and the phase times of each half
are in the per-layer metrics (``build.full_build_s``, ``build.refresh_s``,
``analytics.suite_s``).
"""

from __future__ import annotations

from ..harness import Op, Workload
from .analytics import Analytics
from .build import Build


class Batch(Workload):
    def __init__(self, spark, seed: int, work: str, watchdog):
        super().__init__(spark, seed, work, watchdog)
        self.parts = (Build(spark, seed, work, watchdog), Analytics(spark, seed, work, watchdog))

    def setup(self) -> None:
        for part in self.parts:
            part.setup()

    def run_pass(self, tracer) -> list[Op]:
        return [op for part in self.parts for op in part.run_pass(tracer)]

    def verify(self, ops: list[Op]) -> list[str]:
        return [msg for part in self.parts for msg in part.verify(ops)]

    def layer_metrics(self, tracer, ops: list[Op]) -> dict:
        m = {}
        for part in self.parts:
            m.update(part.layer_metrics(tracer, ops))
        return m
