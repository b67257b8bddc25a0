"""bars_pipeline: the reference's ingest job followed by restatements of a
versioned bars table and the change-data-feed refresh of its mart.

One cycle is the ingest half (``ingest.Ingest``: full load, landing of
the next day's fetch, incremental load) and then the restatement half
(``restate.Restate``: merge, delete, mart refresh, head read). Both
halves run in one JVM because each run pays the JVM start and its JIT
warm-up once; the per-layer metrics keep the halves apart.
"""

from __future__ import annotations

from ingest import Ingest
from restate import Restate


class BarsPipeline:
    def __init__(self, run):
        self.run = run
        self.parts = (Ingest(run), Restate(run))

    def setup(self, k: int) -> None:
        self.run.start_session()
        for p in self.parts:
            p.setup(k)

    def after_setup(self) -> None:
        for p in self.parts:
            p.after_setup()

    def restore(self, i: int) -> None:
        for p in self.parts:
            p.restore(i)

    def cycle(self, i: int) -> dict:
        fig = {"ops": 0}
        for p in self.parts:
            part = p.cycle(i)
            fig["ops"] += part.pop("ops")
            fig.update(part)
        fig["cycle_s"] = fig["ingest_s"] + fig["restate_s"]
        return fig

    def after_cycle(self, i: int) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.after_cycle(i))
        return out

    def check(self, i: int) -> None:
        for p in self.parts:
            p.check(i)

    def run_layer(self, cycles: list[dict], cold: dict) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.run_layer(cycles, cold))
        return out
