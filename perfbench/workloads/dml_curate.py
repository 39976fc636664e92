"""dml_curate: a DML script on a versioned table, then a ``curate_corpus`` run, in one session.

The two parts keep their own inputs, checks and layer metrics (see
``dml.py`` and ``curate.py``); they share one Spark session so that a run
pays one session start. One operation is the DML script followed by the
curation pipeline; its time is the sum of the two parts' timed regions.
"""

from __future__ import annotations

from pathlib import Path

from perfbench import stats
from perfbench.workloads.base import Workload, metric
from perfbench.workloads.curate import CurateCorpus
from perfbench.workloads.dml import DmlChurn


class DmlCurate(Workload):

    def __init__(self, seed: int, nproc: int):
        super().__init__(seed, nproc)
        self.dml = DmlChurn(seed, nproc)
        self.curate = CurateCorpus(seed, nproc)

    def setup(self, spark, work: Path) -> None:
        self.dml.setup(spark, work / "dml")
        self.curate.setup(spark, work / "curate")

    def setup_checks(self) -> None:
        self.dml.setup_checks()

    def teardown(self) -> None:
        self.dml.teardown()

    def op(self, i: int) -> dict:
        dml = self.dml.op(i)
        cur = self.curate.op(i)
        return {"op_s": dml["op_s"] + cur["op_s"], "dml": dml, "curate": cur,
                "errors": dml.pop("errors") + cur.pop("errors")}

    def final_check(self) -> list[str]:
        return self.dml.final_check()

    def summary(self, recs: list[dict]) -> dict:
        dml = [r["dml"] for r in recs]
        cur = [r["curate"] for r in recs]
        out = self.dml.summary(dml)
        out.update(self.curate.summary(cur))
        out["dml_script_s"] = metric(stats.median(r["op_s"] for r in dml), "s", len(dml))
        out["curate_s"] = metric(stats.median(r["op_s"] for r in cur), "s", len(cur))
        return out

    def install_trace(self, tracer) -> None:
        self.tracer = tracer
        self.dml.install_trace(tracer)
        self.curate.install_trace(tracer)

    def trace_extras(self, tracer, traced: list[dict], deadline: float) -> dict:
        return self.curate.trace_extras(tracer, [r["curate"] for r in traced], deadline)

    def layer_metrics(self, tracer, counters, recs: list[dict], extra: dict) -> dict:
        out = self.dml.layer_metrics(tracer, counters, [r["dml"] for r in recs], extra)
        out.update(self.curate.layer_metrics(tracer, counters, [r["curate"] for r in recs], extra))
        return out
