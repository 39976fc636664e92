"""The curation part of ``dml_curate``: the fully gated ``curate_corpus`` pipeline.

Boilerplate drop, cross-document line dedup, repetition gate, exact and
MinHash near dedup, cluster balance over ``embeddings``, split,
decontamination, mixture and token budgets — ``curate_corpus`` over a
seeded corpus, collected to completion.

Checks: every run returns the same (id, split, copy_idx) set as the first;
no two kept documents share an exact fingerprint; ``min_tokens`` holds and
the ``src2`` token budget is met without overshooting by more than the one
document that crosses it.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import numpy as np

from perfbench import gen, stats
from perfbench.workloads.base import Workload, metric

N_DOCS = 5_000
N_EMBEDDINGS = 2_000
MIN_TOKENS = 3
BUDGET_SOURCE, BUDGET_TOKENS = "src2", 1_000
#: the ``stop_after`` prefix of each stage; the last one is the whole pipeline
STAGES = (("gates", "gates"), ("exact", "exact"), ("near", "near"), ("balance", "balance"),
          ("split", "split"), ("decontam", "decontam"), ("mix", None))
#: the columns an operation collects (a prefix collects those it has)
OUT_COLS = ("doc_id", "split", "copy_idx", "fingerprint", "n_tokens", "source")


class CurateCorpus(Workload):

    def setup(self, spark, work: Path) -> None:
        self.spark = spark
        rng = np.random.default_rng(self.seed)
        tables = {"documents": gen.documents_table(rng, N_DOCS),
                  "embeddings": gen.embeddings_table(rng, N_EMBEDDINGS)}
        gen.write_tables(tables, work)
        self.docs = spark.read.parquet(str(work / "documents.parquet"))
        self.emb = spark.read.parquet(str(work / "embeddings.parquet"))
        self.expected: set | None = None

    def pipeline(self, stop_after=None):
        from database_anonymiser_spark.operators import curate

        return curate.curate_corpus(
            self.docs,
            min_tokens=MIN_TOKENS,
            drop_boilerplate=True,
            dedup_lines_min_docs=3,
            drop_repetitive=True,
            near_dedup=True,
            cluster_balance=80,
            embeddings=self.emb,
            decontam_n=8,
            mixture_rates={"src0": 2.0, "src1": 0.5},
            token_budgets={BUDGET_SOURCE: BUDGET_TOKENS},
            stop_after=stop_after,
        )

    def op(self, i: int) -> dict:
        with self.op_span(i, "curate"), self.timed() as r:
            df = self.pipeline()
            with self.span("curate.collect"):
                rows = self.collect(df)
        self.spark.catalog.clearCache()
        return {"op_s": r["s"], "docs_out": len(rows),
                "errors": self.check(rows)}

    @staticmethod
    def collect(df):
        return df.select(*[c for c in OUT_COLS if c in df.columns]).collect()

    def check(self, rows) -> list[str]:
        errs = []
        got = {(r.doc_id, r.split, r.copy_idx) for r in rows}
        if self.expected is None:
            self.expected = got
        elif got != self.expected:
            errs.append(f"output set changed: {len(got ^ self.expected)} rows differ")
        by_fp: dict = {}
        for r in rows:
            by_fp.setdefault(r.fingerprint, set()).add(r.doc_id)
        dup = [fp for fp, ids in by_fp.items() if len(ids) > 1]
        if dup:
            errs.append(f"{len(dup)} fingerprints kept by more than one document")
        short = [r.doc_id for r in rows if r.n_tokens < MIN_TOKENS]
        if short:
            errs.append(f"{len(short)} documents below min_tokens")
        budget = [r.n_tokens for r in rows if r.source == BUDGET_SOURCE]
        if budget and sum(budget) - max(budget) >= BUDGET_TOKENS:
            errs.append(f"{BUDGET_SOURCE} keeps {sum(budget)} tokens, over its budget")
        if not rows:
            errs.append("pipeline kept no documents")
        return errs

    def summary(self, recs: list[dict]) -> dict:
        out: dict = {}
        dps = [N_DOCS / r["op_s"] for r in recs]
        out["curate_docs_per_s"] = metric(stats.median(dps), "1/s", len(dps))
        return out

    def install_trace(self, tracer) -> None:
        """``curate_corpus`` builds the lazy plan and runs the stages that
        collect eagerly (cluster counts, k-means); the collect runs the rest."""
        from database_anonymiser_spark.operators import curate

        self.tracer = tracer
        tracer.wrap(curate, "curate_corpus", "curate.curate_corpus")

    def trace_extras(self, tracer, traced: list[dict], deadline: float) -> dict:
        """LSH recall against the exact all-pairs Jaccard join, then stage
        times as differences of cumulative ``stop_after`` prefixes, each
        collected like an operation. The prefixes run after the traced
        operation, in a warm session, so the last one is the whole pipeline
        run again rather than the traced (first, cold) operation. A prefix
        that might not end before ``deadline`` is not started, and the
        stages from it on go unreported."""
        from database_anonymiser_spark.operators import dedup

        exact = self.pipeline(stop_after="exact")
        with tracer.span("extra.lsh_pairs"):
            lsh = dedup.minhash_lsh_pairs(exact, "doc_id", "text", n=3, threshold=0.5,
                                          widen=False).count()
        with tracer.span("extra.jaccard_pairs"):
            truth = dedup.jaccard_pairs(exact, "doc_id", "text", n=3, threshold=0.5).count()
        self.spark.catalog.clearCache()
        extra: dict = {"lsh_recall": (lsh / truth) if truth else None, "stages": {}}
        full_s = stats.median(r["op_s"] for r in traced)
        for stage, stop_after in STAGES:
            if time.perf_counter() + full_s > deadline:
                print(f"trace deadline: stages from {stage!r} on not measured", file=sys.stderr)
                break
            with tracer.span(f"extra.prefix.{stage}") as s:
                n = len(self.collect(self.pipeline(stop_after=stop_after)))
            self.spark.catalog.clearCache()
            extra["stages"][stage] = (s.duration, n)
        return extra

    def layer_metrics(self, tracer, counters, recs: list[dict], extra: dict) -> dict:
        from perfbench.trace import self_times

        out: dict = {}
        st = self_times(tracer.spans)
        prev = 0.0
        for stage, (cum_s, n) in extra["stages"].items():
            out[f"curate.{stage}_s"] = metric(max(cum_s - prev, 0.0), "s", 1)
            out[f"curate.docs_after_{stage}"] = metric(n, "count", 1)
            prev = cum_s
        if extra["lsh_recall"] is not None:
            out["dedup.lsh_recall"] = metric(extra["lsh_recall"], "ratio", 1)
        names = sorted({s.name for s in tracer.spans
                        if s.cycle is not None and s.name.startswith("curate.")})
        for name in names:
            sp = self.spans(name)
            out[f"{name}.self_s"] = metric(
                sum(st[s.id] for s in sp) / max(1, len(recs)), "s", len(sp))
        return out
