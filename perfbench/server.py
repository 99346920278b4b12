"""Chat server process of the serve workload.

Builds the store through the whole ingest (perfbench/ingest.py), starts
``ApiServer`` over a traced ``ChatPipeline`` and prints
``READY <port> <api key>``. Then it waits for one line on stdin, checks a
seeded sample of the exact-mode retrievals it served against direct
``retrieval.similarity_topk`` calls, runs the ingest's checks, and prints one
JSON line with the check results, the spans and the per-layer numbers before
it stops.
Started by perfbench/serve.py; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading

from perfbench.ingest import finish, ingest
from perfbench.main import start_spark
from perfbench.metrics import INGEST_COUNTERS, INGEST_SPANS
from perfbench.sparkstats import storage_state
from perfbench.trace import Tracer

SAMPLE_CHECKS = 12


def mode_of(s) -> str:
    if s.search_tier:
        return s.search_tier
    return {"Similarity": "similarity", "Similarity Score Threshold": "threshold",
            "Maximal Marginal Relevance": "mmr"}[s.search_type]


def make_pipeline_class(tracer: Tracer):
    from oaim_sandbox_spark.serving.chat import ChatPipeline

    class TracedPipeline(ChatPipeline):
        """Spans around the chat nodes; records what exact retrieval served
        and the relevance verdicts."""

        def __init__(self, *args, **kw):
            super().__init__(*args, **kw)
            self.served: list[tuple] = []
            self.verdicts: list[bool] = []
            self._lock = threading.Lock()

        def chat(self, question, client_id="default", use_history=True, settings_overrides=None):
            n = len(self._history.get(client_id, [])) // 2
            with tracer.span("serving.chat", request_id=f"{client_id}:{n}", spark_group=False):
                return super().chat(question, client_id, use_history, settings_overrides)

        def rephrase(self, question, history):
            with tracer.span("serving.chat.rephrase", spark_group=False):
                return super().rephrase(question, history)

        def retrieve(self, question, s=None):
            s = s or self.settings
            mode = mode_of(s)
            with tracer.span(f"serving.chat.retrieve.{mode}"):
                rows = super().retrieve(question, s)
            if mode in ("similarity", "threshold"):
                with self._lock:
                    self.served.append((question, mode, s.distance_metric, s.top_k,
                                        s.score_threshold, [r["id"] for r in rows]))
            return rows

        def grade(self, question, documents, s=None):
            with tracer.span("serving.chat.grade", spark_group=False):
                ok = super().grade(question, documents, s)
            with self._lock:
                self.verdicts.append(ok)
            return ok

        def generate(self, question, documents, history):
            with tracer.span("serving.chat.generate", spark_group=False):
                return super().generate(question, documents, history)

    return TracedPipeline


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--root", required=True)
    args = ap.parse_args()
    spark = start_spark()
    tracer = Tracer(bool(args.trace))
    tracer.attach_spark(spark)
    before = storage_state(spark)

    from oaim_sandbox_spark.operators.retrieval import similarity_topk
    from oaim_sandbox_spark.serving.chat import MockLLM, RagSettings
    from oaim_sandbox_spark.serving.http_api import ApiServer
    from perfbench import fakes

    layers: dict = {}
    ing = ingest(spark, args.root, args.seed, tracer, layers)
    catalog, store = ing.catalog, ing.store

    def embed(q: str) -> list[float]:
        with tracer.span("serving.chat.embed", spark_group=False):
            return fakes.embed_query(q)

    pipe = make_pipeline_class(tracer)(
        store, embed, MockLLM(), RagSettings(),
        tier_gate=lambda t, m="COSINE": catalog.assert_tier_usable(ing.store_name, t, metric=m),
    )
    pipe._tiered_store("int8", "COSINE")  # warm the tier gate and the int8 tier
    server = ApiServer(pipe, spark=spark, catalog=catalog,
                       staging_root=os.path.join(args.root, "staging")).start()
    print(f"READY {server.port} {server.api_key}", flush=True)

    sys.stdin.readline()  # the load generator is done
    server.stop()
    out: dict = {"checks": [], "layers": layers}
    rng = random.Random(args.seed)
    served = list(pipe.served)
    mismatched = []
    for q, mode, metric, k, thr, ids in rng.sample(served, min(SAMPLE_CHECKS, len(served))):
        direct = similarity_topk(store, fakes.embed_query(q), k=k, metric=metric,
                                 score_threshold=thr if mode == "threshold" else None).collect()
        if [r["id"] for r in direct] != ids:
            mismatched.append(f"{mode}:{q[:30]}")
    out["checks"].append(["exact retrieval matches similarity_topk", not mismatched,
                          f"{min(SAMPLE_CHECKS, len(served))} sampled; mismatched {mismatched[:3]}"])
    out["checks"] += finish(spark, ing, layers)
    after = storage_state(spark)
    layers["leaked_views"] = max(0, after[0] - before[0])
    layers["leaked_blocks"] = max(0, after[1] - before[1])
    if tracer.enabled:
        from perfbench.sparkstats import group_counters, span_counters, sum_counters

        counters = span_counters(tracer.spans, group_counters(spark))
        for name in INGEST_SPANS:
            tot = sum_counters(counters[s.span_id] for s in tracer.spans
                               if s.name == name and s.span_id in counters)
            for c in INGEST_COUNTERS:
                layers[f"{name}.spark.{c}"] = tot[c]
        out["counters"] = {str(k): v for k, v in counters.items()}
        out["spans"] = [s.__dict__ for s in tracer.spans]
        yes = pipe.verdicts
        layers["serving.chat.grade_yes_ratio"] = sum(yes) / len(yes) if yes else 0.0
    spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
