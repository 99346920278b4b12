"""Ingest and batched evaluation: how the serve workload builds its store.

Runs in the chat server process (perfbench/server.py) during set-up, so its
time is part of ``setup_s`` on ``serve``; a traced run breaks it down per
layer. The split, dedup, merge, embed, catalog and IVF layers do their work
here; the evaluation at the end runs retrieval batched, where the chat
requests of ``serve`` run it one request at a time.

In order: write a seeded corpus with planted duplicates as files (text and
HTML), load them, curate them (PII scrub, exact dedup, minhash near-dedup at
0.5), ingest half of the curated documents into an empty store, ingest all of
them with the IVF index (about half of the chunks are already stored, so the
anti-join skips real work), re-key a copy of the store, prepare the int8 tier
behind the catalog's tier gate, generate a test set and evaluate it in one
batched call on the int8 tier.

The checks (planted copies dropped, originals kept, a re-run of the second
ingest adds nothing, one answered row per question) run in ``finish``, after
the measured phase.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench.corpus import Corpus, make_corpus, write_corpus
from perfbench.trace import Tracer

N_ORIGINALS = 150
N_QUESTIONS = 100
CURATION = {"scrub_pii": True, "exact_dedup": True, "near_dedup_jaccard": 0.5}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


@dataclass
class Ingested:
    corpus: Corpus
    catalog: object
    vs: object
    docs: object  # loaded documents (local checkpoint)
    curated: object  # curated documents (local checkpoint)
    counts: dict
    delta: object  # report of the second populate_vs
    store_name: str  # the re-keyed store the server serves
    store: object
    eval_bad: str  # why the evaluation was wrong, '' when it was right


def ingest(spark, root: str, seed: int, tracer: Tracer, layers: dict) -> Ingested:
    """Build the store for ``seed`` under ``root``; per-step wall times go to
    ``layers``."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.catalog import VectorStorage, VectorStoreCatalog
    from oaim_sandbox_spark.operators.testbed import evaluate_testset_batched, generate_testset
    from oaim_sandbox_spark.pipeline import curate_corpus, populate_vs
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings
    from oaim_sandbox_spark.sources.loaders import load_documents
    from perfbench import fakes

    corpus = make_corpus(seed, N_ORIGINALS)
    globs = write_corpus(corpus, os.path.join(root, "corpus"))
    catalog = VectorStoreCatalog(spark, os.path.join(root, "stores"))
    vs = VectorStorage(model="mock", chunk_size=500, chunk_overlap=50, alias="bench")

    def step(name, fn, metric=None):
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn()
        layers[metric or f"{name}.ms"] = (time.perf_counter() - t0) * 1000.0
        return out

    docs = step("sources.loaders", lambda: load_documents(spark, globs["txt"])
                .unionByName(load_documents(spark, globs["html"], "html"))
                .localCheckpoint(eager=True))

    def curate():
        out, counts = curate_corpus(spark, docs, CURATION)
        return out.localCheckpoint(eager=True), counts

    curated, counts = step("pipeline.curate", curate)
    half = curated.filter(F.abs(F.xxhash64("doc_id")) % 2 == 0)
    step("pipeline.populate_first", lambda: populate_vs(spark, half, catalog, vs))
    delta = step("pipeline.populate_delta",
                 lambda: populate_vs(spark, curated, catalog, vs, build_index=True))

    # TieredStore casts chunk ids to bigint, and populate_vs writes string ids
    # ('a000001.txt_1'): serve a re-keyed copy of the store
    rekeyed = catalog.read_store(delta.vs_name).withColumn(
        "id", F.xxhash64("cid")).drop("cid")
    rk_vs = VectorStorage(model="mock", chunk_size=500, chunk_overlap=50, alias="benchrk")
    store_name = catalog.write_store(rekeyed, rk_vs)
    store = catalog.read_store(store_name)

    # batched evaluation on the int8 tier, through its own pipeline
    pipe = ChatPipeline(
        store, fakes.embed_query, MockLLM(), RagSettings(search_tier="int8"),
        tier_gate=lambda t, m="COSINE": catalog.assert_tier_usable(store_name, t, metric=m),
    )
    step("operators.tier_guard.prepare", lambda: pipe._tiered_store("int8", "COSINE"),
         "operators.tier_guard.prepare_ms")
    qa_rows = step("operators.testbed.generate",
                   lambda: generate_testset(store, n_questions=N_QUESTIONS).collect(),
                   "operators.testbed.generate_ms")
    qa_df = spark.createDataFrame(qa_rows, generate_testset(store, 1).schema)
    # one topic per question, so the per-topic report shows a row for each
    qa_df = qa_df.withColumn("topic", F.col("seed_document_id"))
    report = step("operators.testbed.eval",
                  lambda: evaluate_testset_batched(spark, qa_df, pipe, fakes.answered_judge),
                  "operators.testbed.eval_ms")
    layers["operators.testbed.eval_questions_per_s"] = (
        len(qa_rows) / (layers["operators.testbed.eval_ms"] / 1000.0))

    want = {r["seed_document_id"] for r in qa_rows}
    questions = [r["question"] for r in qa_rows]
    eval_bad = []
    if not len(set(questions)) == len(questions) == N_QUESTIONS:
        eval_bad.append(f"{len(set(questions))} distinct questions of {len(questions)}")
    if report.failures or report.correctness != 1.0 or set(report.by_topic) != want:
        eval_bad.append(f"correctness={report.correctness} failures={len(report.failures)} "
                        f"rows={len(report.by_topic)}/{len(want)}")
    return Ingested(corpus, catalog, vs, docs, curated, counts, delta, store_name, store,
                    "; ".join(eval_bad))


def finish(spark, ing: Ingested, layers: dict) -> list[tuple[str, bool, str]]:
    """The ingest's checks and storage numbers, after the measured phase;
    frees the ingest's local checkpoints."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.materialize import free_local_checkpoint
    from oaim_sandbox_spark.pipeline import populate_vs

    corpus, counts = ing.corpus, ing.counts
    checks = []
    n_docs = len(corpus.docs)
    checks.append(("loaded every document", counts["input"] == n_docs,
                   f"{counts['input']} of {n_docs}"))
    exact_dropped = counts["input"] - counts["after_exact_dedup"]
    checks.append(("exact dedup drops the planted exact copies",
                   exact_dropped == len(corpus.exact_copies),
                   f"dropped {exact_dropped}, planted {len(corpus.exact_copies)}"))
    kept = {r["doc_id"].rsplit(".", 1)[0] for r in ing.curated.select("doc_id").collect()}
    checks.append(("near dedup keeps exactly the originals", kept == set(corpus.originals),
                   f"kept {len(kept)}, originals {len(corpus.originals)}, "
                   f"near copies kept {len(kept & set(corpus.near_copies))}"))
    again = populate_vs(spark, ing.curated, ing.catalog, ing.vs)
    checks.append(("re-ingest adds no rows", again.n_new == 0, f"n_new={again.n_new}"))
    checks.append(("the batched evaluation answers one row per question", not ing.eval_bad,
                   ing.eval_bad))
    store = ing.catalog.read_store(ing.store_name)
    ids = store.agg(F.count("*").alias("n"), F.countDistinct("id").alias("d")).first()
    checks.append(("re-keyed ids are unique", ids["n"] == ids["d"], f"{ids['d']} of {ids['n']}"))

    store_bytes, store_files = dir_bytes(ing.catalog._store_path(ing.delta.vs_name))
    index_bytes = dir_bytes(ing.delta.index_path)[0] if ing.delta.index_path else 0
    text_bytes = ing.curated.select(F.sum(F.octet_length("text")).alias("b")).first()["b"]
    layers.update({
        "catalog.store_bytes": store_bytes,
        "catalog.index_bytes": index_bytes,
        "catalog.store_files": store_files,
        "catalog.store_bytes_per_text_byte": (store_bytes + index_bytes) / text_bytes,
        "pipeline.curate.exact_drop_ratio": exact_dropped / counts["input"],
        "pipeline.curate.near_drop_ratio":
            (counts["after_exact_dedup"] - counts["after_near_dedup"]) / counts["after_exact_dedup"],
        "pipeline.populate_delta.new_ratio": ing.delta.n_new / max(ing.delta.n_deduped, 1),
    })
    for df in (ing.docs, ing.curated):
        free_local_checkpoint(df)
    return checks
