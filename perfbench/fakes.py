"""Deterministic stand-ins the benchmark injects into the program.

Module-level so Spark's Python workers import them by name (the launcher puts
the checkout on PYTHONPATH) instead of unpickling closures.
"""

from __future__ import annotations

from oaim_sandbox_spark.operators.embed import DeterministicProvider
from oaim_sandbox_spark.schemas import DEFAULT_EMBED_DIM

_PROVIDER = DeterministicProvider(DEFAULT_EMBED_DIM)


def embed_query(text: str) -> list[float]:
    return _PROVIDER.embed_documents([text])[0]


def _answered(question: str, reference: str, answer: str) -> bool:
    # MockLLM answers every grounded or ungrounded prompt with
    # ANSWER(<question[:60]>): anything else means the row was not answered
    # for its own question
    return answer == f"ANSWER({question.strip()[:60]})"


def answered_judge():
    return _answered
