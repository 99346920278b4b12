"""serve workload: ingest a corpus, then chat requests over HTTP from a
closed loop of clients.

The server (perfbench/server.py) runs in a child process so the load
generator does not compete for its interpreter lock. In set-up it builds its
store through the whole ingest and evaluates a test set in one batched call
(perfbench/ingest.py), so the ingest layers' time is part of ``setup_s``.
Measured is the latency path: every request runs Spark jobs in the server
(one for an exact mode, six for int8). Exact retrieval and the chat
orchestration do most of their work here; the per-request int8 tier contrasts
with the batched evaluation of set-up.

Load: CLIENTS connections from this process in a closed loop that runs in
rounds: each client sends its next request when its answer and the other
clients' answers of the round are in. Each request's mode is a seeded draw
(round_modes) over a fixed block of rounds that holds MODE_MIX in its exact
shares, set per client through /v1/settings. WARMUP_BLOCKS blocks warm the
server up at the end of set-up; then as many whole blocks run as take about
``--seconds`` (BLOCK_S each), so every run measures the same mix. A client's conversation lasts 2-4
turns and then a new one starts under a new client id, so chat history stays
bounded. REPEAT_SHARE of the questions repeat an earlier one, so a result
cache would show here; the measured share is reported.

    setup_s            server start, ingest and evaluation, warm-up
    throughput_per_s   requests of the measured blocks over their wall time
    latency_p50/p90_ms client-observed latency of one chat request
"""

from __future__ import annotations

import http.client
import json
import random
import subprocess
import sys
import threading
import time

from perfbench.corpus import make_corpus
from perfbench.ingest import N_ORIGINALS
from perfbench.main import Ctx, Result
from perfbench.metrics import SERVE_MODES
from perfbench.trace import Span, median, percentile, self_times_ms, supported_percentile

CLIENTS = 3
REPEAT_SHARE = 0.25
MODE_MIX = (("similarity", 0.4), ("threshold", 0.2), ("mmr", 0.2), ("int8", 0.2))
# The rounds of one block: which modes run together. They hold MODE_MIX in
# its exact shares. Every block has these rounds, in a seeded order and with
# seeded client positions, so every run meets the same mix and the same
# concurrency. The int8 requests run together in a round of their own: the
# exact requests (p50) and the int8 ones (p90) then each come from one
# population, where an int8 request beside some exact ones would split the
# exact requests in two and put p50 on the edge between them.
BLOCK = (
    ("int8", "int8", "int8"),
    ("similarity", "similarity", "threshold"),
    ("similarity", "similarity", "mmr"),
    ("similarity", "threshold", "mmr"),
    ("similarity", "threshold", "mmr"),
)
BLOCK_ROUNDS = len(BLOCK)
WARMUP_BLOCKS = 2
WARMUP_ROUNDS = WARMUP_BLOCKS * BLOCK_ROUNDS
# about one block on a 4-core host. The block count follows from --seconds
# alone, so a run on a fast host does not add later, warmer blocks
BLOCK_S = 2.0
MODE_SETTINGS = {
    "similarity": {"search_type": "Similarity", "distance_metric": "COSINE",
                   "search_tier": None},
    "threshold": {"search_type": "Similarity Score Threshold",
                  "distance_metric": "EUCLIDEAN_DISTANCE", "score_threshold": 0.05,
                  "search_tier": None},
    "mmr": {"search_type": "Maximal Marginal Relevance", "distance_metric": "DOT_PRODUCT",
            "search_tier": None},
    "int8": {"search_type": "Similarity", "distance_metric": "COSINE", "search_tier": "int8"},
}


class Client:
    """One keep-alive connection to the server."""

    def __init__(self, port: int, key: str):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        self.auth = {"Authorization": f"Bearer {key}", "Content-Type": "application/json"}

    def call(self, method: str, path: str, body: dict | None, client: str) -> tuple[int, object]:
        data = json.dumps(body).encode() if body is not None else None
        self.conn.request(method, path, body=data, headers={**self.auth, "client": client})
        resp = self.conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")

    def set_mode(self, client: str, mode: str, new: bool) -> None:
        if new:
            status, _ = self.call("POST", f"/v1/settings?client={client}", None, client)
            if status != 200:
                raise RuntimeError(f"settings POST {client}: {status}")
        status, _ = self.call("PATCH", f"/v1/settings?client={client}", MODE_SETTINGS[mode], client)
        if status != 200:
            raise RuntimeError(f"settings PATCH {client}: {status}")


def round_modes(seed: int):
    """Seeded modes of the CLIENTS requests of each round: the rounds of
    BLOCK, block after block, each block in a seeded order and each round's
    modes in seeded client positions."""
    rng = random.Random(seed)
    while True:
        order = list(BLOCK)
        rng.shuffle(order)
        for row in order:
            row = list(row)
            rng.shuffle(row)
            yield row


def question_stream(seed: int, worker: int):
    """Seeded (question, new conversation?, repeat?) draws for one client.
    Fresh questions are a few words of a corpus document; about REPEAT_SHARE
    of them repeat a question this client asked before."""
    corpus = make_corpus(seed, N_ORIGINALS)
    texts = [corpus.docs[d].split() for d in corpus.originals]
    rng = random.Random(seed * 1000 + worker)
    asked: list[str] = []
    turns_left = 0
    while True:
        new_conv = turns_left == 0
        if new_conv:
            turns_left = rng.randint(2, 4)
        turns_left -= 1
        if asked and rng.random() < REPEAT_SHARE:
            q, repeat = rng.choice(asked), True
        else:
            words = rng.choice(texts)
            start = rng.randrange(len(words) - 8)
            q, repeat = " ".join(words[start:start + 8]), False
            asked.append(q)
        yield q, new_conv, repeat


def run(ctx: Ctx, res: Result) -> None:
    t_setup = time.perf_counter()
    server = subprocess.Popen(
        [sys.executable, "-m", "perfbench.server", "--seed", str(ctx.seed),
         "--trace", str(int(ctx.trace)), "--root", ctx.root],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        _run(ctx, res, server, t_setup)
    finally:
        if server.poll() is None:
            server.kill()
        server.wait()


def _run(ctx: Ctx, res: Result, server: subprocess.Popen, t_setup: float) -> None:
    line = server.stdout.readline().split()
    if not line or line[0] != "READY":
        raise RuntimeError("server did not start")
    port, key = int(line[1]), line[2]
    # warm every mode once over HTTP (part of set-up)
    warm = Client(port, key)
    for i, mode in enumerate(SERVE_MODES):
        warm.set_mode(f"warm{i}", mode, new=True)
        status, _ = warm.call("POST", "/v1/chat/completions",
                              {"message": "warm up the serving path"}, f"warm{i}")
        if status != 200:
            raise RuntimeError(f"warm-up {mode}: HTTP {status}")

    records: list[tuple] = []  # (client id, turn, mode, repeat, start, end, ok, round)
    errors: list[str] = []
    lock = threading.Lock()
    stop = threading.Event()
    schedule = round_modes(ctx.seed)
    modes: list[str] = []
    # the round about to start, and the measured phase's start and end:
    # perf_counter for the clock, time.time for lining up with the spans
    clock = {"round": -1, "start": 0.0, "wall_start": 0.0, "end": 0.0}
    last_round = WARMUP_ROUNDS + max(1, round(ctx.seconds / BLOCK_S)) * BLOCK_ROUNDS

    def end_round() -> None:
        now = time.perf_counter()
        r = clock["round"] + 1
        if r == WARMUP_ROUNDS:  # the warm-up blocks are over
            clock["start"], clock["wall_start"] = now, time.time()
        elif r == last_round:
            clock["end"] = now
            stop.set()
        clock["round"] = r
        modes[:] = next(schedule)

    # the clients send in rounds: each waits for its own answer and for the
    # other clients' before the next request, so which modes run together
    # follows the seeded draws instead of how the clients drift in phase
    rounds = threading.Barrier(CLIENTS, action=end_round, timeout=120)

    def worker(w: int) -> None:
        try:
            client_loop(w)
        except Exception as ex:  # noqa: BLE001 - reported as a failed run
            with lock:
                errors.append(f"client {w}: {ex!r}")
            rounds.abort()  # the other clients stop at their next round

    def client_loop(w: int) -> None:
        client = Client(port, key)
        conv = -1
        turn = 0
        cid = ""
        current: str | None = None
        for q, new_conv, repeat in question_stream(ctx.seed, w):
            rounds.wait()
            if stop.is_set():
                return
            mode, rnd = modes[w], clock["round"]
            if new_conv:
                conv += 1
                cid, turn, current = f"w{w}c{conv}", 0, None
            if mode != current:
                client.set_mode(cid, mode, new=current is None)
                current = mode
            t0 = time.time()
            try:
                status, body = client.call("POST", "/v1/chat/completions", {"message": q}, cid)
                content = body["choices"][0]["message"]["content"] if status == 200 else ""
                ok = status == 200 and bool(content)
                why = "" if ok else f"HTTP {status}"
            except (OSError, http.client.HTTPException, KeyError, ValueError) as ex:
                ok, why = False, repr(ex)
                client = Client(port, key)
            t1 = time.time()
            with lock:
                records.append((cid, turn, mode, repeat, t0, t1, ok, rnd))
                if not ok:
                    errors.append(f"{cid}:{turn} {why}")
            turn += 1

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    res.attempted += len(records)
    res.failed += len(errors)
    res.check("every response is 200 with content", not errors, "; ".join(errors[:3]))
    if not stop.is_set():  # a client failed: there is no measured phase
        return
    res.e2e["setup_s"] = clock["start"] - t_setup
    measured = [r for r in records if r[7] >= WARMUP_ROUNDS]
    lat_ms = [(r[5] - r[4]) * 1000.0 for r in measured if r[6]]
    res.e2e["throughput_per_s"] = len(lat_ms) / (clock["end"] - clock["start"])
    res.e2e["latency_p50_ms"] = median(lat_ms)
    res.e2e["latency_p90_ms"] = percentile(lat_ms, 90)
    res.layers["serving.requests"] = len(measured)
    res.layers["serving.supported_percentile"] = supported_percentile(len(lat_ms)) or 0.0
    res.layers["serving.repeat_share"] = sum(r[3] for r in measured) / len(measured)

    server.stdin.write("done\n")
    server.stdin.flush()
    out = json.loads(server.stdout.readline())
    for name, ok, detail in out["checks"]:
        res.check(name, ok, detail)
    res.layers.update(out["layers"])
    if ctx.trace:
        layer_metrics(res, out, measured, clock["wall_start"])


def layer_metrics(res: Result, out: dict, records: list[tuple], wall_start: float) -> None:
    """Per-layer numbers from the server's spans of the measured phase: the
    median self time of each chat node and retrieval mode, the retrieval
    modes' Spark counters, and the HTTP overhead (client round trip minus the
    server's chat span)."""
    res.layers["trace.spans"] = len(out["spans"])
    spans = [Span(**s) for s in out["spans"] if s["start"] >= wall_start]
    self_ms = self_times_ms(spans)
    by_name: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(self_ms[s.span_id])
    for node in ("embed", "rephrase", "grade", "generate"):
        res.layers[f"serving.chat.{node}_ms"] = median(by_name.get(f"serving.chat.{node}", []))
    counters = {int(k): v for k, v in out["counters"].items()}
    for mode in SERVE_MODES:
        name = f"serving.chat.retrieve.{mode}"
        res.layers[f"serving.chat.retrieve_ms.{mode}"] = median(by_name.get(name, []))
        rows = [counters[s.span_id] for s in spans if s.name == name and s.span_id in counters]
        res.layers[f"{name}.spark.driver_gap_ms"] = median([r["driver_gap_ms"] for r in rows])
        res.layers[f"{name}.spark.jobs"] = median([r["jobs"] for r in rows])
    chat = {s.request_id: s for s in spans if s.name == "serving.chat"}
    overhead = [(r[5] - r[4]) * 1000.0 - chat[f"{r[0]}:{r[1]}"].ms
                for r in records if r[6] and f"{r[0]}:{r[1]}" in chat]
    res.layers["serving.http_api.overhead_ms"] = median(overhead)
