"""Seeded synthetic document corpus with planted duplicates.

Originals are random word sequences over a fixed-size vocabulary, so two
originals never share enough 3-word shingles to look alike. On top of them the
generator plants exact copies and copies with one word replaced, and records
which ids it planted: the ingest checks the dedup stages against that
record, not against the program's own output.

Ids sort so that every original precedes its copies (``a…`` < ``c…`` < ``n…``):
both dedup stages keep the lowest id of a group, so a correct run keeps every
original and drops every planted copy.
"""

from __future__ import annotations

import html
import os
import random
from dataclasses import dataclass, field

SYLLABLES = (
    "ka ri to ne mu sa lo vi de pa zu ho ge ti ra mo ku be fa ni "
    "so ta li we du po ce ma ju ro".split()
)


def vocabulary(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct pronounceable words of 2-4 syllables."""
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


@dataclass
class Corpus:
    """Documents keyed by id, plus the generator's record of what it planted."""

    docs: dict[str, str]
    html_ids: set[str]
    originals: list[str]
    exact_copies: dict[str, str] = field(default_factory=dict)  # copy id -> original id
    near_copies: dict[str, str] = field(default_factory=dict)  # copy id -> original id

    def text_bytes(self, ids) -> int:
        return sum(len(self.docs[i].encode()) for i in ids)


def make_corpus(
    seed: int,
    n_originals: int,
    vocab_size: int = 5000,
    min_words: int = 100,
    max_words: int = 400,
    exact_share: float = 0.1,
    near_share: float = 0.1,
    html_share: float = 0.2,
) -> Corpus:
    """Build the corpus for ``seed``. Some originals carry an e-mail address
    or phone number so the PII scrub has spans to rewrite."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, vocab_size)
    docs: dict[str, str] = {}
    originals: list[str] = []
    html_ids: set[str] = set()
    # the same spread of lengths for every seed, so every seed's corpus is
    # about the same size
    lengths = [min_words + (max_words - min_words) * i // max(n_originals - 1, 1)
               for i in range(n_originals)]
    rng.shuffle(lengths)
    for i in range(n_originals):
        words = rng.choices(vocab, k=lengths[i])
        if rng.random() < 0.1:
            words.insert(rng.randrange(len(words)), f"{rng.choice(vocab)}@example.org")
        if rng.random() < 0.05:
            words.insert(rng.randrange(len(words)), f"+1 555 {rng.randint(1000000, 9999999)}")
        did = f"a{i:06d}"
        docs[did] = " ".join(words)
        originals.append(did)
        if rng.random() < html_share:
            html_ids.add(did)
    corpus = Corpus(docs=docs, html_ids=html_ids, originals=originals)
    for j, src in enumerate(rng.sample(originals, int(n_originals * exact_share))):
        cid = f"c{j:06d}"
        docs[cid] = docs[src]
        corpus.exact_copies[cid] = src
        if src in html_ids:
            html_ids.add(cid)
    for j, src in enumerate(rng.sample(originals, int(n_originals * near_share))):
        words = docs[src].split(" ")
        pos = rng.randrange(len(words))
        words[pos] = rng.choice([w for w in vocab[:50] if w != words[pos]])
        nid = f"n{j:06d}"
        docs[nid] = " ".join(words)
        corpus.near_copies[nid] = src
        if src in html_ids:
            html_ids.add(nid)
    return corpus


def html_page(doc_id: str, text: str) -> str:
    """Wrap ``text`` in a page whose visible text is exactly ``text``: the
    parser drops the script and markup and unescapes the body."""
    return (
        f"<!DOCTYPE html><html><head>"
        f"<script>var id = '{doc_id}';</script></head>"
        f"<body><p>{html.escape(text)}</p></body></html>"
    )


def write_corpus(corpus: Corpus, root: str) -> dict[str, str]:
    """Write one file per document under ``root/txt`` and ``root/html`` and
    return the glob for each format. The loaders use the file name as the
    document id."""
    paths = {"txt": os.path.join(root, "txt"), "html": os.path.join(root, "html")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    for did, text in corpus.docs.items():
        if did in corpus.html_ids:
            with open(os.path.join(paths["html"], f"{did}.html"), "w") as fh:
                fh.write(html_page(did, text))
        else:
            with open(os.path.join(paths["txt"], f"{did}.txt"), "w") as fh:
                fh.write(text)
    return {ext: os.path.join(p, f"*.{ext}") for ext, p in paths.items()}
