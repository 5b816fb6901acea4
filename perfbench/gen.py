"""Seeded input generator for the benchmark.

Everything the package under test receives is a file this module
writes; the same seed always writes the same bytes. The generator also
returns the facts the output checks need (chunk counts per document,
question sources, planted duplicate pairs), so the references never
come from the code under test.

Run on its own to inspect the inputs:

    python3 perfbench/gen.py --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import math
import os

import numpy as np

MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)

# Input properties, fixed per workload. The seed changes the draws, not
# these sizes; BENCHMARK.json and DESIGN.md quote them.
VOCAB_SIZE = 4000
ZIPF_S = 1.1
DIARY = {
    "docs": 60,
    "days": (2, 4),             # date-header lines per diary
    "content_lines": (1, 9),    # content lines per day
    "words_per_line": (6, 14),
    "preamble_share": 0.2,      # text before the first date line (dropped)
    "blank_line_share": 0.05,   # blank lines between content lines (dropped)
    "malformed_share": 0.05,    # JSONL lines that fail parsing or lack fields
    "upsert_share": 0.1,        # share of chunk keys re-inserted once
}
QA = {"questions": 40, "sampled_tokens": 6, "noise_tokens": 3}
DEDUP = {
    "background_docs": 150,
    "words_per_doc": (40, 60),
    "exact_dup_groups": 12,     # each group: one source + 1..2 exact copies
    "chains": (2, 3, 4, 6),     # near-dup chain lengths (docs per chain)
    "chain_copies": 2,          # chains planted per length
    "chain_words": 40,          # one edit: J = 35/41; two edits: J = 32/44
}

# Chunk primary key: doc_id * KEY_DOC + day_id * KEY_DAY + chunk_id + 1
# (chunk_id is -1 for the date chunk, so the date chunk ends in 0).
KEY_DOC = 1000
KEY_DAY = 20


def chunk_key(doc_id: int, day_id: int, chunk_id: int) -> int:
    return doc_id * KEY_DOC + day_id * KEY_DAY + chunk_id + 1


def _suffix(day: int) -> str:
    if 10 <= day % 100 <= 20:
        return "th"
    return {1: "st", 2: "nd", 3: "rd"}.get(day % 10, "th")


class Vocab:
    """Zipf-weighted synthetic words (lowercase letters only, so text
    normalization keeps them intact)."""

    def __init__(self, rng: np.random.Generator, size: int = VOCAB_SIZE, s: float = ZIPF_S):
        syll = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
        words: set[str] = set()
        while len(words) < size:
            n = int(rng.integers(2, 4))
            words.add("".join(syll[int(i)] for i in rng.integers(0, len(syll), n)))
        self.words = sorted(words)
        rng.shuffle(self.words)
        w = 1.0 / np.arange(1, size + 1) ** s
        self.p = w / w.sum()
        self.rng = rng

    def sample(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.words), size=n, p=self.p)
        return [self.words[int(i)] for i in idx]

    def line(self, lo: int, hi: int) -> str:
        return " ".join(self.sample(int(self.rng.integers(lo, hi + 1))))


def _diary(vocab: Vocab, rng: np.random.Generator, doc_id: int) -> tuple[str, list[dict]]:
    """One diary text and its chunk list, in the reference chunker's
    terms: a date line is its own chunk; content lines of a day group
    into chunks of three; blank lines and text before the first date
    line are dropped."""
    c = DIARY
    lines: list[str] = []
    chunks: list[dict] = []
    if rng.random() < c["preamble_share"]:
        lines.append(vocab.line(*c["words_per_line"]))
    for day_id in range(1, int(rng.integers(c["days"][0], c["days"][1] + 1)) + 1):
        day = int(rng.integers(1, 29))
        title = " ".join(w.capitalize() for w in vocab.sample(int(rng.integers(2, 4))))
        header = (
            f"{day}{_suffix(day)} Day of {MONTHS[int(rng.integers(0, 12))]} "
            f"18{int(rng.integers(10, 100))} - {title}"
        )
        lines.append(header)
        chunks.append({"key": chunk_key(doc_id, day_id, -1), "text": header})
        body: list[str] = []
        for _ in range(int(rng.integers(c["content_lines"][0], c["content_lines"][1] + 1))):
            if rng.random() < c["blank_line_share"]:
                lines.append("")
            body.append(vocab.line(*c["words_per_line"]))
            lines.append(body[-1])
        for j in range(math.ceil(len(body) / 3)):
            chunks.append(
                {"key": chunk_key(doc_id, day_id, j), "text": "\n".join(body[3 * j: 3 * j + 3])}
            )
    return "\n".join(lines), chunks


def _write_jsonl(path: str, records: list) -> None:
    with open(path, "w") as f:
        for r in records:
            f.write((r if isinstance(r, str) else json.dumps(r)) + "\n")


def diaries(out_dir: str, seed: int) -> dict:
    """Diary JSONL with a stated share of malformed lines. Returns the
    expected chunks per document and the malformed line count."""
    rng = np.random.default_rng([seed, 1])
    vocab = Vocab(np.random.default_rng([seed, 0]))
    records: list = []
    expected: dict[int, list[dict]] = {}
    malformed = 0
    n_docs = DIARY["docs"]
    for doc_id in range(n_docs):
        text, chunks = _diary(vocab, rng, doc_id)
        expected[doc_id] = chunks
        records.append({"doc_id": doc_id, "text": text, "lang": "en", "source": "diary"})
        if rng.random() < DIARY["malformed_share"]:
            # half truncated JSON, half a record without doc_id
            if rng.random() < 0.5:
                records.append(json.dumps({"doc_id": n_docs + doc_id, "text": text})[:40])
            else:
                records.append({"text": vocab.line(5, 9), "lang": "en"})
            malformed += 1
    path = os.path.join(out_dir, "diaries.jsonl")
    _write_jsonl(path, records)
    return {
        "path": path,
        "chunks": expected,
        "malformed": malformed,
        "raw_text_bytes": sum(len(r["text"].encode()) for r in records if isinstance(r, dict) and "doc_id" in r),
        "vocab": vocab,
    }


def questions(corpus: dict, seed: int) -> list[dict]:
    """Perturbed excerpts of known content chunks: sampled tokens of the
    source chunk plus Zipf noise tokens, shuffled, so retrieval is not
    a verbatim match."""
    rng = np.random.default_rng([seed, 2])
    vocab = corpus["vocab"]
    content = [c for cs in corpus["chunks"].values() for c in cs if c["key"] % KEY_DAY != 0]
    picks = rng.choice(len(content), size=QA["questions"], replace=False)
    out = []
    for qid, i in enumerate(sorted(int(p) for p in picks)):
        toks = content[i]["text"].split()
        take = rng.choice(len(toks), size=min(QA["sampled_tokens"], len(toks)), replace=False)
        words = [toks[int(t)] for t in take] + vocab.sample(QA["noise_tokens"])
        rng.shuffle(words)
        out.append({"query_id": qid, "question": " ".join(words), "expected_id": content[i]["key"]})
    return out


def upserts(corpus: dict, seed: int) -> list[tuple[int, int, str]]:
    """(key, doc_id, new text) for an upsert batch rewriting a
    DIARY["upsert_share"] sample of existing chunk keys."""
    rng = np.random.default_rng([seed, 6])
    keys = sorted(c["key"] for cs in corpus["chunks"].values() for c in cs)
    n = round(len(keys) * DIARY["upsert_share"])
    pick = sorted(int(keys[int(i)]) for i in rng.choice(len(keys), size=n, replace=False))
    return [(k, k // KEY_DOC, "revised " + corpus["vocab"].line(6, 14)) for k in pick]


def near_dups(out_dir: str, seed: int) -> dict:
    """Dedup corpus: unique background docs, planted exact duplicates
    and planted near-duplicate chains whose consecutive members differ
    by one token (3-gram Jaccard >= 0.8 at these lengths)."""
    c = DEDUP
    rng = np.random.default_rng([seed, 3])
    vocab = Vocab(np.random.default_rng([seed, 4]))
    texts: list[str] = [vocab.line(*c["words_per_doc"]) for _ in range(c["background_docs"])]
    exact_groups: list[list[int]] = []
    for g in range(c["exact_dup_groups"]):
        src = g * 7 % len(texts)
        group = [src]
        for _ in range(int(rng.integers(1, 3))):
            texts.append(texts[src])
            group.append(len(texts) - 1)
        exact_groups.append(group)
    chains: list[list[int]] = []
    for length in c["chains"]:
        for _ in range(c["chain_copies"]):
            toks = vocab.sample(c["chain_words"])
            members = []
            for m in range(length):
                if m:
                    # replace one interior token; later edits move right
                    # so non-neighbours drift below the threshold
                    pos = min(len(toks) - 2, 3 + m * (len(toks) // (length + 1)))
                    toks = toks[:pos] + [vocab.words[int(rng.integers(0, len(vocab.words)))] + "x"] + toks[pos + 1:]
                texts.append(" ".join(toks))
                members.append(len(texts) - 1)
            chains.append(members)
    # shuffle ids so planted docs are not contiguous
    perm = rng.permutation(len(texts))
    new_id = {old: int(new) for old, new in enumerate(perm)}
    docs = [None] * len(texts)
    for old, t in enumerate(texts):
        docs[new_id[old]] = t
    path = os.path.join(out_dir, "dedup.jsonl")
    _write_jsonl(path, [{"doc_id": i, "text": t, "lang": "en", "source": "web"} for i, t in enumerate(docs)])
    return {
        "path": path,
        "texts": docs,
        "exact_groups": [[new_id[i] for i in g] for g in exact_groups],
        "chains": [[new_id[i] for i in ch] for ch in chains],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    d = diaries(a.out, a.seed)
    qs = questions(d, a.seed)
    _write_jsonl(os.path.join(a.out, "qa.jsonl"), qs)
    nd = near_dups(a.out, a.seed)
    print(json.dumps({
        "diary_docs": DIARY["docs"],
        "chunks": sum(len(v) for v in d["chunks"].values()),
        "malformed_lines": d["malformed"],
        "questions": len(qs),
        "dedup_docs": len(nd["texts"]),
    }))


if __name__ == "__main__":
    main()
