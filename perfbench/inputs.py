"""Seeded input generators and the independent reference answers the
benchmark checks the program's outputs against.

Everything here is plain Python / numpy / pandas: the references must not
share code with ``fuzzylink_spark``, so a defect in the program cannot
also hide in the check.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

# The documents corpus mirrors the shape of the sf0.1 ``documents`` table:
# space-joined words from a 28-word vocabulary, 8-108 words per document
# (44-577 characters), five languages with English at ~41%, 20 sources.
DOC_VOCAB = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
DOC_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
KEY_CHARS = 48          # link key: first 48 characters of the text


@dataclass
class Docs:
    table: pd.DataFrame          # doc_id, text, lang, source, n_chars
    a_sources: list[str]         # sources on the A side of the link
    gold_pairs: set              # planted (A doc_id, B doc_id) duplicates


def _doc_words(rng: random.Random) -> list[str]:
    return [rng.choice(DOC_VOCAB) for _ in range(rng.randint(8, 108))]


def make_docs(seed: int, n_per_side: int, dup_share: float) -> Docs:
    """Two equal sides with identical per-language counts (so the
    candidate-pair count, and with it the work, is the same for every
    seed). ``dup_share`` of the B side are lightly edited copies of
    distinct A documents in the same language: the gold links. Half of the
    copies carry an edit inside the 48-character key, so they are fuzzy,
    not exact, matches."""
    rng = random.Random(seed)
    sources = [f"src{i}" for i in range(N_SOURCES)]
    rng.shuffle(sources)
    a_src, b_src = sorted(sources[:N_SOURCES // 2]), sorted(sources[N_SOURCES // 2:])
    quotas = [int(round(n_per_side * share)) for _, share in DOC_LANGS]
    quotas[0] += n_per_side - sum(quotas)
    rows, gold = [], set()
    a_by_lang: dict[str, list[tuple[int, list[str]]]] = {}
    doc_id = 0
    for side, side_src in (("A", a_src), ("B", b_src)):
        for (lang, _), quota in zip(DOC_LANGS, quotas):
            n_copies = int(quota * dup_share) if side == "B" else 0
            originals = rng.sample(a_by_lang.get(lang, []), n_copies)
            for k in range(quota):
                if k < n_copies:
                    orig_id, words = originals[k]
                    words = list(words)
                    for _ in range(rng.randint(1, 4)):
                        words[rng.randrange(len(words))] = rng.choice(DOC_VOCAB)
                    if rng.random() < 0.5:
                        words[rng.randrange(min(8, len(words)))] = rng.choice(DOC_VOCAB)
                    gold.add((orig_id, doc_id))
                else:
                    words = _doc_words(rng)
                if side == "A":
                    a_by_lang.setdefault(lang, []).append((doc_id, words))
                text = " ".join(words)
                rows.append((doc_id, text, lang, side_src[doc_id % len(side_src)],
                             len(text)))
                doc_id += 1
    table = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    return Docs(table, a_src, gold)


def candidate_count(a: pd.DataFrame, b: pd.DataFrame) -> int:
    """Distinct (A key, B key) pairs that share a block: the per-block
    products of distinct keys, with a key pair that meets in several
    blocks counted once. Columns: ``key``, ``block``."""
    ua = a[["block", "key"]].drop_duplicates()
    ub = b[["block", "key"]].drop_duplicates()
    m = ua.merge(ub, on="block", suffixes=("_a", "_b"))
    return int(len(m[["key_a", "key_b"]].drop_duplicates()))


# --- MinHash-LSH reference --------------------------------------------------

_MH_P = (1 << 31) - 1
_MH_BASE = 1_000_003


def minhash(texts: list[str], num_hashes: int, shingle: int, seed: int = 7
            ) -> np.ndarray:
    """MinHash signatures, one document at a time: h_i = min over byte
    shingles s of (a_i * H(s) + b_i) mod p, with H the base-1000003
    polynomial over the lowercased UTF-8 bytes, wrapping mod 2^64, then
    taken mod p; a document shorter than one shingle signs as p."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MH_P, num_hashes, dtype=np.uint64)
    b = rng.integers(0, _MH_P, num_hashes, dtype=np.uint64)
    p, base = np.uint64(_MH_P), np.uint64(_MH_BASE)
    out = np.full((len(texts), num_hashes), _MH_P, dtype=np.int64)
    for d, text in enumerate(texts):
        data = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
        if len(data) < shingle:
            continue
        win = np.lib.stride_tricks.sliding_window_view(data, shingle)
        h = np.zeros(len(win), dtype=np.uint64)
        for j in range(shingle):
            h = h * base + win[:, j].astype(np.uint64)
        h = np.unique(h % p)
        out[d] = ((a[:, None] * h[None, :] + b[:, None]) % p).min(axis=1)
    return out


def lsh_buckets(ids: np.ndarray, sig: np.ndarray, bands: int, max_bucket: int
                ) -> list[list[int]]:
    """Sorted member lists of every (band, band-signature) bucket whose
    size lies in [2, max_bucket]."""
    rows = sig.shape[1] // bands
    buckets: dict = {}
    for d, doc in enumerate(ids):
        for band in range(bands):
            key = (band, tuple(sig[d, band * rows:(band + 1) * rows]))
            buckets.setdefault(key, []).append(int(doc))
    return [sorted(m) for m in buckets.values() if 2 <= len(m) <= max_bucket]


def bucket_pairs(buckets: list[list[int]]) -> set:
    return {(m[i], m[j]) for m in buckets
            for i in range(len(m)) for j in range(i + 1, len(m))}


def components(edges) -> dict:
    """node -> min node of its connected component (plain union-find)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in list(parent)}


def cluster_f1(pred: dict, gold: dict) -> float:
    """Pairwise F1 of a predicted clustering against a gold clustering,
    both given as item -> cluster label over the same items."""
    items = list(gold)
    df = pd.DataFrame({"p": [pred[i] for i in items], "g": [gold[i] for i in items]})

    def pairs(counts: pd.Series) -> int:
        c = counts.to_numpy(dtype=np.int64)
        return int((c * (c - 1) // 2).sum())

    tp = pairs(df.groupby(["p", "g"]).size())
    n_pred, n_gold = pairs(df.groupby("p").size()), pairs(df.groupby("g").size())
    return pair_f1(tp, n_pred, n_gold)


def pair_f1(tp: int, n_pred: int, n_gold: int) -> float:
    return 2.0 * tp / (n_pred + n_gold) if n_pred + n_gold else 1.0
