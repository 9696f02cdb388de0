"""Seeded inputs for the benchmark workloads.

The generator lives beside the benchmark, not in the package, so a change
to ``similarities_spark`` can never change what the benchmark feeds it.
The same (workload, seed) always yields the same corpora, merge batches,
query sets and embeddings.

Token shapes are chosen so the engine's tokenizer splits them exactly as
generated: English words are lowercase ``[a-z]+`` runs separated by one
space and every CJK character is a token of its own. The property shares
below are therefore computed from the generator's own token ids.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Dict, List

import numpy as np
import pandas as pd

# The engine's driver-side caps on vocabulary size (builder stats tail and
# query-engine stats snapshot) are a literal 20k in the package, not an
# EngineConfig field.
VOCAB_CAP = 20_000

_EPOCH = _dt.datetime(2024, 1, 1)
_CJK_BASE = 0x4E00
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _word(rank: int) -> str:
    """Rank -> lowercase pseudo-word ('wa', 'wb', ...): never a real
    English stopword and never collides with the OOV 'x' words."""
    s = []
    r = rank
    while True:
        s.append(_LETTERS[r % 26])
        r //= 26
        if r == 0:
            break
    return "w" + "".join(s)


def _oov_word(i: int) -> str:
    return "x" + _word(i)[1:] + "q"


def _zipf(rng, n_vocab: int, size: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_vocab + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    return np.searchsorted(cdf, rng.random_sample(size) * cdf[-1], side="right")


@dataclass
class Corpus:
    """Texts plus the generator's own token ids (en word ranks and CJK
    offsets), kept to report vocabulary properties without a tokenizer."""

    texts: List[str]
    en: List[np.ndarray]
    zh: List[np.ndarray]


def distinct_terms(*corpora: Corpus) -> int:
    en = np.concatenate([e for c in corpora for e in c.en])
    zh = np.concatenate([z for c in corpora for z in c.zh])
    return len(np.unique(en)) + len(np.unique(zh))


def _corpus(rng, n, n_vocab, len_base, len_mean, s, zh_share, zh_vocab,
            head: List[str] = (), head_p: float = 0.0) -> Corpus:
    lens = len_base + rng.poisson(len_mean, size=n)
    ids = _zipf(rng, n_vocab, int(lens.sum()), s)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    has_zh = rng.random_sample(n) < zh_share
    zh_lens = np.where(has_zh, 2 + rng.poisson(3, size=n), 0)
    zh_ids = _zipf(rng, zh_vocab, int(zh_lens.sum()), 1.0)
    zb = np.concatenate([[0], np.cumsum(zh_lens)])
    head_mask = rng.random_sample((n, len(head))) < head_p
    words = np.array([_word(i) for i in range(n_vocab)], dtype=object)
    texts, en, zh = [], [], []
    for i in range(n):
        e = ids[bounds[i]:bounds[i + 1]]
        z = zh_ids[zb[i]:zb[i + 1]]
        parts = [h for h, m in zip(head, head_mask[i]) if m]
        parts.extend(words[e])
        text = " ".join(parts)
        if z.size:
            text += " " + "".join(chr(_CJK_BASE + int(c)) for c in z)
        texts.append(text)
        # head words are ranks -1, -2, ... in the en id space
        hid = np.array([-1 - j for j, m in enumerate(head_mask[i]) if m], dtype=np.int64)
        en.append(np.concatenate([hid, e]))
        zh.append(z)
    return Corpus(texts, en, zh)


def _copy_docs(rng, corpus: Corpus, share: float) -> None:
    """Overwrite ``share`` of the docs with exact copies of earlier ones."""
    n = len(corpus.texts)
    for pos in rng.choice(np.arange(1, n), size=int(n * share), replace=False):
        src = int(rng.randint(0, pos))
        corpus.texts[pos] = corpus.texts[src]
        corpus.en[pos], corpus.zh[pos] = corpus.en[src], corpus.zh[src]


def webtext(texts: List[str], first: int) -> pd.DataFrame:
    """Webtext rows whose (warc_ts, url) order is list order, so the
    engine assigns doc ids in generation order after ``first``."""
    n = len(texts)
    ts = pd.Timestamp(_EPOCH) + pd.to_timedelta(np.arange(first, first + n), unit="s")
    return pd.DataFrame(
        {
            "url": [f"https://bench.example/{i:010d}" for i in range(first, first + n)],
            "warc_ts": ts.astype("datetime64[us]"),
            "text": texts,
        }
    )


def _queries(rng, n, vocab_ids: np.ndarray, head: List[str], tail_from: int,
             zh_ids: np.ndarray):
    """Three kinds: head (shares a head term), tail-only and OOV-only, in a
    fixed 2:2:1 cycle with 1..6 tokens cycling too, so every seed gives
    every prefix of the list the same mix; only the words are random."""
    tail = vocab_ids[vocab_ids >= tail_from]
    kinds = np.array([(0, 1, 0, 1, 2)[i % 5] for i in range(n)])
    out = []
    for i, k in enumerate(kinds):
        ntok = 1 + i % 6
        if k == 0:
            toks = [head[int(rng.randint(0, len(head)))]]
            toks += [_word(int(t)) for t in rng.choice(tail, size=ntok - 1)]
        elif k == 1:
            toks = [_word(int(t)) for t in rng.choice(tail, size=ntok)]
            if zh_ids.size and i % 10 == 1:
                toks.append(chr(_CJK_BASE + int(rng.choice(zh_ids))))
        else:
            toks = [_oov_word(int(t)) for t in rng.randint(0, 10_000, size=ntok)]
        out.append(" ".join(toks))
    return out, kinds


@dataclass
class Inputs:
    name: str
    texts: List[str]                      # corpus, in doc-id order
    queries: List[str] = field(default_factory=list)   # 200-query batch
    singles: List[str] = field(default_factory=list)   # closed-loop queries
    merge: List[str] = field(default_factory=list)      # one merge batch
    vectors: np.ndarray = None
    qvectors: np.ndarray = None
    props: Dict[str, float] = field(default_factory=dict)


def _query_props(kinds) -> dict:
    kinds = np.asarray(kinds)
    return {
        "query_head_share": round(float((kinds == 0).mean()), 4),
        "query_oov_only_share": round(float((kinds == 2).mean()), 4),
    }


def bm25(seed: int) -> Inputs:
    """~54k short zh/en docs over a 4k-word tail with three head words in
    ~97.5% of docs, then one 2k-doc merge batch of the same shape. The
    build therefore runs the fused_tf plan, salts the head words and keeps
    its stats on the driver. A tenth of the batch repeats existing texts
    (dropped by the merge) and a fiftieth repeats texts of the same batch
    (kept)."""
    rng = np.random.RandomState([seed, 1])
    head = ["the", "data", "web"]
    shape = dict(n_vocab=4000, len_base=3, len_mean=5, s=1.1, zh_share=0.25,
                 zh_vocab=800, head=head, head_p=0.975)
    base = _corpus(rng, 54_000, **shape)
    _copy_docs(rng, base, 0.02)
    batch = _corpus(rng, 2000, **shape)
    n = len(batch.texts)
    pos = rng.choice(n, size=int(n * 0.12), replace=False)
    old = sorted(set(base.texts))
    for p in pos[: int(n * 0.10)]:
        batch.texts[p] = old[int(rng.randint(0, len(old)))]
        batch.en[p] = np.empty(0, np.int64)
        batch.zh[p] = np.empty(0, np.int64)
    for p in pos[int(n * 0.10):]:
        src = int(rng.randint(0, n))
        batch.texts[p], batch.en[p], batch.zh[p] = batch.texts[src], batch.en[src], batch.zh[src]
    existing = set(base.texts)
    vocab = np.unique(np.concatenate(base.en + batch.en))
    vocab = vocab[vocab >= 0]
    zh_ids = np.unique(np.concatenate(base.zh))
    queries, kinds = _queries(rng, 200, vocab, head, 200, zh_ids)
    singles, _ = _queries(rng, 64, vocab, head, 200, zh_ids)
    en = np.concatenate(base.en)
    head_df = np.bincount(-1 - en[en < 0]).tolist()  # a head word occurs once per doc
    props = {
        "n_docs": len(base.texts),
        "distinct_terms": distinct_terms(base, batch),
        "salted_terms": sum(df >= _salt_threshold() for df in head_df),
        "max_df": max(head_df),
        "merge_docs": n,
        "merge_dup_existing_share": round(sum(t in existing for t in batch.texts) / n, 4),
        **_query_props(kinds),
    }
    _require(props["n_docs"] >= _auto_tf_docs(), "the build must use the fused_tf plan")
    _require(props["salted_terms"] >= 1, "the head terms must be salted")
    _require(props["distinct_terms"] <= VOCAB_CAP, "the vocab must fit the driver cap")
    return Inputs("bm25", base.texts, queries, singles, batch.texts, props=props)


def dedup_ops(seed: int) -> Inputs:
    """2.5k longer docs with injected exact and near duplicates, 32-d
    embeddings and 10 query vectors (half of them near corpus vectors)."""
    rng = np.random.RandomState([seed, 3])
    c = _corpus(rng, 2500, n_vocab=20_000, len_base=30, len_mean=20, s=1.0,
                zh_share=0.25, zh_vocab=3000)
    n = len(c.texts)
    pos = rng.choice(np.arange(1, n), size=int(n * 0.08), replace=False)
    exact, near = pos[: int(n * 0.03)], pos[int(n * 0.03):]
    for p in exact:
        c.texts[p] = c.texts[int(rng.randint(0, p))]
    for p in near:  # replace two words of an earlier doc
        words = c.texts[int(rng.randint(0, p))].split(" ")
        for j in rng.randint(0, len(words) - 1, size=2):
            words[j] = _word(int(rng.randint(0, 20_000)))
        c.texts[p] = " ".join(words)
    vectors = rng.standard_normal((n, 32))
    near_q = vectors[rng.choice(n, size=5, replace=False)] + 0.01 * rng.standard_normal((5, 32))
    qvectors = np.vstack([near_q, rng.standard_normal((5, 32))])
    vocab = np.unique(np.concatenate(c.en))
    queries, kinds = _queries(rng, 200, vocab, [_word(i) for i in range(10)], 2000,
                              np.unique(np.concatenate(c.zh)))
    props = {
        "n_docs": n,
        "distinct_terms": distinct_terms(c),
        "exact_dup_share": round(len(exact) / n, 4),
        "near_dup_share": round(len(near) / n, 4),
        **_query_props(kinds),
    }
    return Inputs("dedup_ops", c.texts, queries, vectors=vectors, qvectors=qvectors, props=props)


def _auto_tf_docs() -> int:
    from similarities_spark.config import EngineConfig

    return EngineConfig().auto_tf_docs


def _salt_threshold() -> int:
    from similarities_spark.config import EngineConfig

    return EngineConfig().salt_df_threshold


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise RuntimeError(f"generated inputs miss their intended side: {what}")


WORKLOADS = {"bm25": bm25, "dedup_ops": dedup_ops}
