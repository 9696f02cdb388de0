"""Spark-free layer probes run by the traced run over the workload's own
data: the block codec, the MaxScore scorer and the driver tokenizer are
called directly, so their rates carry no scheduler or JVM time.

Workloads that build an index read its blocks and term stats with pyarrow;
dedup_ops, which builds none, encodes its corpus postings with the same
codec so the probes still measure the kernels on that workload's text.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from similarities_spark.config import EngineConfig
from similarities_spark.index import codec
from similarities_spark.query.scorer import score_query
from similarities_spark.tokenize import tokenize_text

_BLOCK_COLS = ["term", "salt", "block_id", "min_doc", "max_doc", "n_postings",
               "tf_max", "tf_min", "dl_max", "dl_min", "payload"]
_CODEC_POSTINGS = 300_000


def index_blocks(index_dir: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    blocks = pq.read_table(os.path.join(index_dir, "blocks"), columns=_BLOCK_COLS).to_pandas()
    stats = pq.read_table(os.path.join(index_dir, "term_stats"), columns=["term", "df", "idf"]).to_pandas()
    return blocks.merge(stats, on="term", how="inner")


def oracle_blocks(oracle, block_size: int = EngineConfig().block_size) -> pd.DataFrame:
    rows = []
    for term, (ids, tfs) in oracle.postings.items():
        tfs = tfs.astype(np.int64)
        dls = oracle.doc_len[ids].astype(np.int64)
        for bid, (payload, lo, hi) in enumerate(codec.encode_blocks_batch(ids, tfs, dls, block_size)):
            rows.append((term, 0, bid, int(ids[lo]), int(ids[hi - 1]), hi - lo,
                         int(tfs[lo:hi].max()), int(tfs[lo:hi].min()),
                         int(dls[lo:hi].max()), int(dls[lo:hi].min()), payload,
                         ids.size, oracle.idf[term]))
    return pd.DataFrame(rows, columns=_BLOCK_COLS + ["df", "idf"])


def codec_probe(blocks: pd.DataFrame) -> dict:
    b = blocks.sort_values(["term", "salt", "block_id"], kind="mergesort")
    key = b["term"].to_numpy(dtype=object) + "\x00" + b["salt"].astype(str).to_numpy(dtype=object)
    cuts = np.flatnonzero(key[1:] != key[:-1]) + 1
    bounds = np.concatenate([[0], cuts, [len(b)]])
    payload = b["payload"].tolist()
    counts = b["n_postings"].to_numpy(dtype=np.int64)
    segs, total = [], 0
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        segs.append((payload[lo:hi], counts[lo:hi]))
        total += int(counts[lo:hi].sum())
        if total >= _CODEC_POSTINGS:
            break
    t0 = time.perf_counter()
    decoded = [codec.decode_blocks_batch(p, c) for p, c in segs]
    t_dec = time.perf_counter() - t0
    t0 = time.perf_counter()
    for ids, tfs, dls in decoded:
        codec.encode_blocks_batch(ids, tfs, dls, EngineConfig().block_size)
    t_enc = time.perf_counter() - t0
    return {
        "index.codec.postings": total,
        "index.codec.decode_postings_per_s": total / t_dec,
        "index.codec.encode_postings_per_s": total / t_enc,
    }


def scorer_probe(blocks: pd.DataFrame, queries, n_docs: int, avgdl: float, k: int = 10) -> dict:
    cfg = EngineConfig()
    toks = [tokenize_text(q, mode="query") for q in queries]
    sub = blocks[blocks["term"].isin({t for ts in toks for t in ts})]
    groups = {t: g for t, g in sub.groupby("term", sort=False)}
    empty = sub.iloc[:0]
    t_prune = t_exact = 0.0
    cand_postings = cand_blocks = 0
    for ts in toks:
        parts = [groups[t] for t in dict.fromkeys(ts) if t in groups]
        rows = pd.concat(parts) if parts else empty
        cand_blocks += len(rows)
        cand_postings += int(rows["n_postings"].sum())
        for prune in (True, False):
            t0 = time.perf_counter()
            score_query(ts, rows, k, avgdl, cfg.k1, cfg.b, prune=prune, n_docs=n_docs)
            dt = time.perf_counter() - t0
            if prune:
                t_prune += dt
            else:
                t_exact += dt
    return {
        "query.scorer.postings_per_s": cand_postings / t_prune,
        "query.scorer.exact_postings_per_s": cand_postings / t_exact,
        "query.scorer.candidate_blocks_per_query": cand_blocks / len(toks),
        "query.scorer.candidate_postings_per_hit": cand_postings / (k * len(toks)),
    }


def tokenize_probe(queries, reps: int = 20) -> dict:
    t0 = time.perf_counter()
    for _ in range(reps):
        for q in queries:
            tokenize_text(q, mode="query")
    return {"tokenize.query_us": 1e6 * (time.perf_counter() - t0) / (reps * len(queries))}


def corpus_tokens(spark, texts_df) -> dict:
    """Spark sum of corpus-mode token counts (the build's JVM tokenizer)."""
    from pyspark.sql import functions as F

    from similarities_spark.tokenize import jvm_tokens_col

    t0 = time.perf_counter()
    n = texts_df.select(F.sum(F.size(jvm_tokens_col(F.col("text"))))).collect()[0][0]
    dt = time.perf_counter() - t0
    return {"tokenize.corpus_tokens": int(n), "tokenize.corpus_tokens_per_s": n / dt}
