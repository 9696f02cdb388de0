"""The workloads: each runs its calls through the public API of
``similarities_spark``, checks every result against an in-repo oracle and
returns its end-to-end metrics, per-layer details and exact counters.

Every workload fills the same end-to-end metrics from its own calls:

- ``docs_per_s``: bm25 = input docs / wall of the whole write path (cold
  build, no-op resume, merge, compact); dedup_ops = docs / wall of
  minhash + simhash + text features, over the warm rounds.
- ``queries_per_s``: bm25 = 400 / wall of the same 200-query batch run
  twice on the compacted index, after a cold batch of 20; dedup_ops
  = queries / wall of the 10-vector ``cosine_topk`` batches of the warm
  rounds.

Traced runs also measure single-query latency, reported as the unbounded
``query.single.p50_ms``: it swung by up to a third between runs on a
shared 4-core box, too much for a regression bound. It is the median of
a closed loop (one client, next call after the previous result is
collected) run for ``--seconds``: one BM25 query on bm25, one query
vector on dedup_ops. Untraced runs skip it, which keeps the runs short.

BM25 writes run once, cold, as in a one-shot job on a fresh session. The
dedup operators run in rounds: a cold one first, then warm ones for
``--seconds``, at least three, which make the metrics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import re
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd

import gen
from similarities_spark import BM25Index, BM25IndexBuilder, BM25Oracle, BM25QueryEngine, EngineConfig
from similarities_spark.tokenize import tokenize_text


class FastOracle(BM25Oracle):
    """BM25Oracle with its per-token tf column gathered from an inverted
    list instead of a scan over every doc's dict. The score arithmetic is
    the oracle's own expression on the same float64 operands, so scores are
    bit-identical; ``verify`` re-checks that against the base class."""

    def __init__(self, texts):
        super().__init__([tokenize_text(t, mode="corpus") for t in texts])
        ids, tfs = defaultdict(list), defaultdict(list)
        for i, freqs in enumerate(self.doc_freqs):
            for t, c in freqs.items():
                ids[t].append(i)
                tfs[t].append(c)
        self.postings = {t: (np.array(ids[t]), np.array(tfs[t], np.float64)) for t in ids}
        self._norm = self.k1 * (1 - self.b + self.b * self.doc_len / self.avgdl)
        n = self.n_docs
        self.floored = {t for t, d in self.df.items()
                        if math.log(n - d + 0.5) - math.log(d + 0.5) < 0}

    def get_scores(self, query_tokens):
        scores = np.zeros(self.n_docs, dtype=np.float64)
        for q in query_tokens:
            tf = np.zeros(self.n_docs, dtype=np.float64)
            hit = self.postings.get(q)
            if hit is not None:
                tf[hit[0]] = hit[1]
            idf = self.idf.get(q) or 0.0
            scores += idf * (tf * (self.k1 + 1) / (tf + self._norm))
        return scores

    def topk(self, query: str, k: int = 10):
        s = self.get_scores(tokenize_text(query, mode="query"))
        n = s.size
        if n > k:
            kth = np.partition(s, n - k)[n - k]
            cand = np.flatnonzero(s >= kth)
        else:
            cand = np.arange(n)
        order = cand[np.lexsort((cand, -s[cand]))][:k]
        return [(int(i), float(s[i])) for i in order]

    def verify(self, queries) -> int:
        """Mismatches between this oracle and BM25Oracle.most_similar."""
        bad = 0
        for q in queries:
            ref = BM25Oracle.most_similar(self, tokenize_text(q, mode="query"), 10)
            bad += ref != self.topk(q)
        return bad


class Run:
    """Shared state of one workload run: session, tracer, inputs, scratch
    dirs, and the tallies every workload reports."""

    def __init__(self, spark, tracer, inputs, work_dir, seconds, traced, cores):
        self.spark, self.tr, self.inp = spark, tracer, inputs
        self.work, self.seconds, self.traced, self.cores = work_dir, seconds, traced, cores
        self.attempted = 0
        self.failed = 0
        self.metrics = {}      # end-to-end
        self.named = {}        # the workload's own named metrics (name -> (value, unit))
        self.layer = {}        # per-layer details for the trace file
        self.exact = {}        # counters that must repeat across same-seed runs
        self.digest = hashlib.sha256()
        self.floor_ulp = 0     # results equal only within the floored-idf tolerance
        self.t_first_call = None
        self.stage_s = 0.0     # writing generated inputs to parquet: not set-up
        self.corpus_df = None  # the corpus as a DataFrame with a text column

    def call(self, name, layer, fn, **attrs):
        if self.t_first_call is None:
            self.t_first_call = time.time()
        return self.tr.timed(name, layer, fn, **attrs)

    def check(self, ok: bool, what: str, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            print(f"MISMATCH {self.inp.name}: {what}", flush=True)

    def check_hits(self, rows, queries, oracle) -> None:
        got = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
        for i, q in enumerate(queries):
            exp, hit = oracle.topk(q), got.get(i, [])
            ok = hit == exp
            if not ok and _floor_tolerant(hit, exp, q, oracle):
                ok = True
                self.floor_ulp += 1
            self.check(ok, f"query {q!r}: {hit[:3]} != {exp[:3]}")
            self.digest.update(json.dumps([d for d, _ in hit]).encode())

    def single_loop(self, fn, check, min_calls: int = 3):
        """Closed loop of single calls for ``seconds`` (at least
        ``min_calls`` after a first, warm-up call that is checked but not
        timed: the first single call after a batch ran up to 3x slower);
        -> list of per-call walls in seconds."""
        check(0, fn(0)[0])
        lat, t_end, i = [], time.time() + self.seconds, 1
        while len(lat) < min_calls or time.time() < t_end:
            out, dt = fn(i)
            check(i, out)
            lat.append(dt)
            i += 1
        return lat


def _floor_tolerant(hit, exp, query, oracle) -> bool:
    """The engine sums the full-vocabulary average idf in another order
    than the oracle, so scores of queries with an epsilon-floored (df > N/2)
    token may differ in the last bits; tests/test_e2e_parity.py documents
    and bounds that at rel 1e-12. Only such queries get the tolerance, the
    doc ids must still match exactly, and each one is counted."""
    if not oracle.floored.intersection(tokenize_text(query, mode="query")):
        return False
    return [d for d, _ in hit] == [d for d, _ in exp] and all(
        math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-13) for (_, a), (_, b) in zip(hit, exp))


def _stage(run, pdf, name):
    t0 = time.time()
    path = os.path.join(run.work, f"{name}.parquet")
    pdf.to_parquet(path, index=False)
    run.stage_s += time.time() - t0
    return path


def _dir_bytes(path):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(f))


def _block_stats(index_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "blocks"), columns=["term", "salt", "n_postings", "payload"])
    terms = t.column("term").to_pylist()
    salts = np.asarray(t.column("salt").to_pylist())
    payload = sum(len(p) for p in t.column("payload").to_pylist())
    n_terms = len(set(terms))
    return {
        "blocks": t.num_rows,
        "payload_bytes": payload,
        "salted_terms": len({tm for tm, s in zip(terms, salts) if s > 0}),
        "rows_per_term": round(t.num_rows / max(n_terms, 1), 6),
    }


def _engine(run, index_dir):
    """A fresh index handle and engine after every write: the engine binds
    index state when it is constructed."""
    return BM25QueryEngine(BM25Index(run.spark, index_dir))


def _bm25_single_loop(run, engine, oracle):
    singles = run.inp.singles

    def one(i):
        q = singles[i % len(singles)]
        with run.tr.span("search+collect", "bench") as sp:
            df, _ = run.call("single.search", "query.engine", lambda: engine.search(q))
            rows, _ = run.call("single.collect", "query.engine", df.collect)
        return rows, sp["end"] - sp["start"]

    return run.single_loop(
        one, lambda i, rows: run.check_hits(rows, [singles[i % len(singles)]], oracle))


def _batch(run, engine, oracle, name, queries):
    rows, dt = run.call(name, "query.engine", lambda: engine.search(queries).collect(),
                        queries=len(queries))
    run.check_hits(rows, queries, oracle)
    return dt


def bm25(run):
    inp, spark = run.inp, run.spark
    idx_dir = os.path.join(run.work, "index")
    base = run.corpus_df = spark.read.parquet(_stage(run, gen.webtext(inp.texts, 0), "base"))
    batch_texts = inp.merge
    batch = spark.read.parquet(_stage(run, gen.webtext(batch_texts, 10_000_000), "merge"))
    builder = BM25IndexBuilder(spark, EngineConfig())
    corpus = list(inp.texts)
    write_s = 0.0

    with run.tr.span("build"):
        idx, dt = run.call("build", "index.build", lambda: builder.build(base, idx_dir))
        write_s += dt
        meta = dict(idx.meta)
        run.named["build_docs_per_s"] = (len(corpus) / dt, "docs/s")
        run.check(idx.n_docs == len(corpus), "build n_docs")
    with run.tr.span("resume"):
        idx, dt = run.call("build_resume", "index.build", lambda: builder.build(base, idx_dir, resume=True))
        write_s += dt
        run.named["resume_s"] = (dt, "s")
        run.check(idx.n_docs == len(corpus), "resume n_docs")
    if run.traced:
        run.layer["index.blocks.before_merge"] = _block_stats(idx_dir)
    with run.tr.span("merge"):
        existing = set(corpus)
        kept = [t for t in batch_texts if t not in existing]
        idx, dt = run.call("merge_new_docs", "index.build", lambda: builder.merge_new_docs(batch, idx_dir))
        write_s += dt
        corpus.extend(kept)
        run.named["merge_docs_per_s"] = (len(batch_texts) / dt, "docs/s")
        run.check(idx.n_docs == len(corpus), f"merge n_docs {idx.n_docs} != {len(corpus)}")
    if run.traced:
        run.layer["index.blocks.before_compact"] = _block_stats(idx_dir)
    with run.tr.span("compact"):
        idx, dt = run.call("compact", "index.build", lambda: builder.compact(idx_dir))
        write_s += dt
        run.named["compact_s"] = (dt, "s")
        run.check(idx.n_docs == len(corpus), "compact n_docs")
    if run.traced:
        run.layer["index.blocks.after_compact"] = _block_stats(idx_dir)
    with run.tr.span("batch"):
        oracle = FastOracle(corpus)
        run.check(oracle.verify(inp.queries[:2]) == 0, "FastOracle == BM25Oracle")
        engine = _engine(run, idx_dir)
        # The first batch call pays code generation and JIT; a tenth of the
        # queries is enough to take that out of the two timed batches.
        warmup_s = _batch(run, engine, oracle, "search_batch[warm-up]", inp.queries[:len(inp.queries) // 10])
        batch_s = [_batch(run, engine, oracle, f"search_batch[{i}]", inp.queries) for i in range(2)]
    if run.traced:
        with run.tr.span("single_loop"):
            lat = _bm25_single_loop(run, engine, oracle)
        run.named["query_p50_ms"] = (1e3 * statistics.median(lat), "ms")
        run.metrics["query_p50_ms"] = 1e3 * statistics.median(lat)
        run.layer["query.single.n"] = len(lat) + 1  # calls, the warm-up one included
    engine.close()

    text_bytes = sum(len(t.encode("utf-8")) for t in corpus)
    n_q = len(inp.queries)
    offered = len(inp.texts) + len(batch_texts)
    run.named.update(
        index_bytes_per_input_byte=(_dir_bytes(idx_dir) / text_bytes, "ratio"),
        batch_qps=(2 * n_q / sum(batch_s), "queries/s"),
        warmup_batch_s=(warmup_s, "s"),
        write_path_docs_per_s=(offered / write_s, "docs/s"),
    )
    run.metrics.update(
        docs_per_s=offered / write_s,
        queries_per_s=2 * n_q / sum(batch_s),
    )
    run.exact.update({
        "index.build.postings": meta["n_postings"],
        "index.build.vocab": meta["vocab_size"],
        "index.merge.docs_dropped": len(batch_texts) - len(kept),
        "index.n_docs": len(corpus),
    })
    run.layer["index.build.stage_wall_s"] = meta.get("stage_wall_s")
    run.layer["index.build.resolved_postings_mode"] = meta.get("resolved_postings_mode")
    return idx_dir, oracle


def _cosine_expected(vectors, q, k=10):
    norms = np.sqrt((vectors * vectors).sum(axis=1))
    cos = (vectors @ q) / (norms * np.sqrt((q * q).sum()))
    order = np.lexsort((np.arange(cos.size), -cos))[:k]
    return [int(i) for i in order], cos[order]


def dedup_ops(run):
    from similarities_spark.functions import ann, dedup, textops
    from similarities_spark.functions.textops import TOKEN_RE

    inp, spark = run.inp, run.spark
    n = len(inp.texts)
    ids = np.arange(n, dtype=np.int64)
    docs = run.corpus_df = spark.read.parquet(
        _stage(run, pd.DataFrame({"doc_id": ids, "text": inp.texts}), "docs"))
    vecs = spark.read.parquet(
        _stage(run, pd.DataFrame({"vec_id": ids, "embedding": list(inp.vectors)}), "vectors"))
    qbatch = spark.createDataFrame([(i, [float(x) for x in v]) for i, v in enumerate(inp.qvectors)],
                                   "qid long, qvec array<double>")
    n_tokens = [len(re.findall(TOKEN_RE, t)) for t in inp.texts]
    same_text = defaultdict(list)
    for i, t in enumerate(inp.texts):
        same_text[t].append(i)
    dup_pairs = {(a, b) for g in same_text.values() for a in g for b in g if a < b}

    def cosine_batch():
        rows, dt = run.call("cosine_topk", "functions.ann",
                            lambda: ann.cosine_topk(vecs, qbatch, k=10).collect())
        _check_cosine(run, rows, inp)
        return dt

    # Rounds of every operator, each result checked. Round 0 pays each
    # operator's code generation and JIT and is left out of the metrics (a
    # cold pass swung by a quarter from run to run); then warm rounds run
    # for --seconds, at least three, and the metrics divide their work by
    # their summed wall. A warm cosine_topk batch lasts about a second, so
    # each warm round runs it twice.
    walls, cos_s, r, t_end = [], [], 0, None
    while r < 4 or time.time() < t_end:
        with run.tr.span(f"round[{r}]"):
            pairs, t_mh = run.call("minhash_lsh_pairs", "functions.dedup",
                                   lambda: dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4).collect())
            got = {(int(p[0]), int(p[1])): float(p[2]) for p in pairs}
            found = {k for k, v in got.items() if v == 1.0}
            run.check(dup_pairs <= found, f"minhash missed {len(dup_pairs - found)} exact pairs")
            run.digest.update(json.dumps(sorted(got.items())).encode())
            sims, t_sh = run.call("simhash64", "functions.dedup", lambda: dedup.simhash64(docs).collect())
            fp = {int(s[0]): int(s[1]) for s in sims}
            run.check(len(fp) == n and all(len({fp[i] for i in g}) == 1 for g in same_text.values()),
                      "simhash: exact duplicates must share a fingerprint")
            feats, t_tf = run.call("add_text_features", "functions.textops",
                                   lambda: textops.add_text_features(docs).collect())
            run.check(sorted((int(f["doc_id"]), int(f["n_tokens"])) for f in feats)
                      == list(enumerate(n_tokens)), "text_features n_tokens")
            walls.append((t_mh, t_sh, t_tf))
            cos_s.append([cosine_batch() for _ in range(1 if r == 0 else 2)])
        if r == 0:
            t_end = time.time() + run.seconds
        r += 1

    warm = len(walls) - 1
    t_mh, t_sh, t_tf = (sum(w) for w in zip(*walls[1:]))
    n_cos = sum(len(ts) for ts in cos_s[1:])
    t_cos = sum(sum(ts) for ts in cos_s[1:])
    n_q = len(inp.qvectors)
    run.named.update(
        minhash_docs_per_s=(warm * n / t_mh, "docs/s"),
        simhash_docs_per_s=(warm * n / t_sh, "docs/s"),
        text_features_docs_per_s=(warm * n / t_tf, "docs/s"),
        cosine_topk_qps=(n_cos * n_q / t_cos, "queries/s"),
        cold_pass_s=(sum(walls[0]) + sum(cos_s[0]), "s"),
    )
    run.metrics.update(
        docs_per_s=warm * n / (t_mh + t_sh + t_tf),
        queries_per_s=n_cos * n_q / t_cos,
    )
    if run.traced:
        qv = [spark.createDataFrame([(i, [float(x) for x in v])], "qid long, qvec array<double>")
              for i, v in enumerate(inp.qvectors)]

        def cosine_one(i):
            return run.call("single.cosine_topk", "functions.ann",
                            lambda: ann.cosine_topk(vecs, qv[i % len(qv)], k=10).collect())

        with run.tr.span("single_loop"):
            lat = run.single_loop(cosine_one, lambda i, rows: _check_cosine(run, rows, inp, only=i % len(qv)))
        run.named["cosine_p50_ms"] = (1e3 * statistics.median(lat), "ms")
        run.metrics["query_p50_ms"] = 1e3 * statistics.median(lat)
        run.layer["query.single.n"] = len(lat) + 1  # calls, the warm-up one included
    run.exact["functions.dedup.minhash_pairs"] = len(got)
    return None, FastOracle(inp.texts) if run.traced else None


def _check_cosine(run, rows, inp, only=None):
    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        got[int(r["qid"])].append((int(r["vec_id"]), float(r["cosine"])))
    for q in range(len(inp.qvectors)) if only is None else [only]:
        ids, cos = _cosine_expected(inp.vectors, inp.qvectors[q])
        g = got.get(q, [])
        ok = [i for i, _ in g] == ids and np.allclose([c for _, c in g], cos, rtol=0, atol=5e-7)
        run.check(ok, f"cosine_topk q{q}: {g[:2]} vs {ids[:2]}")
        run.digest.update(json.dumps(ids).encode())


WORKLOADS = {"bm25": bm25, "dedup_ops": dedup_ops}
