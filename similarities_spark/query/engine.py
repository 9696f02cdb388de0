"""Distributed BM25 query engine over the term-partitioned block index.

Physical plan (per query batch). Every search surface returns a LAZY
DataFrame: building it submits no Spark job and persists nothing.

  row producers — candidate block rows annotated with (query_id, term, df,
  idf), plus one marker row (term null) per (query, range):
    search / search_df: queries tokenize in driver Python (query mode: NO
      stopword filter, duplicates kept, reference literal_similarity.py:434)
      -> distinct terms, buckets = pmod(xxhash64(term), B), df/idf from the
      stats snapshot. Blocks scan: bucket IN (...) -> parquet PARTITION
      pruning (bucket is the partition column), term IN (...) -> row-group
      min/max pruning (blocks are sorted by term within each bucket); a
      broadcast join with the literal (query_id, term, df, idf) table.
      Ordered query tokens ride in the scorer closure.
    search_join_df: the tokenizer UDF's token array rides on the marker
      rows; query terms reach term_stats and blocks through distributed
      joins, so no query row is staged on the driver.

  one scoring tail (_score_tail):
    block rows UNION marker rows
    -> repartition by query_id [, range_id], sort within partitions
    -> mapInArrow: per (query, range) run, the block-max MaxScore kernel
       (scorer.py), zero-score padding with the lowest unmatched doc ids
       (degenerate small-corpus semantics, reference
       literal_similarity.py:437-440) and ranking, in place
       -> (query_id, rank, doc_id, score)
    -> doc-range fan-out only: one row_number window merges the per-range
       top-k lists
    -> optional join docs for corpus text

Only index partitions/row-groups holding query terms are ever READ, and only
matching blocks are shuffled; the big index never moves otherwise. One
scoring task holds a query's candidate blocks; for fat (head-term) queries,
scoring auto-shards by doc-id range when the estimated candidate volume (sum
of df over query terms) exceeds ``cfg.fan_out_threshold`` — bit-identical
results, R-way parallel per query (``fan_out=`` forces a specific R).
"""

from __future__ import annotations

import json
import os
from typing import Dict, Optional, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from similarities_spark.index.build import BM25Index
from similarities_spark.localdf import DRIVER_ROWS_MAX, literal_df as _literal_df
from similarities_spark.query import scorer as _scorer
from similarities_spark.tokenize import make_tokenizer_udf, tokenize_text
from similarities_spark.xxh64 import term_bucket

_HITS_DDL = "query_id long, rank int, doc_id long, score double"

# block-side columns the scorer reads (plus query_id / range_id keys)
_BLOCK_COLS = (
    "term", "salt", "block_id", "min_doc", "max_doc", "n_postings",
    "tf_max", "tf_min", "dl_max", "dl_min", "payload", "df", "idf",
)


def _measure_scorer_rate(cfg, avgdl: float) -> float:
    """Decode+score throughput (postings/sec) of the MaxScore kernel on
    synthetic single-term blocks — the driver-side microbench behind
    ``fan_out_target_task_s``. Runs in ~100 ms once per engine; the same
    numpy kernel executes inside every scoring task, so the measured rate
    transfers to executor tasks directly."""
    import time as _time

    from similarities_spark.index import codec as _codec

    n = 200_000
    ids = np.arange(n, dtype=np.int64)
    tfs = (ids % 7 + 1).astype(np.int64)
    dls = np.full(n, max(1, int(avgdl)), dtype=np.int64)
    blocks = _codec.encode_blocks_batch(ids, tfs, dls, cfg.block_size)
    rows = [
        (
            "t", 0, bi, int(ids[lo]), int(ids[hi - 1]), hi - lo,
            int(tfs[lo:hi].max()), int(tfs[lo:hi].min()),
            int(dls[lo:hi].max()), int(dls[lo:hi].min()),
            payload, n, 1.0,
        )
        for bi, (payload, lo, hi) in enumerate(blocks)
    ]
    pdf = pd.DataFrame(rows, columns=list(_BLOCK_COLS))
    best = float("inf")
    for _ in range(2):  # second run is warm (numpy/codec JIT-free, cache-hot)
        t0 = _time.perf_counter()
        _scorer.score_query(
            ["t"], pdf, 10, avgdl, cfg.k1, cfg.b,
            prune=False,  # full decode: measures the worst-case task
            variant="okapi", delta=0.0, n_docs=n,
        )
        best = min(best, _time.perf_counter() - t0)
    return n / best


def _sql_in(col: str, values) -> str:
    """``col IN (v, ...)`` as SQL text: one parse on the JVM instead of one
    py4j literal per value (``Column.isin``). Strings are quoted with the
    parser's backslash escapes, so any token (quotes, backslashes) round-trips
    exactly; the optimizer still pushes the list into the parquet scan."""
    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return str(int(v))

    return f"{col} IN ({', '.join(lit(v) for v in values)})"


def _meta_state(meta: dict):
    """The parts of meta.json a merge, compaction or rebuild changes."""
    return (meta.get("n_docs"), meta.get("increments"), meta.get("lineage_key"))


def _scoring_kernel(
    *,
    k: int,
    n_docs: int,
    avgdl: float,
    cfg,
    per: Optional[int],
    tokens_by_q: Optional[Dict[int, list]],
    token_dfs_by_q: Dict[int, dict],
):
    """-> the mapInArrow function of the scoring tail.

    Input batches arrive sorted by (query_id, range_id); each run of one
    key holds that (query, range)'s candidate block rows plus its marker
    row(s) (term null). Per run it scores with the MaxScore kernel, then —
    when the scorer flags that unmatched docs are rankable — merges in the
    lowest doc ids of the range that matched nothing, at ``pad_score``
    (doc ids are dense 0..N-1 by construction), ranks by (score desc,
    doc_id asc) and keeps the top k. Query tokens come from
    ``tokens_by_q`` when given, else from the marker row's ``tokens`` (and
    BM25Plus ``token_dfs``) columns. A run never needs rows of another, so
    memory is one run plus one Arrow batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    prune = cfg.score_mode == "wand"
    variant, delta, k1, b = cfg.variant, cfg.resolved_delta(), cfg.k1, cfg.b
    out_schema = pa.schema(
        [("query_id", pa.int64()), ("rank", pa.int32()),
         ("doc_id", pa.int64()), ("score", pa.float64())]
    )

    def score_run(run: pa.Table):
        qid = run.column("query_id")[0].as_py()
        rid = run.column("range_id")[0].as_py()
        is_block = pc.is_valid(run.column("term"))
        blocks = run.filter(is_block)
        # a marker-only run (no candidate block in this query or range)
        # skips the pandas conversion: the scorer pads it from tokens alone
        blocks = blocks.to_pandas() if blocks.num_rows else None
        if tokens_by_q is not None:
            tokens = tokens_by_q.get(qid, [])
            token_dfs = token_dfs_by_q.get(qid)
        else:
            marker = run.filter(pc.invert(is_block)).slice(0, 1).to_pylist()[0]
            tokens = list(marker["tokens"] or [])
            token_dfs = dict(marker.get("token_dfs") or [])
        lo, hi = (rid * per, min(n_docs, (rid + 1) * per)) if per else (0, n_docs)
        ids, scores, _, needs_pad, pad_score = _scorer.score_query(
            tokens, blocks, k, avgdl, k1, b, prune=prune,
            variant=variant, delta=delta, n_docs=n_docs,
            doc_range=(lo, hi) if per else None, token_dfs=token_dfs or None,
        )
        if needs_pad:
            # a padded run holds ALL its matched docs, so the k lowest
            # unmatched ids lie in [lo, lo + k + matched)
            pool = np.arange(lo, min(hi, lo + k + ids.size), dtype=np.int64)
            pool = pool[~np.isin(pool, ids)][:k]
            ids = np.concatenate([ids, pool])
            scores = np.concatenate([scores, np.full(pool.size, pad_score)])
            top = np.lexsort((ids, -scores))[:k]
            ids, scores = ids[top], scores[top]
        return qid, ids, scores

    def hits_batch(results) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(
                    [np.full(ids.size, q, np.int64) for q, ids, _ in results])),
                pa.array(np.concatenate(
                    [np.arange(1, ids.size + 1, dtype=np.int32)
                     for _, ids, _ in results])),
                pa.array(np.concatenate([ids for _, ids, _ in results])),
                pa.array(np.concatenate([s for _, _, s in results])),
            ],
            schema=out_schema,
        )

    def kernel(batches):
        pieces, key = [], None  # the open run, possibly spanning batches
        for batch in batches:
            if batch.num_rows == 0:
                continue
            q = batch.column("query_id").to_numpy()
            r = batch.column("range_id").to_numpy()
            cuts = np.flatnonzero((q[1:] != q[:-1]) | (r[1:] != r[:-1])) + 1
            done = []
            for s, e in zip([0, *cuts], [*cuts, batch.num_rows]):
                if pieces and (q[s], r[s]) != key:
                    done.append(score_run(pa.Table.from_batches(pieces)))
                    pieces = []
                key = (q[s], r[s])
                pieces.append(batch.slice(s, e - s))
            if done:
                yield hits_batch(done)
        if pieces:
            yield hits_batch([score_run(pa.Table.from_batches(pieces))])

    return kernel


class BM25QueryEngine:
    def __init__(self, index: BM25Index, cfg=None):
        """``cfg`` overrides the index's stored config for query-time-only
        knobs (score_mode, fan_out_*, variant); index-layout fields must
        match what was built."""
        self._cfg_override = cfg
        self.last_fan_out: Optional[int] = None
        # populated on first use when fan_out_target_task_s is set
        self.last_calibration: Optional[dict] = None
        self._bind(index)

    def _bind(self, index: BM25Index) -> None:
        """Bind DataFrame HANDLES (not data) to the index tables:
        spark.read.parquet lists files eagerly on the driver, so a fresh
        blocks()/term_stats() per batch would re-pay the listing every
        search."""
        self.index = index
        self.spark = index.spark
        self.cfg = (
            self._cfg_override
            if self._cfg_override is not None
            else index.config()
        )
        self._resolved_fan_out_threshold: Optional[int] = None
        self._blocks_df = index.blocks()
        self._stats_df = index.term_stats()
        # vocab-capped driver snapshot of term_stats, loaded lazily at the
        # first search: the per-batch df/idf lookup then costs a dict probe
        # instead of a Spark job. Gated on the EXACT vocab size from meta —
        # a web-scale vocab never loads; values come from the same parquet
        # bytes, so scores are unchanged.
        self._stats_snapshot: Optional[dict] = None

    def _refresh(self) -> None:
        """Rebind when merge_new_docs, compact or a rebuild committed to the
        index directory since binding — one meta.json read, no Spark job —
        so a long-lived engine never serves stale index state."""
        path = os.path.join(self.index.index_dir, "meta.json")
        with open(path, "r", encoding="utf-8") as f:
            on_disk = json.load(f)
        if _meta_state(on_disk) != _meta_state(self.index.meta):
            self._bind(BM25Index(self.spark, self.index.index_dir))

    def close(self) -> None:
        """Release the engine's cached intermediates. Searches cache
        nothing, so this is a no-op kept for callers that close engines."""

    def fan_out_threshold(self) -> Optional[int]:
        """Effective auto-fan-out threshold: the configured posting count,
        or — when ``fan_out_target_task_s`` is set — derived once from the
        measured kernel rate so one scoring task holds ~target seconds of
        decode+score work on THIS hardware."""
        cfg = self.cfg
        if cfg.fan_out_target_task_s is None:
            return cfg.fan_out_threshold
        if self._resolved_fan_out_threshold is None:
            rate = _measure_scorer_rate(cfg, self.index.avgdl)
            # floor the per-task budget at scheduler+Arrow overhead: a task
            # shorter than that costs more to launch than it saves, so a
            # sub-floor target would derive a threshold that makes auto
            # fan-out a pessimization (the r4 bench demo inversion)
            eff_target = max(cfg.fan_out_target_task_s, cfg.fan_out_min_task_s)
            self._resolved_fan_out_threshold = max(
                1_000, int(rate * eff_target)
            )
            self.last_calibration = {
                "scorer_postings_per_s": round(rate, 1),
                "fan_out_threshold": self._resolved_fan_out_threshold,
                "target_task_s": cfg.fan_out_target_task_s,
                "effective_target_task_s": eff_target,
            }
        return self._resolved_fan_out_threshold

    def _lookup_stats(self, terms) -> Dict[str, tuple]:
        """df/idf for the given terms: from the vocab-capped driver
        snapshot when the whole stats table is tiny (one load per engine,
        then zero Spark jobs per batch), else a term-IN-pruned scan."""
        vocab = int(self.index.meta.get("vocab_size") or (DRIVER_ROWS_MAX + 1))
        if vocab <= DRIVER_ROWS_MAX:
            if self._stats_snapshot is None:
                self._stats_snapshot = {
                    r["term"]: (int(r["df"]), float(r["idf"]))
                    for r in self._stats_df.collect()
                }
            return {
                t: self._stats_snapshot[t]
                for t in terms
                if t in self._stats_snapshot
            }
        return {
            r["term"]: (int(r["df"]), float(r["idf"]))
            for r in self._stats_df.filter(F.expr(_sql_in("term", terms))).collect()
        }

    def search(
        self,
        queries: Union[str, Sequence[str], Dict[int, str]],
        topn: int = 10,
        include_text: bool = False,
    ) -> DataFrame:
        """Reference most_similar surface (literal_similarity.py:416-442):
        str | list | dict of queries -> ranked hits DataFrame
        (query_id, rank, doc_id, score [, corpus_doc]).

        Queries are already driver-side values here, so they tokenize in
        driver Python directly (same tokenize_text the query UDF wraps) —
        no round-trip through a queries DataFrame just to collect it back."""
        if isinstance(queries, str):
            queries = [queries]
        if isinstance(queries, (list, tuple)):
            queries = {i: q for i, q in enumerate(queries)}
        tok_lists = [
            (int(q), tokenize_text(text, mode="query"))
            for q, text in queries.items()
        ]
        return self._search_tokens(
            tok_lists, topn=topn, include_text=include_text, fan_out=None
        )

    def search_df(
        self,
        queries_df: DataFrame,
        topn: int = 10,
        include_text: bool = False,
        fan_out: Optional[int] = None,
    ) -> DataFrame:
        """``fan_out=R`` splits scoring into R doc-id range shards per query:
        each (query, range) task scores its shard fully (still bit-exact per
        doc — ranges partition the doc space) and emits a padded local
        top-k; a global window merges. This is the single-query-latency path
        at extreme scale — one query's work spreads over R tasks instead of
        one. When ``fan_out`` is None it auto-enables once the estimated
        candidate volume of the fattest query exceeds
        ``cfg.fan_out_threshold`` postings. All variants decompose over doc
        ranges: Okapi/BM25L because their unmatched-doc contribution is
        exactly 0; BM25Plus because its per-token idf*delta baseline is a
        query constant every range task reproduces from the token dfs,
        independent of which blocks it sees.

        The raw (query_id, text) rows are collected ONCE, bounded at
        ``DRIVER_ROWS_MAX`` + 1 rows, and tokenized in driver Python with
        the very function the query UDF wraps (tokenize_text, mode='query'
        — bit-identical tokens). A batch over the bound runs the
        search_join_df row producer instead — same tail, same results."""
        qrows = (
            queries_df.select(
                F.col("query_id").cast("long").alias("query_id"), "text"
            )
            .limit(DRIVER_ROWS_MAX + 1)
            .collect()
        )
        if len(qrows) > DRIVER_ROWS_MAX:
            return self._search_join(queries_df, topn, include_text, fan_out)
        tok_lists = [
            (int(r["query_id"]), tokenize_text(r["text"], mode="query"))
            for r in qrows
        ]
        return self._search_tokens(
            tok_lists, topn=topn, include_text=include_text, fan_out=fan_out
        )

    def _search_tokens(
        self,
        tok_lists,
        topn: int,
        include_text: bool,
        fan_out: Optional[int],
    ) -> DataFrame:
        """Row producer of the driver surfaces over pre-tokenized
        (query_id, tokens) pairs. Everything query-sized becomes a JVM
        LocalRelation (_literal_df) — the broadcast df/idf stats side and
        the marker rows — so the only Python stage in the physical plan is
        the scoring kernel itself. Yields the partition/row-group pruning
        predicates for the blocks scan and the candidate-volume estimate
        for auto fan-out."""
        self._refresh()
        cfg = self.cfg
        qt_pairs = sorted({(q, t) for q, toks in tok_lists for t in toks})
        terms = sorted({t for _, t in qt_pairs})
        stat_map = self._lookup_stats(terms) if terms else {}

        # partition pruning (bucket IN ...) + row-group stats pruning
        # (term IN ...): only index files/row-groups holding query terms
        # are read. Buckets come from pure-Python xxHash64, bit-identical
        # to the JVM xxhash64 the index writer used (fuzz-gated parity,
        # tests/test_r3_fixes.py).
        if terms:
            buckets = sorted({term_bucket(t, cfg.num_term_buckets) for t in terms})
            blocks = self._blocks_df.filter(
                F.expr(f"{_sql_in('bucket', buckets)} AND {_sql_in('term', terms)}")
            )
        else:
            blocks = self._blocks_df.filter(F.lit(False))
        # blocks are stats-free (immutable segments); per-term df/idf ride
        # in on the tiny broadcast query side (terms absent from the index
        # carry no blocks, so they are skipped here)
        known = [
            (q, t, stat_map[t][0], stat_map[t][1])
            for q, t in qt_pairs
            if t in stat_map
        ]
        qstats = _literal_df(
            self.spark, known, "query_id long, term string, df long, idf double"
        )
        rows = F.broadcast(qstats).join(blocks, "term", "inner")

        # Query tokens (ordered, duplicates kept) and BM25Plus token dfs
        # ship in the scorer-function CLOSURE: the queries are
        # driver-adjacent by contract, so a pickled dict replaces a token
        # side DataFrame and its exchange.
        tokens_by_q: Dict[int, list] = {}
        for q, toks in tok_lists:
            tokens_by_q.setdefault(q, []).extend(toks)
        token_dfs_by_q = {}
        if cfg.variant == "bm25plus":
            token_dfs_by_q = {
                q: {t: stat_map[t][0] for t in set(toks) if t in stat_map}
                for q, toks in tokens_by_q.items()
            }

        fan_thr = self.fan_out_threshold()
        if fan_out is None and fan_thr:
            # auto fan-out: candidate volume of the fattest query, estimated
            # as sum(df) over its in-index terms (exact upper bound on the
            # postings one scorer task would decode)
            per_q: Dict[int, int] = {}
            for q, _, df_, _ in known:
                per_q[q] = per_q.get(q, 0) + df_
            max_cand = max(per_q.values(), default=0)
            if max_cand > fan_thr:
                fan_out = min(cfg.fan_out_max, -(-max_cand // fan_thr))
        markers = _literal_df(
            self.spark, [(q,) for q in sorted(tokens_by_q)], "query_id long"
        )
        return self._score_tail(
            rows, markers, topn, fan_out, include_text,
            tokens_by_q=tokens_by_q, token_dfs_by_q=token_dfs_by_q,
        )

    def search_join_df(
        self,
        queries_df: DataFrame,
        topn: int = 10,
        include_text: bool = False,
    ) -> DataFrame:
        """Fully-distributed batch query path: NO per-query driver work —
        for query sets too large to stage driver-side.

        ``search_df``'s contract is "queries are driver-adjacent": it
        collects the distinct query terms once to build literal
        bucket/term pruning predicates and a broadcast stats side. This
        path instead JOINS: query terms x term_stats (distributed hash join
        on term) and query terms x blocks on (bucket, term), so a
        million-query batch never stages rows on the driver. Trade-offs, by
        design:
        - blocks pruning relies on the join + dynamic/runtime filters
          instead of literal IN predicates (a broad query set would defeat
          literal pruning anyway);
        - auto fan-out sizing needs one SCALAR agg job (max per-query
          candidate volume), not per-query driver rows.
        Both feed the same scoring tail, so results are identical to
        search_df (parity-tested)."""
        return self._search_join(queries_df, topn, include_text, None)

    def _search_join(
        self,
        queries_df: DataFrame,
        topn: int,
        include_text: bool,
        fan_out: Optional[int],
    ) -> DataFrame:
        """Row producer of search_join_df (and of search_df batches over
        the driver bound): marker rows carry each query's ordered token
        array (and, for BM25Plus, its in-index token dfs)."""
        self._refresh()
        cfg = self.cfg
        tok_udf = make_tokenizer_udf("query")
        markers = queries_df.select(
            F.col("query_id").cast("long").alias("query_id"),
            tok_udf(F.col("text")).alias("tokens"),
        )
        qterms = markers.select(
            "query_id", F.explode("tokens").alias("term")
        ).distinct()
        qstats = qterms.join(self._stats_df, "term", "inner").withColumn(
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(cfg.num_term_buckets)).cast("int"),
        )
        rows = qstats.join(self._blocks_df, ["bucket", "term"], "inner")
        if cfg.variant == "bm25plus":
            token_dfs = qstats.groupBy("query_id").agg(
                F.map_from_entries(
                    F.collect_list(F.struct("term", "df"))
                ).alias("token_dfs")
            )
            markers = markers.join(token_dfs, "query_id", "left")

        fan_thr = self.fan_out_threshold()
        if fan_out is None and fan_thr:
            row = (
                qstats.groupBy("query_id")
                .agg(F.sum("df").alias("c"))
                .agg(F.max("c").alias("m"))
                .collect()[0]
            )
            max_cand = int(row["m"] or 0)
            if max_cand > fan_thr:
                fan_out = min(cfg.fan_out_max, -(-max_cand // fan_thr))
        return self._score_tail(rows, markers, topn, fan_out, include_text)

    def _score_tail(
        self,
        rows: DataFrame,
        markers: DataFrame,
        topn: int,
        fan_out: Optional[int],
        include_text: bool,
        tokens_by_q: Optional[Dict[int, list]] = None,
        token_dfs_by_q: Optional[Dict[int, dict]] = None,
    ) -> DataFrame:
        """The one scoring tail: candidate block ``rows`` (query_id plus
        _BLOCK_COLS) and one ``markers`` row per query -> ranked hits.

        Under fan-out each block row is copied to every doc-id range it
        overlaps and each marker to every range, so every (query, range)
        gets a run — a range no block reaches still pads. Each range emits
        its padded local top-k; one window merges them, which is exact
        because a doc in the global top-k is in its own range's top-k."""
        # observability (and test hook): the fan-out actually used
        self.last_fan_out = fan_out
        n_docs, k = self.index.n_docs, int(topn)
        rows = rows.select("query_id", *_BLOCK_COLS)
        if fan_out:
            per = max(1, (n_docs + fan_out - 1) // fan_out)
            rows = rows.withColumn(
                "range_id",
                F.explode(
                    F.sequence(
                        (F.col("min_doc") / per).cast("long"),
                        (F.col("max_doc") / per).cast("long"),
                    )
                ),
            )
            ranges = self.spark.range(fan_out).select(
                F.col("id").alias("range_id")
            )
            markers = markers.crossJoin(F.broadcast(ranges))
            keys = ["query_id", "range_id"]
        else:
            per = None
            rows = rows.withColumn("range_id", F.lit(0).cast("long"))
            markers = markers.withColumn("range_id", F.lit(0).cast("long"))
            keys = ["query_id"]

        kernel = _scoring_kernel(
            k=k, n_docs=n_docs, avgdl=self.index.avgdl, cfg=self.cfg, per=per,
            tokens_by_q=tokens_by_q, token_dfs_by_q=token_dfs_by_q or {},
        )
        hits = (
            rows.unionByName(markers, allowMissingColumns=True)
            .repartition(*keys)
            .sortWithinPartitions("query_id", "range_id")
            .mapInArrow(kernel, _HITS_DDL)
        )
        if fan_out:
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            hits = (
                hits.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "doc_id", "score")
            )
        if include_text:
            docs = self.index.docs().select(
                "doc_id", F.col("text").alias("corpus_doc")
            )
            hits = hits.join(docs, "doc_id", "left").select(
                "query_id", "rank", "doc_id", "score", "corpus_doc"
            )
        return hits
