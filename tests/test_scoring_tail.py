"""The one scoring tail: every search surface feeds the same mapInArrow
kernel (score, pad and rank in place), and its results are bit-identical
to BM25Oracle for every variant, query shape and surface.

The corpus keeps every df <= N/2, so no Okapi idf is epsilon-floored and
the oracle's float64 scores are exact, not merely within an ulp.
"""

import contextlib
import dataclasses
import io
import json
import os

import pytest

from similarities_spark.config import EngineConfig
from similarities_spark.index.build import BM25Index, BM25IndexBuilder
from similarities_spark.oracle import BM25Oracle
from similarities_spark.query import engine as engine_mod
from similarities_spark.query.engine import BM25QueryEngine
from similarities_spark.tokenize import tokenize_text

CFG = EngineConfig(
    block_size=4,            # many blocks per term, so fan-out ranges split them
    num_term_buckets=4,
    salt_df_threshold=12,    # head terms get doc-range salted
    num_salts=3,
)


def _corpus(n_docs=48):
    """Deterministic docs; 'data'/'web'/'the'/'of'/'and' are the head terms
    (df well above the salt threshold, below N/2), w00xx the tail, plus
    tokens that need SQL quoting in the pruning predicate."""
    docs = []
    for i in range(n_docs):
        toks = [f"w{(i * 7 + j * 3) % 40:04d}" for j in range(1 + i % 5)]
        if i % 3 == 0:
            toks += ["data", "web"]
        if i % 4 == 1:
            toks += ["the", "of", "the"]
        if i % 5 == 2:
            toks += ["and", "data"]
        if i % 11 == 3:
            toks.append("it's c:\\dir")
        docs.append(" ".join(toks))
    return docs


# the shapes: multi-term, zero-match, duplicate tokens, partial padding,
# empty, and tokens with a quote and a backslash
QUERIES = {
    0: "data web w0003",
    1: "zzz unknown",
    2: "the of and the",
    3: "w0039",
    4: "",
    5: "it's c:\\dir",
}


def _docs(spark, texts, first=0):
    """Webtext rows in list order (warc_ts = first + position)."""
    return spark.createDataFrame(
        [(f"u{first + i:05d}", first + i, t) for i, t in enumerate(texts)],
        "url string, ts long, text string",
    ).selectExpr(
        "url", "timestamp_seconds(ts) as warc_ts",
        "cast(text as binary) as html", "text", "'en' as lang",
    )


def _build(spark, tmp_path, texts, name):
    return BM25IndexBuilder(spark, CFG).build(
        _docs(spark, texts), str(tmp_path / name), input_desc=name
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("tail")
    texts = _corpus()
    tokens = [tokenize_text(t, mode="corpus") for t in texts]
    n = len(tokens)
    df = {}
    for d in tokens:
        for t in set(d):
            df[t] = df.get(t, 0) + 1
    assert max(df.values()) <= n / 2  # no floored idf: exact oracle
    tiny = ["data web", "web of", "zzz"]
    return {
        "main": (_build(spark, tmp, texts, "main"), tokens),
        "tiny": (_build(spark, tmp, tiny, "tiny"),
                 [tokenize_text(t, mode="corpus") for t in tiny]),
    }


def _surfaces(spark, eng, queries, topn):
    qdf = spark.createDataFrame(
        sorted(queries.items()), "query_id long, text string"
    )
    return {
        "search": eng.search(queries, topn=topn),
        "search_df_fan4": eng.search_df(qdf, topn=topn, fan_out=4),
        "search_join_df": eng.search_join_df(qdf, topn=topn),
    }


def _by_query(rows):
    out = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


@pytest.mark.parametrize("variant", ["okapi", "bm25l", "bm25plus"])
@pytest.mark.parametrize("which", ["main", "tiny"])  # tiny: n_docs < topn
def test_every_surface_bit_identical_to_oracle(spark, built, variant, which):
    index, corpus_tokens = built[which]
    topn = 7
    oracle = BM25Oracle(corpus_tokens, variant=variant)
    eng = BM25QueryEngine(
        index, cfg=dataclasses.replace(index.config(), variant=variant)
    )
    for name, hits in _surfaces(spark, eng, QUERIES, topn).items():
        rows = hits.collect()
        got = _by_query(rows)
        for qid, text in QUERIES.items():
            want = oracle.most_similar(tokenize_text(text, mode="query"), topn)
            assert got.get(qid) == want, (name, variant, which, qid, text)
        ranks = [r["rank"] for r in rows if r["query_id"] == 0]
        assert sorted(ranks) == list(range(1, min(topn, index.n_docs) + 1))


def test_search_submits_no_spark_job(spark, built):
    index, _ = built["main"]
    sc = spark.sparkContext
    for fan_thr in (None, 5):  # 5: auto fan-out fires for every query
        eng = BM25QueryEngine(
            index,
            cfg=dataclasses.replace(index.config(), fan_out_threshold=fan_thr),
        )
        eng.search(QUERIES, topn=5).collect()  # loads the stats snapshot
        group = f"scoring-tail-lazy-{fan_thr}"
        sc.setJobGroup(group, "search() only builds a plan")
        try:
            hits = eng.search(["data web w0001", "of the"], topn=5)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == [], fan_thr
        assert bool(eng.last_fan_out) == (fan_thr is not None)
        assert hits.count() == 10


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_plan_one_scorer_one_exchange_no_window(built):
    index, _ = built["main"]
    eng = BM25QueryEngine(index)
    plan = _plan(eng.search(["data web w0003", "the of"], topn=5))
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    # the driver-built predicates still prune: partition filter on bucket,
    # In(term, ...) pushed into the parquet scan
    assert "In(term," in plan, plan


def test_search_df_bound_falls_through_to_join_producer(spark, built, monkeypatch):
    index, corpus_tokens = built["main"]
    oracle = BM25Oracle(corpus_tokens)
    qdf = spark.createDataFrame(
        sorted(QUERIES.items()), "query_id long, text string"
    )
    eng = BM25QueryEngine(index)
    under = _by_query(eng.search_df(qdf, topn=6).collect())
    monkeypatch.setattr(engine_mod, "DRIVER_ROWS_MAX", len(QUERIES) - 1)
    over_df = eng.search_df(qdf, topn=6)
    assert "ArrowEvalPython" in _plan(over_df)  # the tokenizer UDF ran: join path
    over = _by_query(over_df.collect())
    assert over == under
    for qid, text in QUERIES.items():
        assert under[qid] == oracle.most_similar(
            tokenize_text(text, mode="query"), 6
        )


def test_long_lived_engine_follows_merge_and_compact(spark, tmp_path):
    texts = _corpus(40)
    extra = [f"data w{i:04d} fresh{i % 3}" for i in range(100, 112)]
    idx = _build(spark, tmp_path, texts, "live")
    eng = BM25QueryEngine(idx)
    queries = ["data fresh1", "web w0003", "fresh2"]
    before = _by_query(eng.search(queries, topn=6).collect())

    builder = BM25IndexBuilder(spark, CFG)
    builder.merge_new_docs(_docs(spark, extra, 1000), str(tmp_path / "live"))
    merged = _by_query(eng.search(queries, topn=6).collect())
    fresh = BM25QueryEngine(
        BM25Index(spark, str(tmp_path / "live"))
    )
    assert merged == _by_query(fresh.search(queries, topn=6).collect())
    assert merged != before  # the new docs are visible

    builder.compact(str(tmp_path / "live"))
    with open(os.path.join(str(tmp_path / "live"), "meta.json")) as f:
        assert any("compaction" in inc for inc in json.load(f)["increments"])
    compacted = _by_query(eng.search(queries, topn=6).collect())
    fresh = BM25QueryEngine(
        BM25Index(spark, str(tmp_path / "live"))
    )
    assert compacted == _by_query(fresh.search(queries, topn=6).collect())
    assert compacted == merged
