"""The second part of workload ``seen_dedup``: the dedup and similarity
operator library (``queries`` -> ``operators.dedup`` /
``operators.similarity``) on a seeded corpus, checked against the
queries' DuckDB twins.

The corpus is written as ``documents.parquet`` and ``embeddings.parquet``
in the layout ``queries.load`` reads: base documents plus exact copies
and near copies (a share of words replaced), and unit vectors plus noisy
near copies. One op is one pass over QUERY_NAMES (order drawn from the
seed), each ``QUERIES[name](spark, dir).collect()``, so every query runs
to completion. The set-up runs one pass as warm-up; the reference rows
come from DuckDB once, outside the set-up time, and every timed pass is
compared with them (columns, row count and the order-insensitive
multiset of rows).
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Ctx, digest, median

# headline queries that run the dedup/similarity operators: exact content
# hashing, MinHash-LSH candidates confirmed by exact n-gram Jaccard, and
# hyperplane-LSH cosine pairs scored in Python workers (``_bucket_pair_scorer``)
QUERY_NAMES = ["dedup_exact", "ngram_jaccard", "embedding_neardup"]
BASE_DOCS = 1_600
EXACT_COPIES = 200
NEAR_COPIES = 400
VOCAB = 1_500
BASE_VECS = 900
NEAR_VECS = 300
DIM = 64


def make_corpus(seed: int) -> dict[str, pa.Table]:
    r = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(r.choice(letters, r.integers(2, 9))) for _ in range(VOCAB)]
    # mildly skewed word frequencies, as in text
    p = 1.0 / np.arange(1, VOCAB + 1) ** 0.6
    p /= p.sum()
    docs = [r.choice(VOCAB, r.integers(10, 80), p=p) for _ in range(BASE_DOCS)]
    for src in r.choice(BASE_DOCS, EXACT_COPIES):
        docs.append(docs[src].copy())
    for src in r.choice(BASE_DOCS, NEAR_COPIES):
        d = docs[src].copy()
        hit = r.random(len(d)) < 0.1
        d[hit] = r.choice(VOCAB, int(hit.sum()), p=p)
        docs.append(d)
    texts = [" ".join(vocab[w] for w in d) for d in (docs[i] for i in r.permutation(len(docs)))]
    langs = np.array(["en", "de", "es", "fr", "zh"])
    documents = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), len(texts))],
        "source": [f"src{i}" for i in r.integers(0, 8, len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    base = r.standard_normal((BASE_VECS, DIM))
    near = base[r.choice(BASE_VECS, NEAR_VECS)] + 0.1 * r.standard_normal((NEAR_VECS, DIM))
    vecs = np.concatenate([base, near])[r.permutation(BASE_VECS + NEAR_VECS)]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, len(vecs)).astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def corpus_digest(corpus: dict[str, pa.Table]) -> str:
    t, e = corpus["documents"], corpus["embeddings"]
    return digest(t["text"].to_pylist(), t["lang"].to_pylist(), t["source"].to_pylist(),
                  np.stack(e["embedding"].to_numpy(zero_copy_only=False)),
                  e["label"].to_numpy())


def duck_reference(data_dir: str) -> dict[str, tuple]:
    """(columns, row count, row multiset) of each query's DuckDB twin."""
    import duckdb

    from pushkind_crawlers_spark.gatecheck import rows_to_multiset
    from pushkind_crawlers_spark.queries import ORACLE

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in QUERY_NAMES:
            res = con.execute(ORACLE[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = (sorted(cols), len(rows), rows_to_multiset(rows, cols))
        return out
    finally:
        con.close()


def matches(want: tuple, cols: list[str], rows: list) -> bool:
    from pushkind_crawlers_spark.gatecheck import rows_to_multiset

    return (sorted(cols) == want[0] and len(rows) == want[1]
            and rows_to_multiset(rows, cols) == want[2])


class Part:
    """Set-up writes the corpus, computes the DuckDB reference and warms
    every query up with one pass; ``op`` runs one checked pass."""

    name = "dedup"

    def __init__(self, ctx: Ctx, spark):
        from pushkind_crawlers_spark.queries import QUERIES

        self.ctx, self.spark, self.queries = ctx, spark, QUERIES
        corpus = make_corpus(ctx.seed)
        self.data_dir = ctx.dir("corpus")
        for name, t in corpus.items():
            pq.write_table(t, os.path.join(self.data_dir, f"{name}.parquet"))
        self.order = [QUERY_NAMES[i]
                      for i in np.random.default_rng(ctx.seed).permutation(len(QUERY_NAMES))]
        # input rows a pass reads: the documents once per text query, the vectors once
        self.items = sum(corpus["embeddings" if n == "embedding_neardup" else "documents"].num_rows
                         for n in QUERY_NAMES)
        self.sizes = {n: t.num_rows for n, t in corpus.items()}
        with ctx.untimed():
            self.inputs = corpus_digest(corpus)
            if corpus_digest(make_corpus(ctx.seed)) != self.inputs:
                raise RuntimeError("same seed gave different corpora")
            self.want = duck_reference(self.data_dir)
        # class loading, code generation and the Python workers' start;
        # checked like any op, so it counts as an attempt
        self.warmup = self.op(-1)
        self.setup_ops = [self.warmup]

    def op(self, i: int) -> dict:
        """Every query once, timed; the rows are checked after the pass."""
        from pushkind_crawlers_spark.caching import release

        tracer = self.ctx.tracer
        rec = {"query_s": {}, "t0": time.time()}
        got = {}
        for name in self.order:
            t = time.time()
            with tracer.span(f"query.{name}") if tracer else nullcontext():
                df = self.queries[name](self.spark, self.data_dir)
                got[name] = (df.columns, [tuple(row) for row in df.collect()])
            rec["query_s"][name] = time.time() - t
            release(df)
        rec["t1"] = time.time()
        rec["wall_s"] = rec["t1"] - rec["t0"]
        rec["steps"] = [rec["wall_s"]]
        rec["items"] = self.items
        rec["rows"] = {n: len(rows) for n, (_, rows) in got.items()}
        rec["ok"] = all(matches(self.want[n], cols, rows) for n, (cols, rows) in got.items())
        return rec

    def summary(self, ops: list) -> tuple[dict, dict]:
        query_s = {n: median([o["query_s"][n] for o in ops]) for n in QUERY_NAMES}
        detail = {
            "suite_s_p50": median([o["wall_s"] for o in ops]),
            "query_s_p50": query_s,
            "warmup_query_s": self.warmup["query_s"],
            "rows": ops[0]["rows"],
            "input_rows": self.sizes,
            "inputs_digest": self.inputs,
        }
        layers = {f"query_s.{n}": v for n, v in query_s.items()} if self.ctx.tracer else {}
        return detail, layers
