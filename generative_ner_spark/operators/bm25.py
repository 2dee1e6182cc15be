"""BM25 ranked retrieval over the corpus — the lexical-search complement
to the embedding ANN family (similarity.py) and the TF-IDF keyword pass
(tfidf.py): "find the training documents most relevant to this query"
is how curation teams audit a corpus, mine domain subsets, and build
retrieval baselines.

Distributed shape, sized for 100 TB:

* the query is a handful of terms — it ships as a LITERAL ``isin``
  predicate pushed into the term-frequency scan, so only rows for query
  terms survive the very first map stage (the corpus never shuffles on
  anything but its slim (doc, query-term, tf) hits);
* document lengths and the corpus-wide (n_docs, avg_dl) constants come
  from map-side-combined aggregates; the two scalars ride a one-row
  broadcast (BroadcastNestedLoopJoin over a single row: free);
* per-query-term document frequencies aggregate the already-slim hit
  rows — vocabulary side is |query| rows, broadcast back onto the hits;
* the final score is a per-doc sum over <= |query| rounded per-term
  contributions and top-k resolves via TakeOrderedAndProject (no global
  sort, no SinglePartition shuffle).

Okapi BM25 with the Lucene-style non-negative idf:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

Everything is JVM-side column expressions => full DuckDB oracle (q45).
Per-term contributions and the final sum are rounded to 6 decimals on
BOTH sides so cross-engine float noise cannot break value-hash equality
(the established oracle contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from generative_ner_spark.operators.cache import cache_scope
from generative_ner_spark.operators.tfidf import term_frequencies


def doc_lengths(tf: DataFrame) -> DataFrame:
    """(id, dl): document length in tokens, from the term_frequencies
    output — sum of tf per doc, map-side combined on the uniform id."""
    return tf.groupBy("id").agg(F.sum("tf").alias("dl"))


def _score_hits(hits: DataFrame, n, avgdl, id_col: str,
                k1: float, b: float) -> DataFrame:
    """Shared BM25 scoring tail: hits rows carrying (id, term, tf, dl,
    df) -> (id_col, n_terms_hit, score). ``n``/``avgdl`` are Columns
    (corpus-constants broadcast row) or literals (written-index
    manifest). ONE home for the idf/contrib/agg block, so bm25_search
    and probe_bm25_index can never drift apart (their score parity is
    pinned by test)."""
    idf = F.log(1.0 + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = F.round(
        idf * F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)),
        6,
    )
    return (
        hits.withColumn("_s", contrib)
        .groupBy("id")
        .agg(F.count("*").alias("n_terms_hit"),
             F.round(F.sum("_s"), 6).alias("score"))
        .select(F.col("id").alias(id_col), "n_terms_hit", "score")
    )


def _topk_ranked(scored: DataFrame, id_col: str, top_k: int) -> DataFrame:
    """Shared top-k tail: ties break on id asc (total order, reproducible
    cross-engine); orderBy+limit plans as TakeOrderedAndProject, and the
    rank window runs AFTER the limit — its SinglePartition input is
    top_k rows, not the corpus."""
    top = scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()).limit(top_k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w))


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id_col, n_terms_hit, score) for every document matching at least
    one query term (lowercased, deduplicated; docs matching nothing are
    absent — at corpus scale the hit set is tiny next to the corpus).

    avg_dl is defined over ALL corpus docs (total tokens / n_docs), so an
    empty doc still dilutes the average — the oracle replays the same
    definition.
    """
    terms = sorted({t.lower() for t in query_terms if t})
    if not terms:
        raise ValueError("query_terms must contain at least one term")
    tf = term_frequencies(df, id_col, text_col)
    dl = doc_lengths(tf)
    # two corpus scalars in one row: n_docs from the input frame (counts
    # token-free docs too), total tokens from the tf pass
    meta = df.select(F.count("*").alias("_n")).crossJoin(
        tf.select(F.coalesce(F.sum("tf"), F.lit(0)).alias("_tok")))
    hits = tf.where(F.col("term").isin(terms))  # literal pushdown filter
    dfreq = hits.groupBy("term").agg(F.count("*").alias("df"))
    joined = (
        hits.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(meta))
    )
    return _score_hits(joined, F.col("_n"),
                       F.col("_tok") / F.col("_n"), id_col, k1, b)


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k documents for the query by BM25: (id_col, n_terms_hit,
    score, rank). Ties break on id asc (total order, reproducible
    cross-engine); orderBy+limit plans as TakeOrderedAndProject."""
    scored = bm25_scores(df, query_terms, id_col, text_col, k1, b)
    return _topk_ranked(scored, id_col, top_k)


# --------------------------------------------------------------------------
# Written, term-bucketed index: the 100 TB probe path (same family as the
# written LSH/IVF indexes in similarity.py — build once, partition-pruned
# probes forever).
# --------------------------------------------------------------------------

from dataclasses import dataclass  # noqa: E402

_MANIFEST = "_bm25_manifest.json"


@dataclass
class WrittenBm25Index:
    df: DataFrame          # (id, term, tf, dl, _bucket) — _bucket from dirs
    n_docs: int
    total_tokens: int
    n_buckets: int
    id_col: str


def write_bm25_index(df: DataFrame, path: str, id_col: str = "doc_id",
                     text_col: str = "text", n_buckets: int = 64) -> None:
    """Persist the inverted statistics for PARTITION-PRUNED BM25 probes.

    Rows are (id, term, tf, dl) — dl denormalized onto every posting so a
    probe needs no second table — written ``partitionBy(_bucket)`` where
    ``_bucket = pmod(xxhash64(term), n_buckets)``. A probe computes its
    query terms' buckets and reads exactly those directories: FILE-level
    pruning, like write_lsh_index/write_ivf_index. Per-term document
    frequencies are NOT stored: df(t) is the posting count of t, which
    the probe recovers for free from the (complete) bucket rows it reads.

    The corpus constants (n_docs, total tokens) ride a JSON manifest so a
    later session probes without touching the corpus.
    """
    import json
    import os

    # tf feeds THREE consumers (the manifest scalars, doc_lengths, and
    # the postings write) across TWO actions — persist it or the
    # tokenize+shuffle aggregation re-runs per action (a full duplicate
    # corpus pass at the scale this index exists for)
    with cache_scope() as keep:
        tf = keep(term_frequencies(df, id_col, text_col))
        meta = df.select(F.count("*")).crossJoin(
            tf.select(F.coalesce(F.sum("tf"), F.lit(0)))).first()
        postings = tf.join(doc_lengths(tf), "id").withColumn(
            "_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
        postings.write.partitionBy("_bucket").mode("overwrite").parquet(path)
    manifest = {"n_docs": int(meta[0]), "total_tokens": int(meta[1]),
                "n_buckets": n_buckets, "id_col": id_col}
    with open(os.path.join(path, _MANIFEST), "w") as f:
        json.dump(manifest, f)


def read_bm25_index(spark, path: str) -> WrittenBm25Index:
    """Reload a written BM25 index (see write_bm25_index). ``_bucket``
    comes back from the directory layout, so probe filters prune at the
    FILE level."""
    import json
    import os

    with open(os.path.join(path, _MANIFEST)) as f:
        m = json.load(f)
    return WrittenBm25Index(spark.read.parquet(path), m["n_docs"],
                            m["total_tokens"], m["n_buckets"], m["id_col"])


def probe_bm25_index(
    windex: WrittenBm25Index,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k BM25 over a written index — scores identical to
    bm25_search on the source corpus (pinned by test). The query terms'
    buckets are computed with the SAME xxhash64 in a |query|-row driver
    job, then pushed as a literal ``_bucket IN (...)`` partition filter:
    the probe reads only those directories, never the full index."""
    terms = sorted({t.lower() for t in query_terms if t})
    if not terms:
        raise ValueError("query_terms must contain at least one term")
    spark = windex.df.sparkSession
    buckets = sorted({
        r[0] for r in spark.createDataFrame(
            [(t,) for t in terms], "term string"
        ).select(
            F.pmod(F.xxhash64("term"), F.lit(windex.n_buckets))
        ).collect()
    })
    hits = windex.df.where(
        F.col("_bucket").isin(buckets) & F.col("term").isin(terms))
    dfreq = hits.groupBy("term").agg(F.count("*").alias("df"))
    id_col = windex.id_col
    scored = _score_hits(
        hits.join(F.broadcast(dfreq), "term"),
        F.lit(windex.n_docs),
        F.lit(windex.total_tokens / windex.n_docs),
        id_col, k1, b)
    return _topk_ranked(scored, id_col, top_k)


def rrf_fuse(
    rankings: list,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int | None = None,
    round_to: int = 6,
):
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) — THE standard
    way to combine heterogeneous retrieval lists (BM25 + ANN + recency,
    each on its own incomparable score scale) into one ranking:
    ``rrf(d) = Σ_lists 1 / (k + rank_list(d))``, rank 1-based, items
    absent from a list contribute nothing. Output: (id, n_lists,
    rrf_score, rank) ordered by (score desc, id asc); ``top_k`` bounds
    the output.

    Scale shape: each input is already a (small) top-N result frame —
    the union + per-id agg is result-set-sized, never corpus-sized;
    map-side combine folds an id's per-list contributions before the
    one slim exchange. The global rank is an unpartitioned window —
    a single ordered pass over the FUSED frame, which is bounded by
    Σ len(inputs) by construction (that is the one place a global
    window is the honest plan, not a scale bug). Rank reciprocals come
    from exact integers, so only the final sum carries the
    round-``round_to`` float contract (q89 oracle).
    """
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    tagged = None
    for r in rankings:
        slim = r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))
             ).alias("_contrib"),
        )
        tagged = slim if tagged is None else tagged.unionByName(slim)
    fused = tagged.groupBy(id_col).agg(
        F.count("*").alias("n_lists"),
        F.round(F.sum("_contrib"), round_to).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    out = fused.withColumn("rank", F.row_number().over(w))
    if top_k is not None:
        out = out.where(F.col("rank") <= top_k)
    return out
