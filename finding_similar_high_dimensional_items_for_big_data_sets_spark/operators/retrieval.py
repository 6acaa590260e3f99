"""Lexical retrieval: BM25 ranking over the documents table.

The keyword rung of a hybrid search stack — the same corpus the
MinHash/LSH and vector (IVF/PQ) tiers index, ranked by the
Robertson/Sparck-Jones BM25 function (the Lucene-default scoring
formula). A 100 TB corpus pass is two scans: one corpus-statistics
aggregation (df per query term + doc-length stats, map-side combined)
and one scoring pass over the rows that contain at least one query
term (an 8-byte token-keyed semi-join prunes everything else before
any per-doc state accumulates).

Float parity with the DuckDB oracle follows the repo discipline
(`prep.unigram_lm_scores`): every ln() argument is a ratio of exact
integers (+0.5 halves — exact in binary), the per-doc sum accumulates
in token-sorted order (tokens unique per doc) — an unbuffered ordered
scatter-add bit-identical to the oracle's sequential fold — and scores
are rounded to 6 for output and to 10 for the ordering comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.materialize import (
    materialize,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.text import tokenize


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k documents for a keyword query.

    score(d) = sum over distinct query terms t present in d of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))  (the Lucene
    variant — always positive), tf the term count in d, dl the doc
    token length, and avgdl the corpus mean (one driver-side scalar
    from an exact integer sum, divided identically in both engines).

    Duplicate query terms are deduped (standard bag-of-words BM25 over
    distinct terms). Documents matching no term are not returned.
    Ordering: round(score, 10) desc, doc_id asc — fully deterministic.

    Output: (doc_id, score DOUBLE rounded-6, rank INT), rank 1..k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = sorted({t for t in query.split(" ") if t})
    if not terms:
        raise ValueError("query has no terms")
    spark = docs.sparkSession
    toks = tokenize(F.col(text_col))

    # corpus statistics: N and the exact integer token-length sum in
    # ONE aggregation job; avgdl divides driver-side (same IEEE divide
    # the oracle performs)
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size(toks)).alias("sum_dl")
    ).collect()[0]
    n_docs = stats["n"] or 0
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = (stats["sum_dl"] or 0) / n_docs

    term_df = spark.createDataFrame([(t,) for t in terms], "token string")
    # per-(doc, query-term) tf rows; the semi filter on the tiny term
    # set prunes non-matching tokens BEFORE the aggregation shuffles.
    # Tokenize ONCE into a projected column: size() and explode() then
    # read the array attribute instead of re-running the split+filter
    # per use (CollapseProject keeps non-cheap aliases un-inlined).
    matched = (
        docs.select(
            F.col(id_col).alias("doc_id"), toks.alias("__toks")
        )
        .select(
            "doc_id",
            F.size("__toks").alias("dl"),
            F.explode("__toks").alias("token"),
        )
        .join(F.broadcast(term_df), "token")
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df per term = matched rows per token (a doc counts once per term
    # — identical to the corpus-global df for these terms by
    # definition). Materialize the (already reduced) matched rows once,
    # aggregate df to <= |query terms| rows, and broadcast it back: the
    # former count-window form (Window.partitionBy(token)) put every
    # matched row of one term in ONE task — a stop-word term at corpus
    # scale is a single giant window partition (guide §2.5 skew; AQE
    # cannot split window partitions) — and the join form before that
    # planned the corpus scan+explode+aggregate subtree TWICE (no CSE
    # across self-referencing joins). This shape scans the corpus once,
    # shuffles matched rows zero extra times, and has no per-term task
    # ceiling.
    matched = materialize(matched)
    dfreq = matched.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    with_df = matched.join(F.broadcast(dfreq), "token")
    return _rank_matched_terms(with_df, n_docs, avgdl, k1, b, k)


def _bm25_term_score(
    n_docs: int, avgdl: float, k1: float, b: float
):
    """The per-(doc, term) BM25 score as ONE JVM expression over
    (tf, dl, df) — shared by every table/store/point/batch path so
    their floats cannot drift. idf and the tf saturation stay
    codegen'd JVM arithmetic (the exact expression the DuckDB oracle
    mirrors); only the per-doc SUM moves to the Arrow kernel below."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    return (
        idf
        * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
            )
        )
    )


def _fold_term_scores(
    with_scores: DataFrame,
    qterm_rows: list[tuple[int, str]] | None,
    query_id_col: str = "query_id",
) -> DataFrame:
    """(doc_id, token, term_score) rows -> per-doc (or per-(query,
    doc)) BM25 sums as one Arrow kernel.

    Replaces the former ``groupBy + collect_list(struct) + array_sort +
    F.aggregate`` tail: measured at sf0.1 the collect_list aggregation
    alone was ~3.9 s of the 4.2 s batch tail (ObjectHashAggregate falls
    back to sort-based past 128 keys per partition), and with 20
    queries the (matched x queries-sharing-token) join multiplied 116k
    matched rows to 1.9M pre-shuffle rows. Here matched rows shuffle
    ONCE, hash-partitioned by doc_id and sorted (doc_id, token) within
    each task, and the query fan-out happens inside the kernel against
    a tiny query->term membership matrix (guide §2.3: shuffle the
    narrow rows once, §4.2: batch the custom logic in numpy).

    Bit parity with the expression fold (and the DuckDB oracle's
    ``list_reduce(list(term_score ORDER BY token))``): ``np.add.at`` is
    the UNBUFFERED scatter-add — repeated-index additions apply in row
    order — so each doc's score accumulates 0.0 + ts_1 + ts_2 ... in
    exactly the token-sorted left-fold sequence. The same identity
    ``ServingLexicalIndex.query`` is identity-tested on.

    A doc's rows may straddle Arrow batch boundaries, so the kernel
    carries the trailing (possibly incomplete) doc of each batch into
    the next — bounded by one doc's matched-term count (<= |query
    vocab|), never by partition size.
    """
    import numpy as np
    import pandas as pd

    dtype = with_scores.schema["doc_id"].dataType.simpleString()
    if qterm_rows is None:
        out_schema = f"doc_id {dtype}, score double"
        rows = with_scores.select("doc_id", "token", "term_score")
    else:
        out_schema = f"{query_id_col} long, doc_id {dtype}, score double"
        rows = with_scores.select("doc_id", "token", "term_score")
        terms = sorted({t for _q, t in qterm_rows})
        qids = sorted({int(q) for q, _t in qterm_rows})
        tok2idx = {t: i for i, t in enumerate(terms)}
        q2col = {q: j for j, q in enumerate(qids)}
        member = np.zeros((len(terms), len(qids)), dtype=bool)
        for q, t in qterm_rows:
            member[tok2idx[t], q2col[int(q)]] = True

    def process(chunk: "pd.DataFrame"):
        ts = chunk["term_score"].values
        codes, uniq = pd.factorize(chunk["doc_id"])
        if qterm_rows is None:
            scores = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(scores, codes, ts)
            return pd.DataFrame({"doc_id": uniq, "score": scores})
        tok_idx = chunk["token"].map(tok2idx).values.astype(np.int64)
        out = []
        for q in qids:
            qmask = member[tok_idx, q2col[q]]
            if not qmask.any():
                continue
            sub = codes[qmask]
            scores = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(scores, sub, ts[qmask])
            present = np.zeros(len(uniq), dtype=bool)
            present[sub] = True
            sel = np.flatnonzero(present)
            out.append(
                pd.DataFrame(
                    {
                        query_id_col: np.full(len(sel), q, dtype=np.int64),
                        "doc_id": uniq[sel],
                        "score": scores[sel],
                    }
                )
            )
        if not out:
            return None
        return pd.concat(out, ignore_index=True)

    def gen(batches):
        pending = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if len(pdf) == 0:
                pending = None
                continue
            dv = pdf["doc_id"].values
            start = int(np.searchsorted(dv, dv[-1], side="left"))
            pending = pdf.iloc[start:]
            body = pdf.iloc[:start]
            if len(body):
                res = process(body)
                if res is not None:
                    yield res
        if pending is not None and len(pending):
            res = process(pending)
            if res is not None:
                yield res

    return (
        rows.repartition(F.col("doc_id"))
        .sortWithinPartitions("doc_id", "token")
        .mapInPandas(gen, out_schema)
    )


def _rank_matched_terms(
    matched: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
) -> DataFrame:
    """Shared BM25 scoring tail: (doc_id, dl, token, tf, df) rows ->
    ranked (doc_id, score, rank). One term-score expression + one fold
    kernel for the table and store paths, so their floats cannot
    drift."""
    scored = _fold_term_scores(
        matched.select(
            "doc_id",
            "token",
            _bm25_term_score(n_docs, avgdl, k1, b).alias("term_score"),
        ),
        None,
    )
    # orderBy+limit first so the global top-k is a TakeOrderedAndProject
    # (per-partition partial top-k, no single-partition exchange over the
    # full matched set — for a stopword query on a 100 TB corpus `scored`
    # is billions of rows); the constant-partition rank window then runs
    # over exactly <=k survivors by construction.
    w = Window.orderBy(
        F.round(F.col("score"), 10).desc(), F.col("doc_id").asc()
    ).partitionBy(F.pmod(F.col("doc_id"), F.lit(1)))
    return (
        scored.orderBy(
            F.round(F.col("score"), 10).desc(), F.col("doc_id").asc()
        )
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select(
            "doc_id",
            F.round(F.col("score"), 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bm25_topk_store(spark, path: str, query: str, k: int = 10) -> DataFrame:
    """BM25 top-k answered FROM the persisted postings store
    (:func:`sources.tables.write_postings_index`) — answer-identical to
    :func:`bm25_topk` over the source table (same expression tree via
    :func:`_rank_matched_terms`, df/N/sum_dl from the store's sidecars,
    which equal the corpus values by construction).

    Scale shape: the scan is pruned to the ``token_bucket=`` partition
    directories of the query's terms BEFORE any join (literal ``isin``
    on the partition column ⇒ static directory pruning, the lexical twin
    of the IVF probe-cell pruning), so a point query touches
    ~|terms|/n_token_buckets of a 100 TB index, k1/b come from the
    store meta, and no corpus tokenization happens at query time."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        read_postings_corpus_stats,
        read_postings_index,
        read_term_stats,
        token_buckets_for,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = sorted({t for t in query.split(" ") if t})
    if not terms:
        raise ValueError("query has no terms")
    posts, meta = read_postings_index(spark, path)
    k1, b = float(meta["k1"]), float(meta["b"])
    n_docs, sum_dl = read_postings_corpus_stats(spark, path)
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = sum_dl / n_docs
    buckets = sorted(
        set(token_buckets_for(spark, terms, int(meta["n_token_buckets"])).values())
    )
    term_df = spark.createDataFrame([(t,) for t in terms], "token string")
    side_df = read_term_stats(spark, path).filter(F.col("token").isin(terms))
    matched = (
        posts.filter(F.col("token_bucket").isin(buckets))
        .join(F.broadcast(term_df), "token")
        .join(F.broadcast(side_df), "token")
        .select("doc_id", "dl", "token", "tf", "df")
    )
    return _rank_matched_terms(matched, n_docs, avgdl, k1, b, k)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rank_a_col: str = "rank",
    rank_b_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher, SIGIR 2009) —
    the standard hybrid-search combiner: given two ranked lists,
    rrf(d) = sum over lists containing d of 1 / (c + rank_d). Ids
    missing from a list contribute nothing from it (the full-outer
    semantics every RRF implementation uses). Rank-only fusion needs
    no score calibration between the lists — which is exactly why it
    is the default way to fuse a lexical (BM25) list with a vector
    (cosine) list.

    Both inputs are top-k lists (bounded), so the fusion is a
    broadcast-sized full outer join however large the corpus the lists
    were drawn from. 1/(c + rank) divides exact small integers —
    engine-portable bit-for-bit.

    Output: (doc_id, rank_lex INT nullable, rank_vec INT nullable,
    rrf_score DOUBLE rounded-6, rank INT) — ties broken by doc_id.

    Delegates to :func:`rrf_fuse_batch` under a constant query id, so
    the point and batch paths share one expression tree and cannot
    drift (the batch-twin law holds by construction, not by test).
    """
    return rrf_fuse_batch(
        ranked_a.withColumn("_qid", F.lit(0)),
        ranked_b.withColumn("_qid", F.lit(0)),
        k=k,
        c=c,
        id_col=id_col,
        query_id_col="_qid",
        rank_a_col=rank_a_col,
        rank_b_col=rank_b_col,
    ).select("doc_id", "rank_lex", "rank_vec", "rrf_score", "rank")


def rrf_fuse_batch(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    rank_a_col: str = "rank",
    rank_b_col: str = "rank",
) -> DataFrame:
    """Batch Reciprocal Rank Fusion: :func:`rrf_fuse`'s law applied
    per query — full outer join on (query_id, doc_id), 1/(c+rank)
    summed lex-first, per-query ranking on round(rrf, 10) desc with
    the doc_id tiebreak. Each query's fused output is identical to
    fusing its two point lists with :func:`rrf_fuse`.

    Both inputs are per-query top-k lists, so the join input is
    bounded by k * n_queries rows however large the corpus; the rank
    window partitions by query_id — parallel across queries, never a
    single global sort.

    Output: (query_id, doc_id, rank_lex, rank_vec,
    rrf_score DOUBLE rounded-6, rank INT).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if c < 1:
        raise ValueError(f"c must be >= 1, got {c}")
    a = ranked_a.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("doc_id"),
        F.col(rank_a_col).cast("int").alias("rank_lex"),
    )
    bt = ranked_b.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("doc_id"),
        F.col(rank_b_col).cast("int").alias("rank_vec"),
    )
    fused = a.join(bt, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "rank_lex",
        "rank_vec",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(c) + F.col("rank_lex")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(c) + F.col("rank_vec")), F.lit(0.0)
            )
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("rrf_score"), 10).desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rank_lex",
            "rank_vec",
            F.round(F.col("rrf_score"), 6).alias("rrf_score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _postings_dict(pdf) -> dict:
    """(doc_id, dl, token, tf) pandas rows -> {token: (ids, tf, dl)}
    numpy postings, doc-sorted per token — one builder for the table and
    store export paths so their array layouts cannot drift."""
    import numpy as np

    postings: dict = {}
    for token, grp in pdf.groupby("token", sort=False):
        g = grp.sort_values("doc_id")
        postings[token] = (
            g["doc_id"].to_numpy(dtype=np.int64),
            g["tf"].to_numpy(dtype=np.int64),
            g["dl"].to_numpy(dtype=np.int64),
        )
    return postings


class ServingLexicalIndex:
    """In-process inverted index for ms-scale BM25 point queries — the
    lexical twin of ``serving_vector.ServingVectorIndex`` (and of the
    reference's startup in-memory index, ``app/main.py``): export once
    with one Spark aggregation, answer keyword queries without a Spark
    job on the hot path.

    Answer identity: the per-doc score accumulates term scores in
    sorted-term order — the same addition sequence as
    :func:`bm25_topk`'s token-sorted fold — every ln() argument is the
    same exact-integer ratio, and output/ordering use the same
    round(6)/round(10) discipline, so a point query returns the
    engine's rows exactly (identity-tested).

    Scale shape: one replica holds the postings for ITS document
    shard while corpus statistics (N, sum_dl, per-term df) stay
    GLOBAL — export shards with ``from_dataframe(docs,
    global_stats=...)`` over doc subsets and merge per-shard answers
    with :func:`merge_topk_scores` (scores are doc-local once the
    global stats are fixed, so scatter-gather is exact — the same
    replica law as the MinHash and vector serving tiers).
    """

    def __init__(self, n_docs, sum_dl, postings, k1, b, global_df=None,
                 source=None):
        self.n_docs = int(n_docs)
        self.sum_dl = int(sum_dl)
        self.postings = postings  # token -> (ids int64[], tf int64[], dl int64[])
        self.k1 = float(k1)
        self.b = float(b)
        # per-term document frequency used for idf: global when this
        # replica holds only a doc shard, local otherwise
        self.global_df = global_df
        # loader provenance + store fingerprint (from_store only):
        # is_stale()/reload() detect a store swapped underneath this
        # snapshot by compaction / delete
        self.source = source

    @classmethod
    def from_dataframe(
        cls,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        k1: float = 1.2,
        b: float = 0.75,
        global_stats: tuple[int, int, dict] | None = None,
    ) -> "ServingLexicalIndex":
        """One-time export (offline half, excluded from query latency):
        one explode + groupBy job lands (doc, token, tf, dl) rows
        through Arrow into per-token numpy postings.

        ``global_stats``: (n_docs, sum_dl, {token: df}) from the FULL
        corpus when ``docs`` is one replica's document shard."""
        import numpy as np

        toks = tokenize(F.col(text_col))
        pdf = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.size(toks).alias("dl"),
                F.explode(toks).alias("token"),
            )
            .groupBy("doc_id", "dl", "token")
            .agg(F.count(F.lit(1)).alias("tf"))
            .toPandas()
        )
        postings = _postings_dict(pdf)
        if global_stats is not None:
            n_docs, sum_dl, global_df = global_stats
        else:
            st = docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.size(toks)).alias("s"),
            ).collect()[0]
            n_docs, sum_dl, global_df = st["n"] or 0, st["s"] or 0, None
        if n_docs == 0:
            raise ValueError("empty corpus")
        return cls(n_docs, sum_dl, postings, k1, b, global_df)

    @classmethod
    def from_store(
        cls,
        spark,
        path: str,
        doc_shards: list[int] | None = None,
    ) -> "ServingLexicalIndex":
        """Load a replica from the persisted postings store
        (:func:`sources.tables.write_postings_index`) — the lexical twin
        of ``ServingVectorIndex.from_store``: no corpus re-tokenization,
        k1/b from the store meta, and corpus statistics (N, sum_dl,
        per-term df) consumed from the sidecars so a doc-shard replica
        scores with GLOBAL idf without being hand-fed ``global_stats``.

        ``doc_shards``: replica sharding — load ONLY these doc shards'
        postings (the store is partitioned by doc_shard first, so the
        export scan prunes to this replica's directories). Replicas
        covering all shards merge with :func:`merge_topk_scores`
        identically to one full index."""
        import numpy as np  # noqa: F401  (postings dict dtype contract)

        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
            read_postings_corpus_stats,
            read_postings_index,
            read_term_stats,
            store_fingerprint,
        )

        # fingerprint BEFORE reading: a swap landing mid-export then
        # compares unequal (stale) instead of stamping the pre-swap
        # snapshot with the post-swap identity forever
        fp = store_fingerprint(path)
        posts, meta = read_postings_index(spark, path)
        if doc_shards is not None:
            posts = posts.filter(
                F.col("doc_shard").isin([int(s) for s in doc_shards])
            )
        pdf = posts.select("doc_id", "dl", "token", "tf").toPandas()
        postings = _postings_dict(pdf)
        n_docs, sum_dl = read_postings_corpus_stats(spark, path)
        if n_docs == 0:
            raise ValueError("empty corpus")
        global_df = {
            r["token"]: int(r["df"])
            for r in read_term_stats(spark, path).collect()
        }
        return cls(
            n_docs, sum_dl, postings, meta["k1"], meta["b"], global_df,
            source={
                "path": path,
                "doc_shards": (
                    None if doc_shards is None else [int(s) for s in doc_shards]
                ),
                "fingerprint": fp,
            },
        )

    def is_stale(self, spark) -> bool:
        """True iff the postings store was SWAPPED since this export
        (compaction, delete_from_postings_index)
        — the snapshot would keep answering with forgotten doc_ids (and
        stale corpus statistics) until :meth:`reload`. O(1 stat call).
        Raises for a from_dataframe index (no persisted identity)."""
        if self.source is None:
            raise ValueError(
                "index was built from a DataFrame (from_dataframe) — no "
                "persisted store to check; load via from_store for "
                "staleness tracking"
            )
        from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
            store_fingerprint,
        )

        return store_fingerprint(self.source["path"]) != self.source[
            "fingerprint"
        ]

    def reload(self, spark) -> "ServingLexicalIndex":
        """Fresh snapshot from the same store (same replica doc
        shards). Swap it in atomically:
        ``service.index = service.index.reload(spark)``."""
        if self.source is None:
            raise ValueError(
                "index was built from a DataFrame (from_dataframe) — "
                "re-export it from its source DataFrame instead"
            )
        return type(self).from_store(
            spark, self.source["path"], doc_shards=self.source["doc_shards"]
        )

    def query(self, query: str, k: int = 10) -> list[tuple[int, float, int]]:
        """BM25 point query: [(doc_id, score rounded-6, rank)].

        Vectorized accumulation: term-score arrays are concatenated in
        sorted-term order and summed per doc with the UNBUFFERED
        ``np.add.at`` (which applies repeated-index additions in array
        order) — so each doc's additions happen in exactly the
        engine's token-sorted fold sequence, bit-for-bit."""
        import math

        import numpy as np

        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        terms = sorted({t for t in query.split(" ") if t})
        if not terms:
            raise ValueError("query has no terms")
        n = self.n_docs
        avgdl = self.sum_dl / n
        k1, b = self.k1, self.b
        id_chunks, ts_chunks = [], []
        for t in terms:
            post = self.postings.get(t)
            if post is None:
                continue
            ids, tf, dl = post
            df = (
                self.global_df.get(t, len(ids))
                if self.global_df is not None
                else len(ids)
            )
            idf = math.log(1.0 + (float(n) - df + 0.5) / (df + 0.5))
            ts = (
                idf
                * (tf.astype("float64") * (k1 + 1.0))
                / (
                    tf.astype("float64")
                    + k1 * ((1.0 - b) + b * dl.astype("float64") / avgdl)
                )
            )
            id_chunks.append(ids)
            ts_chunks.append(ts)
        if not id_chunks:
            return []
        all_ids = np.concatenate(id_chunks)
        all_ts = np.concatenate(ts_chunks)
        uids, inv = np.unique(all_ids, return_inverse=True)
        scores = np.zeros(uids.shape[0], dtype=np.float64)
        np.add.at(scores, inv, all_ts)
        order = np.lexsort((uids, -np.round(scores, 10)))[:k]
        return [
            (int(uids[j]), round(float(scores[j]), 6), i + 1)
            for i, j in enumerate(order)
        ]


def merge_topk_scores(
    shard_results: list[list[tuple[int, float, int]]], k: int = 10
) -> list[tuple[int, float, int]]:
    """Router-side scatter-gather merge for doc-sharded lexical
    replicas: each doc lives in exactly one shard, so the global top-k
    is the top-k of the per-shard answers re-ranked under the same
    (round-10 score desc, doc_id asc) rule."""
    pool = [(d, s) for res in shard_results for (d, s, _r) in res]
    ranked = sorted(pool, key=lambda it: (-round(it[1], 10), it[0]))[:k]
    return [(d, round(s, 6), i + 1) for i, (d, s) in enumerate(ranked)]


def hybrid_rrf_point(
    lex_index: "ServingLexicalIndex",
    vec_index,
    query_text: str,
    query_vec: list,
    k: int = 10,
    c: int = 60,
    n_probe: int = 4,
    shortlist: int | None = None,
) -> list[tuple[int, float, int]]:
    """In-process hybrid point query: BM25 point list + IVF-PQ vector
    point list fused by the same RRF rule as :func:`rrf_fuse`
    (1/(c+rank) summed lexical-first, round-10 ordering, id ties) —
    the serving twin of the ``hybrid_rrf_topk`` contract query, with
    no Spark job on the hot path."""
    if c < 1:
        raise ValueError(f"c must be >= 1, got {c}")
    lex_hits = lex_index.query(query_text, k=k)
    vec_hits = vec_index.query(
        query_vec, k=k, n_probe=n_probe, shortlist=shortlist
    )
    return rrf_fuse_lists(lex_hits, vec_hits, k=k, c=c)


def rrf_fuse_lists(
    lex_hits: list[tuple[int, float, int]],
    vec_hits: list[tuple[int, float, int]],
    k: int = 10,
    c: int = 60,
) -> list[tuple[int, float, int]]:
    """The in-process RRF law on two already-ranked point lists —
    1/(c+rank) summed lexical-first, round-10 ordering, id ties; shared
    by :func:`hybrid_rrf_point` and the scatter-gather router (which
    fuses AFTER each tier's exact replica merge, because RRF over a doc
    shard's local ranks would not equal RRF over global ranks)."""
    scores: dict[int, float] = {}
    for doc_id, _s, rank in lex_hits:
        scores[int(doc_id)] = scores.get(int(doc_id), 0.0) + 1.0 / (c + rank)
    for vec_id, _d, rank in vec_hits:
        scores[int(vec_id)] = scores.get(int(vec_id), 0.0) + 1.0 / (c + rank)
    ranked = sorted(
        scores.items(), key=lambda it: (-round(it[1], 10), it[0])
    )[:k]
    return [(d, round(s, 6), i + 1) for i, (d, s) in enumerate(ranked)]


def bm25_topk_batch(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Batch BM25: one job for a whole keyword-query set — the lexical
    twin of the vector ``*_topk_batch`` kernels. Same model and float
    discipline as :func:`bm25_topk`; document frequencies are computed
    once over the UNION of all query terms (df is a corpus property,
    not a query property), the (query, term) map broadcasts into the
    matched-token join, and the per-(query, doc) fold runs token-
    sorted. Per-query results are bit-identical to the point path.

    Output: (query_id, doc_id, score DOUBLE rounded-6, rank INT <= k)
    per query; queries with no matching terms return no rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = docs.sparkSession
    qrows = queries.select(query_id_col, query_text_col).collect()
    qterm_rows = sorted(
        {
            (int(r[query_id_col]), t)
            for r in qrows
            for t in (r[query_text_col] or "").split(" ")
            if t
        }
    )
    if not qterm_rows:
        raise ValueError("no query terms in the batch")
    toks = tokenize(F.col(text_col))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size(toks)).alias("sum_dl")
    ).collect()[0]
    n_docs = stats["n"] or 0
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = (stats["sum_dl"] or 0) / n_docs

    terms_df = spark.createDataFrame(
        sorted({(t,) for _q, t in qterm_rows}), "token string"
    )
    # Tokenize ONCE into a projected column (size() and explode() read
    # the array attribute). df attaches like the point path: the
    # matched rows are materialized once, df aggregates to <= |vocab|
    # rows and broadcasts back — no count window (a stop-word term at
    # corpus scale was ONE window task, guide §2.5), and no second
    # corpus pass (the even older matched.join(matched.groupBy(...))
    # form planned the scan+explode+aggregate subtree twice).
    matched = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .select(
            "doc_id",
            F.size("__toks").alias("dl"),
            F.explode("__toks").alias("token"),
        )
        .join(F.broadcast(terms_df), "token")
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    matched = materialize(matched)
    dfreq = matched.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    with_df = matched.join(F.broadcast(dfreq), "token")
    return _rank_matched_terms_batch(
        with_df,
        qterm_rows,
        n_docs,
        avgdl,
        k1,
        b,
        k,
        query_id_col,
    )


def _rank_matched_terms_batch(
    matched: DataFrame,
    qterm_rows: list[tuple[int, str]],
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    query_id_col: str = "query_id",
) -> DataFrame:
    """Shared batch scoring tail: (doc_id, dl, token, tf, df) rows plus
    the (query_id, token) pairs -> per-query ranked (query_id, doc_id,
    score, rank). One term-score expression + one fold kernel for the
    table and store batch paths, so their floats cannot drift. The
    query fan-out happens INSIDE the fold kernel (a bool membership
    matrix over <= |vocab| x |queries|) instead of a row-multiplying
    join before the aggregation — see :func:`_fold_term_scores`."""
    scored = _fold_term_scores(
        matched.select(
            "doc_id",
            "token",
            _bm25_term_score(n_docs, avgdl, k1, b).alias("term_score"),
        ),
        qterm_rows,
        query_id_col=query_id_col,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.round(F.col("score"), 10).desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "doc_id",
            F.round(F.col("score"), 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bm25_topk_batch_store(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Batch BM25 answered FROM the persisted postings store — the
    batch twin of :func:`bm25_topk_store`, completing the store API
    (point + batch, like the vector tier's `ivfpq_topk_store` /
    `ivfpq_topk_batch` pair). Answer-identical to
    :func:`bm25_topk_batch` over the source table (shared batch
    scoring tail; sidecar df/N/sum_dl equal the corpus values by
    construction).

    Scale shape: ONE pruned scan serves the whole query set — the
    union of all query terms maps to a token_bucket literal set
    (static directory pruning), no corpus tokenization happens at
    query time, and k1/b come from the store meta."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        read_postings_corpus_stats,
        read_postings_index,
        read_term_stats,
        token_buckets_for,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qrows = queries.select(query_id_col, query_text_col).collect()
    qterm_rows = sorted(
        {
            (int(r[query_id_col]), t)
            for r in qrows
            for t in (r[query_text_col] or "").split(" ")
            if t
        }
    )
    if not qterm_rows:
        raise ValueError("no query terms in the batch")
    terms = sorted({t for _qid, t in qterm_rows})
    posts, meta = read_postings_index(spark, path)
    k1, b = float(meta["k1"]), float(meta["b"])
    n_docs, sum_dl = read_postings_corpus_stats(spark, path)
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = sum_dl / n_docs
    buckets = sorted(
        set(token_buckets_for(spark, terms, int(meta["n_token_buckets"])).values())
    )
    terms_df = spark.createDataFrame([(t,) for t in terms], "token string")
    side_df = read_term_stats(spark, path).filter(F.col("token").isin(terms))
    matched = (
        posts.filter(F.col("token_bucket").isin(buckets))
        .join(F.broadcast(terms_df), "token")
        .join(F.broadcast(side_df), "token")
        .select("doc_id", "dl", "token", "tf", "df")
    )
    return _rank_matched_terms_batch(
        matched, qterm_rows, n_docs, avgdl, k1, b, k, query_id_col
    )
