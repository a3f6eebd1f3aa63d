"""Lexical search / retrieval queries (E8): inverted index, BM25 top-k,
positional phrase search — the retrieval-side counterpart of the
embedding ANN family, registered with full DuckDB oracles.

Reference scope note: the reference app has no search engine; this
family exists for the training-data-pipeline mandate (retrieval-based
decontamination and curation sweeps need lexical search over the same
corpus the dedup/quality operators run on). Scoring follows Robertson
et al.'s BM25 (TREC-3, 1994) in the always-positive-idf form Lucene
ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_util import load, scratch_dir
from ..operators import search
from ..streaming.harness import replay
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)


# round 12: shared per-(session, fixture) term-frequency front. Five
# registered queries (inverted index, BM25 top-k, hybrid RRF's lexical
# pool, PRF expansion, index compaction) each re-ran the corpus
# tokenize+combine; the (id, tok, tf) frame and the doc-length frame
# derived from it are pure functions of the fixture, so one pinned
# materialization serves all — same memo/machinery (and the same
# shared-front ATTRIBUTION caveat) as llm_data._shared_frame.
from .llm_data import _shared_frame  # noqa: E402


def _shared_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_frame(
        spark, sf_dir, "tf",
        lambda: search.term_freqs(
            load(spark, sf_dir, "documents"), "text", "doc_id"
        ).localCheckpoint(eager=False),
    )


def _shared_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_frame(
        spark, sf_dir, "dl",
        lambda: _shared_tf(spark, sf_dir)
        .groupBy("id")
        .agg(F.sum("tf").alias("dl"))
        .localCheckpoint(eager=False),
    )


INDEX_K = 3
BM25_K = 5
# fixed query batch: (query_id, query text) — terms drawn from the
# synthetic corpus vocabulary so every query has real matches
BM25_QUERIES = [
    (1, "hash join"),
    (2, "window agg stream"),
    (3, "customer order value"),
]
PHRASE = "hash join"

# DuckDB rendering of the (query_id, term) explode — precomputed from
# the same literal so tokenization cannot diverge cross-engine
_QTERM_VALUES = ", ".join(
    f"({qid}, '{tok}')"
    for qid, tok in sorted(
        {(q, t) for q, text in BM25_QUERIES for t in text.lower().split() if t}
    )
)

# shared CTE: per-document term frequencies over whitespace tokens
_TF_CTE = """
  tf AS (
    SELECT id, tok, count(*) AS tf FROM (
      SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ) WHERE tok <> '' GROUP BY id, tok
  )
"""

# shared CTE: positional token stream, 1-based raw-array positions
# (same numbering as operators/search.doc_tokens_pos)
_POS_CTE = """
  toks AS (
    SELECT id, pos, tok FROM (
      SELECT doc_id AS id,
             unnest([{'pos': i, 'tok': t[i]}
                     for i in generate_series(1, len(t))],
                    recursive := true)
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM documents)
    ) WHERE tok <> ''
  )
"""


@_register(
    "e8_inverted_index",
    sql=f"""
    WITH {_TF_CTE},
    stats AS (
      SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY tok
    ),
    top AS (
      SELECT tok, id, tf,
             CAST(row_number() OVER (PARTITION BY tok
                                     ORDER BY tf DESC, id) AS INTEGER) AS rnk
      FROM tf
    )
    SELECT top.tok AS term, df, total_tf, rnk, id, tf
    FROM top JOIN stats USING (tok) WHERE rnk <= {INDEX_K}
    """,
)
def e8_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: inverted-index summary — per term df, corpus tf, and the
    top-3 postings by tf (mergeable partial top-k, no Window)."""
    return search.inverted_index_topk(
        load(spark, sf_dir, "documents"), "text", "doc_id", k=INDEX_K,
        tf=_shared_tf(spark, sf_dir),
    )


@_register(
    "e8_bm25_topk",
    sql=f"""
    WITH tok2 AS (
      SELECT id, tok FROM (
        SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    qterms(query_id, tok) AS (VALUES {_QTERM_VALUES}),
    matched AS (
      SELECT id, tok, count(*) AS tf
      FROM tok2 JOIN (SELECT DISTINCT tok FROM qterms) USING (tok)
      GROUP BY id, tok
    ),
    dl AS (SELECT id, count(*) AS dl FROM tok2 GROUP BY id),
    corpus AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    dfs AS (SELECT tok, count(*) AS df FROM matched GROUP BY tok),
    scored AS (
      SELECT query_id, id,
             CAST(round(sum(CAST(round(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
               (tf * (1.2 + 1.0)) /
               (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             , 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS score
      FROM matched JOIN qterms USING (tok) JOIN dl USING (id)
           CROSS JOIN corpus JOIN dfs USING (tok)
      GROUP BY query_id, id
    )
    SELECT query_id, rnk, id, score FROM (
      SELECT query_id, id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, id) AS INTEGER) AS rnk
      FROM scored
    ) WHERE rnk <= {BM25_K}
    """,
)
def e8_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: BM25 top-5 per query over a 3-query batch; query-term
    broadcast semi-join prunes the token stream before any shuffle,
    DECIMAL-summed contributions keep the score order-independent."""
    # served from the shared tf/dl front — bm25_topk_from_index is the
    # same scorer over the same matched postings (score-identical by
    # construction; the oracle is unchanged and hash-green)
    return search.bm25_topk_from_index(
        _shared_tf(spark, sf_dir), _shared_dl(spark, sf_dir),
        BM25_QUERIES, k=BM25_K,
    )


@_register(
    "e8_bm25_from_index",
    sql=None,  # assigned right below: identical to e8_bm25_topk's oracle
)
def e8_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 build/serve split: BM25 answered purely from PERSISTED index
    tables — postings (id, tok, tf) and doclen (id, dl) written to
    parquet by `search.build_lexical_index`, read back, and scored by
    the same scorer as `e8_bm25_topk` without ever touching document
    text. The oracle is literally e8_bm25_topk's SQL: a hash match
    proves index-served scoring ≡ corpus-scan scoring.

    Scale note: at 100 TB the postings table is written partitioned/
    bucketed by term, so the query-term semi-join prunes to point
    lookups; the serve-side exchange is O(query-term postings). Eager
    like the format round-trips (tempdir store removed in finally)."""
    import shutil

    docs = load(spark, sf_dir, "documents")
    tmp = scratch_dir("e8_index_")
    try:
        postings, doclen = search.build_lexical_index(docs, "text", "doc_id")
        postings.write.parquet(tmp + "/postings")
        doclen.write.parquet(tmp + "/doclen")
        out = search.bm25_topk_from_index(
            spark.read.parquet(tmp + "/postings"),
            spark.read.parquet(tmp + "/doclen"),
            BM25_QUERIES,
            k=BM25_K,
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# index-served scoring must hash-match the corpus-scan oracle verbatim
ORACLE["e8_bm25_from_index"] = ORACLE["e8_bm25_topk"]


@_register(
    "e8_index_compaction",
    # full oracle: the compacted-and-folded index must equal the
    # from-scratch index stats of every document (same SQL as
    # e8_stream_index_update). The Spark side inner-joins the
    # post-compaction fold to the PRE-compaction fold (pinned before
    # the swap) and to the batch twin on all columns, so a compaction
    # defect (lost delta file, double fold, torn swap) shrinks the
    # result and flips the hash.
    sql="""
    WITH tf AS (
      SELECT id, tok, count(*) AS tf FROM (
        SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY id, tok
    )
    SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
    FROM tf GROUP BY tok
    """,
)
def e8_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8/LSM maintenance (round 9, VERDICT r8 #4): compaction of the
    streaming maintainers' append-only delta log. Six micro-batch
    generations of per-term (df_delta, tf_delta) deltas accumulate as
    six parquet segments — the small-files growth every foreachBatch
    maintainer exhibits — then operators/maintenance.compact_delta_log
    folds them into ONE base generation (sum per term, atomic swap).
    The query serves the index from the compacted log and proves
    row-identity three ways: inner-join to the pre-compaction fold
    (eagerly pinned before the swap), to the from-scratch batch twin,
    and the DuckDB oracle hash. File-count bound and idempotence are
    pinned in tests/test_maintenance.py."""
    from ..operators import maintenance

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # the delta-log generations of a stream maintainer, without the
    # stream: same scratch, state-store count and cleanup as a replay
    with replay(spark, "index_compact_") as rp:
        deltas_dir = rp.path("deltas")
        # round 12 (guide §2.3/§4): ONE corpus tokenize feeds the six
        # delta generations AND the batch twin — the loop form re-ran
        # term_freqs (the mapInPandas Arrow pass) 6+1 times over
        # disjoint/whole slices of the same corpus. The per-generation
        # aggregate over gen = doc_id % 6 is value-identical to the six
        # per-subset aggregates; one partitionBy("gen") write lays the
        # same six segments down in one job (range-partitioned so each
        # generation is one file, the same one-file-per-micro-batch
        # layout the loop produced).
        tf_all = _shared_tf(spark, sf_dir)
        (
            tf_all.groupBy((F.col("id") % 6).alias("gen"), "tok")
            .agg(
                F.count(F.lit(1)).alias("df_delta"),
                F.sum("tf").alias("tf_delta"),
            )
            .repartitionByRange(6, "gen")
            .write.partitionBy("gen")
            .mode("append")
            .parquet(deltas_dir)
        )

        def fold(d):
            return (
                spark.read.parquet(d)
                .groupBy("tok")
                .agg(
                    F.sum("df_delta").alias("df"),
                    F.sum("tf_delta").alias("total_tf"),
                )
                .select(F.col("tok").alias("term"), "df", "total_tf")
            )

        pre = fold(deltas_dir).localCheckpoint()  # pinned BEFORE the swap
        maintenance.compact_delta_log(
            spark, deltas_dir, ["tok"], ["df_delta", "tf_delta"]
        )
        post = fold(deltas_dir)
        twin = (
            tf_all.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf"))
            .select(F.col("tok").alias("term"), "df", "total_tf")
        )
        out = post.join(pre, ["term", "df", "total_tf"], "inner").join(
            twin, ["term", "df", "total_tf"], "inner"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@_register(
    "e8_stream_index_update",
    # full oracle: after the stream drains, the LSM-merged index must
    # equal the from-scratch index of every document — the same stats
    # SQL as e8_inverted_index's CTE. The Spark side INNER-JOINS the
    # merged index to an independently batch-computed twin first, so a
    # stream defect (dropped batch, double-counted redelivery) shrinks
    # the result below the oracle and the driver flags it red.
    sql="""
    WITH tf AS (
      SELECT id, tok, count(*) AS tf FROM (
        SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY id, tok
    )
    SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
    FROM tf GROUP BY tok
    """,
)
def e8_stream_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 streaming twin: incremental inverted-index maintenance. The
    document stream is ingested in micro-batches via foreachBatch; each
    batch (1) anti-joins the persisted seen-ids set so a REDELIVERY
    (planted: delivery 0's docs ride again inside delivery 2) is
    dropped idempotently, (2) appends per-term (df_delta, tf_delta)
    rows to an append-only delta log — the LSM pattern: writers never
    rewrite, the serving read folds deltas with one partial-aggregable
    SUM. After the drain, the folded index is inner-joined to the
    from-scratch batch twin on ALL of (term, df, total_tf) and checked
    against the same-stats DuckDB oracle.

    Scale note: per-batch cost is one token-explode over the BATCH plus
    an O(batch-terms) append — the corpus is never rescanned; the
    seen-ids anti-join is O(index ids) here and a bloom/metadata probe
    at 100 TB (same stance as e2_stream_incremental_neardup). Delta
    compaction is x_compact_small_files composed over the delta dir.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with replay(spark, "stream_index_") as rp:
        deltas_dir, seen_dir = rp.path("deltas"), rp.path("seen")
        spark.createDataFrame([], "doc_id long").write.parquet(seen_dir)
        spark.createDataFrame(
            [], "tok string, df_delta long, tf_delta long"
        ).write.parquet(deltas_dir)

        d0, d1, d2 = (docs.filter(F.col("doc_id") % 3 == j) for j in range(3))
        rp.deliver([d0, d1, d2.unionByName(d0)])  # planted cross-batch redelivery

        def ingest(bdf, _eid: int) -> None:
            from ..operators import maintenance

            seen = spark.read.parquet(seen_dir)
            fresh = bdf.join(seen, "doc_id", "left_anti").localCheckpoint()
            delta = (
                search.term_freqs(fresh, "text", "doc_id")
                .groupBy("tok")
                .agg(
                    F.count(F.lit(1)).alias("df_delta"),
                    F.sum("tf").alias("tf_delta"),
                )
            )
            delta.write.mode("append").parquet(deltas_dir)
            fresh.select("doc_id").write.mode("append").parquet(seen_dir)
            # in-loop LSM compaction (round 9): the maintainer itself
            # bounds its delta-log generations — once the log exceeds
            # two live segments it folds to one base (value-identical
            # serve, see compact_delta_log). Sequential with the
            # appends (foreachBatch runs batches one at a time), so
            # the atomic swap never races an in-flight append.
            if maintenance.dir_stats(deltas_dir)[0] > 2:
                maintenance.compact_delta_log(
                    spark, deltas_dir, ["tok"], ["df_delta", "tf_delta"]
                )
            if maintenance.dir_stats(seen_dir)[0] > 2:
                maintenance.compact_delta_log(spark, seen_dir, ["doc_id"], [])

        rp.drain(rp.source("doc_id long, text string").writeStream.foreachBatch(ingest))

        merged = (
            spark.read.parquet(deltas_dir)
            .groupBy("tok")
            .agg(
                F.sum("df_delta").alias("df"),
                F.sum("tf_delta").alias("total_tf"),
            )
            .select(F.col("tok").alias("term"), "df", "total_tf")
        )
        twin = (
            search.term_freqs(docs, "text", "doc_id")
            .groupBy("tok")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.sum("tf").alias("total_tf"),
            )
            .select(F.col("tok").alias("term"), "df", "total_tf")
        )
        out = merged.join(twin, ["term", "df", "total_tf"], "inner")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@_register(
    "e8_phrase_search",
    sql=f"""
    WITH {_POS_CTE},
    t0 AS (SELECT id, pos FROM toks WHERE tok = '{PHRASE.split()[0]}'),
    t1 AS (SELECT id, pos FROM toks WHERE tok = '{PHRASE.split()[1]}')
    SELECT t0.id AS id, count(*) AS n_occurrences,
           CAST(min(t0.pos) AS INTEGER) AS first_pos
    FROM t0 JOIN t1 ON t0.id = t1.id AND t1.pos = t0.pos + 1
    GROUP BY t0.id
    """,
)
def e8_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: exact phrase search ('hash join') via positional-posting
    intersection — per-word scan filters, (id, offset) equi-joins."""
    return search.phrase_search(
        load(spark, sf_dir, "documents"), "text", "doc_id", PHRASE
    )


RRF_POOL = 20  # per-system candidate pool
RRF_K0 = 60  # rank constant from Cormack/Clarke/Buettcher (SIGIR 2009)
FUSE_K = 5
_Q_IDS = ", ".join(str(q) for q, _ in BM25_QUERIES)


@_register(
    "e8_hybrid_rrf",
    sql=None,  # assigned below (needs llm_data's _COS macro)
)
def e8_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: HYBRID retrieval — BM25 lexical top-20 and brute-force
    cosine top-20 fused by Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher, SIGIR 2009): score(d) = Σ_systems 1/(60 + rank_s(d)).
    Contributions are integer micro-units (1000000 DIV (60+rnk)) so the
    fused ordering is EXACT cross-engine — no float summation to
    disagree on. Each system's pool comes from its own scale path (the
    query-term-pruned BM25 exchange, the broadcast-query partial
    top-k); the fusion itself joins two 60-row pools and re-ranks via
    the same mergeable partial top-k — nothing in the fuse step scales
    with the corpus. Query embeddings are the vectors whose vec_id
    matches the BM25 query id (doc_id ≡ vec_id alignment of the
    fixture tables)."""
    from ..operators import similarity

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = search.bm25_topk_from_index(
        _shared_tf(spark, sf_dir), _shared_dl(spark, sf_dir),
        BM25_QUERIES, k=RRF_POOL,
    ).select("query_id", "id", F.col("rnk").alias("rnk_lex"))
    qv = emb.filter(F.col("vec_id").isin([q for q, _ in BM25_QUERIES]))
    sem = similarity.brute_force_topk(qv, emb, k=RRF_POOL).select(
        "query_id",
        F.col("neighbor_id").alias("id"),
        F.col("rnk").alias("rnk_sem"),
    )
    fused = lex.join(sem, ["query_id", "id"], "full_outer").select(
        "query_id",
        "id",
        (
            F.coalesce(
                F.expr(f"{1_000_000} DIV ({RRF_K0} + rnk_lex)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{1_000_000} DIV ({RRF_K0} + rnk_sem)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    return similarity.grouped_topk(
        fused, FUSE_K, "rrf_micro", ascending=False, id_col="id"
    ).select("query_id", "rnk", "id", "rrf_micro")


from .llm_data import _COS as _COS_SQL  # noqa: E402  (shared cosine macro)

ORACLE["e8_hybrid_rrf"] = f"""
    WITH tok2 AS (
      SELECT id, tok FROM (
        SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    qterms(query_id, tok) AS (VALUES {_QTERM_VALUES}),
    matched AS (
      SELECT id, tok, count(*) AS tf
      FROM tok2 JOIN (SELECT DISTINCT tok FROM qterms) USING (tok)
      GROUP BY id, tok
    ),
    dl AS (SELECT id, count(*) AS dl FROM tok2 GROUP BY id),
    corpus AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    dfs AS (SELECT tok, count(*) AS df FROM matched GROUP BY tok),
    scored AS (
      SELECT query_id, id,
             CAST(round(sum(CAST(round(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
               (tf * (1.2 + 1.0)) /
               (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             , 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS score
      FROM matched JOIN qterms USING (tok) JOIN dl USING (id)
           CROSS JOIN corpus JOIN dfs USING (tok)
      GROUP BY query_id, id
    ),
    lex AS (
      SELECT query_id, id, rnk FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, id) AS rnk
        FROM scored
      ) WHERE rnk <= {RRF_POOL}
    ),
    q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id IN ({_Q_IDS})
    ),
    c AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ),
    sem AS (
      SELECT query_id, id, rnk FROM (
        SELECT query_id, neighbor_id AS id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {_COS_SQL} DESC, neighbor_id) AS rnk
        FROM c, q WHERE query_id <> neighbor_id
      ) WHERE rnk <= {RRF_POOL}
    ),
    fused AS (
      SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
             coalesce(lex.id, sem.id) AS id,
             coalesce({1_000_000} // ({RRF_K0} + lex.rnk), 0) +
             coalesce({1_000_000} // ({RRF_K0} + sem.rnk), 0) AS rrf_micro
      FROM lex FULL JOIN sem
        ON lex.query_id = sem.query_id AND lex.id = sem.id
    )
    SELECT query_id, CAST(rnk AS INTEGER) AS rnk, id,
           CAST(rrf_micro AS BIGINT) AS rrf_micro
    FROM (
      SELECT query_id, id, rrf_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_micro DESC, id) AS rnk
      FROM fused
    ) WHERE rnk <= {FUSE_K}
    """


RAG_POOL = 10  # fused candidates fed to MMR
RAG_K = 5  # diversified contexts per query
RAG_BUDGET = 256  # context-window token budget


@_register("e8_rag_context_pack")  # sql assigned below (_rag_oracle_sql)
def e8_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 capstone: end-to-end RAG context assembly — the full
    retrieval-side data-prep chain composed from already-verified
    parts: hybrid BM25+cosine pools fused by integer RRF
    (e8_hybrid_rrf's exact shape, pool widened to {RAG_POOL}), MMR
    diversification over the fused pool (operators/similarity.
    mmr_select with relevance = normalized RRF score), then context
    packing: selected chunks keep their MMR order and accumulate
    whitespace-token costs until the {RAG_BUDGET}-token budget closes
    (the first context always ships). Output one row per packed
    context: (query_id, position, doc_id, n_tokens, cum_tokens).

    FULL value oracle since round 10 (_rag_oracle_sql): the MMR
    relevance is the RRF score half-up-rounded onto the exact 1e-4
    grid (functions/rounding.ratio_round — the old float division
    could land sim*1e4 ON a half and np.rint/SQL round() disagree),
    so every greedy pick unrolls as the same chained MATERIALIZED
    CTEs that cracked e3_mmr_rerank in round 8, followed by the
    budget-packing window. Every position, pick, token count, and
    running total hash-matches.

    Scale shape: every stage is the bounded-output form — query-term-
    pruned BM25 exchange, broadcast-query partial top-k, a {RAG_POOL}-
    row-per-query fuse and MMR group, and a window over the <= {RAG_K}
    selected rows per query (bounded by construction, never corpus-
    keyed). Budget/order invariants additionally pinned in
    tests/test_search.py."""
    from pyspark.sql.window import Window as W

    from ..operators import similarity

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = search.bm25_topk(
        docs, "text", "doc_id", BM25_QUERIES, k=RAG_POOL
    ).select("query_id", "id", F.col("rnk").alias("rnk_lex"))
    qv = emb.filter(F.col("vec_id").isin([q for q, _ in BM25_QUERIES]))
    sem = similarity.brute_force_topk(qv, emb, k=RAG_POOL).select(
        "query_id",
        F.col("neighbor_id").alias("id"),
        F.col("rnk").alias("rnk_sem"),
    )
    fused = lex.join(sem, ["query_id", "id"], "full_outer").select(
        "query_id",
        "id",
        (
            F.coalesce(F.expr(f"{1_000_000} DIV ({RRF_K0} + rnk_lex)"), F.lit(0))
            + F.coalesce(F.expr(f"{1_000_000} DIV ({RRF_K0} + rnk_sem)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    pool = similarity.grouped_topk(
        fused, RAG_POOL, "rrf_micro", ascending=False, id_col="id"
    )
    # relevance for MMR: RRF normalized to [0, 1] (max possible is two
    # rank-1 contributions: rrf_micro / (2e6/(K0+1))), half-up-rounded
    # onto the exact 1e-4 grid IN INTEGERS (ratio_round) so the MMR
    # kernel's rint(sim*1e4) lift recovers the same integer in every
    # engine — a raw float division can land sim*1e4 exactly ON a half
    from ..functions.rounding import ratio_round

    withvec = pool.join(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("n_vec")),
        "id",
    ).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        ratio_round(
            F.col("rrf_micro") * (RRF_K0 + 1), F.lit(2_000_000), 4
        ).alias("sim"),
        "n_vec",
    )
    picked = similarity.mmr_select(withvec, k=RAG_K, lam=0.7)
    toks = docs.select(
        F.col("doc_id").alias("neighbor_id"),
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_tokens"),
    )
    # bounded window: <= RAG_K rows per query by construction
    w = (
        W.partitionBy("query_id")
        .orderBy("position")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    packed = (
        picked.join(toks, "neighbor_id")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter((F.col("cum_tokens") <= RAG_BUDGET) | (F.col("position") == 1))
        .select(
            "query_id",
            "position",
            F.col("neighbor_id").alias("doc_id"),
            "n_tokens",
            "cum_tokens",
        )
        .orderBy("query_id", "position")
    )
    return packed


def _rag_oracle_sql() -> str:
    """DuckDB replay of the FULL RAG assembly chain (round-10 upgrade
    from rows-only): BM25 top-{RAG_POOL} + cosine top-{RAG_POOL}
    (the e8_hybrid_rrf encodings, pool widened), integer RRF fuse,
    the greedy MMR unroll shared with e3_mmr_rerank
    (plans/mining.mmr_chain_sql — relevance is the RRF score lifted
    to the exact 1e-4 integer grid by ratio_round's
    (2*num*p + den) // (2*den) form), then the budget-packing
    running-sum window. Integer outputs end to end, so the hash oracle
    covers every pick, position, and token total."""
    from .mining import mmr_chain_sql

    kq = f"(rrf_micro * {(RRF_K0 + 1) * 20000} + 2000000) // 4000000"
    finals = "\n      UNION ALL ".join(
        f"SELECT query_id, CAST({t} AS INT) AS position, neighbor_id FROM sel{t}"
        for t in range(1, RAG_K + 1)
    )
    return f"""
    WITH tok2 AS (
      SELECT id, tok FROM (
        SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    qterms(query_id, tok) AS (VALUES {_QTERM_VALUES}),
    matched AS (
      SELECT id, tok, count(*) AS tf
      FROM tok2 JOIN (SELECT DISTINCT tok FROM qterms) USING (tok)
      GROUP BY id, tok
    ),
    dl AS (SELECT id, count(*) AS dl FROM tok2 GROUP BY id),
    corpus AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    dfs AS (SELECT tok, count(*) AS df FROM matched GROUP BY tok),
    scored AS ({_bm25_scored_sql("matched", "qterms", "dfs")}),
    lex AS (
      SELECT query_id, id, rnk FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, id) AS rnk
        FROM scored
      ) WHERE rnk <= {RAG_POOL}
    ),
    q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id IN ({_Q_IDS})
    ),
    c AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ),
    sem AS (
      SELECT query_id, id, rnk FROM (
        SELECT query_id, neighbor_id AS id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {_COS_SQL} DESC, neighbor_id) AS rnk
        FROM c, q WHERE query_id <> neighbor_id
      ) WHERE rnk <= {RAG_POOL}
    ),
    fused AS (
      SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
             coalesce(lex.id, sem.id) AS id,
             coalesce({1_000_000} // ({RRF_K0} + lex.rnk), 0) +
             coalesce({1_000_000} // ({RRF_K0} + sem.rnk), 0) AS rrf_micro
      FROM lex FULL JOIN sem
        ON lex.query_id = sem.query_id AND lex.id = sem.id
    ),
    pool AS MATERIALIZED (
      SELECT query_id, id, rrf_micro FROM (
        SELECT query_id, id, rrf_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf_micro DESC, id) AS rnk
        FROM fused
      ) WHERE rnk <= {RAG_POOL}
    ),
    pv AS MATERIALIZED (
      SELECT pool.query_id, c.neighbor_id,
             list_transform(c.cv, x -> x /
               (CASE WHEN sqrt(list_dot_product(c.cv, c.cv)) = 0
                     THEN 1.0e0
                     ELSE sqrt(list_dot_product(c.cv, c.cv)) END)) AS u,
             {kq} AS k
      FROM pool JOIN c ON c.neighbor_id = pool.id
    ),
    ps AS MATERIALIZED (
      SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
             CAST(round(round(list_dot_product(a.u, b.u), 6) * 1000000) AS BIGINT) AS p
      FROM pv a JOIN pv b USING (query_id)
    ),
    pk AS MATERIALIZED (SELECT query_id, neighbor_id, k FROM pv){mmr_chain_sql(RAG_K, 0.7)},
    picked AS (
      {finals}
    ),
    ntoks AS (
      SELECT doc_id AS neighbor_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT CAST(picked.query_id AS BIGINT) AS query_id, position,
             CAST(neighbor_id AS BIGINT) AS doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY picked.query_id ORDER BY position
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM picked JOIN ntoks USING (neighbor_id)
    )
    SELECT query_id, position, doc_id, n_tokens, cum_tokens
    FROM packed
    WHERE cum_tokens <= {RAG_BUDGET} OR position = 1
    ORDER BY query_id, position
    """


PRF_FB_K = 3   # feedback depth: top-3 first-pass docs feed expansion
PRF_EXP_K = 2  # expansion width: top-2 new terms per query

# the BM25 scoring block, shared verbatim by both PRF stages (and
# identical to e8_bm25_topk's oracle formula)
def _bm25_scored_sql(matched: str, qterms: str, dfs: str) -> str:
    return f"""
      SELECT query_id, id,
             CAST(round(sum(CAST(round(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
               (tf * (1.2 + 1.0)) /
               (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             , 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS score
      FROM {matched} JOIN {qterms} USING (tok) JOIN dl USING (id)
           CROSS JOIN corpus JOIN {dfs} USING (tok)
      GROUP BY query_id, id
    """


ORACLE["e8_rag_context_pack"] = _rag_oracle_sql()


@_register(
    "e8_prf_expansion",
    sql=f"""
    WITH tok2 AS (
      SELECT id, tok FROM (
        SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    qterms(query_id, tok) AS (VALUES {_QTERM_VALUES}),
    matched AS (
      SELECT id, tok, count(*) AS tf
      FROM tok2 SEMI JOIN (SELECT DISTINCT tok FROM qterms) USING (tok)
      GROUP BY id, tok
    ),
    dl AS (SELECT id, count(*) AS dl FROM tok2 GROUP BY id),
    corpus AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    dfs AS (SELECT tok, count(*) AS df FROM matched GROUP BY tok),
    scored1 AS ({_bm25_scored_sql("matched", "qterms", "dfs")}),
    fb AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, id) AS rnk
        FROM scored1
      ) WHERE rnk <= {PRF_FB_K}
    ),
    tf_all AS (
      SELECT id, tok, count(*) AS tf FROM tok2 GROUP BY id, tok
    ),
    fbtf AS (
      SELECT f.query_id, t.tok, CAST(sum(t.tf) AS BIGINT) AS fbtf
      FROM fb f
      JOIN tf_all t ON f.id = t.id
      ANTI JOIN qterms q ON q.query_id = f.query_id AND q.tok = t.tok
      GROUP BY 1, 2
    ),
    expanded AS (
      SELECT query_id, tok FROM (
        SELECT query_id, tok,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY fbtf DESC, tok) AS er
        FROM fbtf
      ) WHERE er <= {PRF_EXP_K}
    ),
    q2 AS (
      SELECT query_id, tok FROM qterms
      UNION
      SELECT query_id, tok FROM expanded
    ),
    matched2 AS (
      SELECT id, tok, count(*) AS tf
      FROM tok2 SEMI JOIN (SELECT DISTINCT tok FROM q2) USING (tok)
      GROUP BY id, tok
    ),
    dfs2 AS (SELECT tok, count(*) AS df FROM matched2 GROUP BY tok),
    scored2 AS ({_bm25_scored_sql("matched2", "q2", "dfs2")})
    SELECT query_id, rnk, id, score FROM (
      SELECT query_id, id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, id) AS INTEGER) AS rnk
      FROM scored2
    ) WHERE rnk <= {BM25_K}
    """,
)
def e8_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: pseudo-relevance-feedback query expansion (the RM3-lite /
    Rocchio shape, Lavrenko & Croft 2001): run BM25, take the top-3
    feedback documents per query, harvest the 2 heaviest non-query
    terms from them, re-run BM25 with the expanded term set — the
    recall-widening second pass every retrieval-based curation sweep
    (and decontamination audit) runs when exact query terms undersample
    the corpus.

    The expanded term set is DATA-DEPENDENT — the public operator form
    is search.bm25_topk_terms (BM25 with a term FRAME instead of
    literal query strings; tests/test_search.py pins this plan's stage
    2 row-identical to it). The plan INLINES those semantics over the
    one checkpointed tokenize rather than calling the operator, which
    would re-explode the corpus; both share _bm25_score and the
    DECIMAL-summed
    contribution discipline, so the oracle replays the whole chain —
    first-pass ranks, feedback-term harvest (ties to the lexicographic
    token), expanded re-score — and hash-matches ranks AND scores.

    Scale shape: stage 1 is e8_bm25_topk's plan; the harvest joins the
    (3 queries x 3 docs) feedback frame to per-doc term frequencies
    (broadcast the tiny side); stage 2 re-prunes the token stream with
    the still-tiny expanded term set. Nothing corpus-sized shuffles
    twice."""
    docs = load(spark, sf_dir, "documents")
    # ONE corpus tokenize+combine feeds both passes, the doc lengths,
    # and the feedback harvest (lazily localCheckpoint-ed so the five
    # consumers share the materialization instead of re-exploding)
    tf_all = _shared_tf(spark, sf_dir)
    dl = _shared_dl(spark, sf_dir)
    qterms = search._query_terms(spark, BM25_QUERIES)
    matched1 = tf_all.join(F.broadcast(qterms.select("tok").distinct()), "tok")
    fb = search._bm25_score(matched1, dl, qterms, k=PRF_FB_K)
    # round 13 (VERDICT r12 #8, guide §3.1): the feedback frame is
    # <= n_queries x PRF_FB_K rows at ANY corpus size (a query-batch
    # bound, not a corpus bound) — broadcast it so the harvest is a
    # BroadcastHashJoin probing the postings in place. Without the hint
    # the planner saw two unknown-size sides and sort-merge-joined,
    # shuffling the ENTIRE postings table by id to meet 9 rows.
    fbtf = (
        tf_all.join(F.broadcast(fb.select("query_id", "id")), "id")
        .join(F.broadcast(qterms), ["query_id", "tok"], "left_anti")
        .groupBy("query_id", "tok")
        .agg(F.sum("tf").alias("fbtf"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("fbtf"), F.asc("tok"))
    expanded = (
        fbtf.withColumn("er", F.row_number().over(w))
        .filter(F.col("er") <= PRF_EXP_K)
        .select("query_id", "tok")
    )
    # freeze the CORPUS-INDEPENDENT expansion frame (<= n_queries *
    # PRF_EXP_K rows) so stage 2's broadcasts don't re-evaluate the
    # whole stage-1 lineage — the bounded-frame pin idiom of
    # e8_bm25_from_index
    expanded = spark.createDataFrame(expanded.collect(), expanded.schema)
    q2 = qterms.unionByName(expanded).distinct()
    matched2 = tf_all.join(F.broadcast(q2.select("tok").distinct()), "tok")
    return search._bm25_score(matched2, dl, q2, k=BM25_K)
