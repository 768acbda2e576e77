"""Round-4 extension pack: lexical retrieval (BM25, vocabulary) and
sequence packing — the non-embedding search stack plus the final
"cut the corpus into context windows" step of a pretraining pipeline.
Every query here is hash-exact against its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aoseventstreamer_spark.operators import lexical as LX
from aoseventstreamer_spark.operators import lm as LM
from aoseventstreamer_spark.operators import packing as PK
from aoseventstreamer_spark.queries import query, t

_BM25_TERMS = ["data", "model", "training"]


def _pretoken_oracle() -> str:
    from aoseventstreamer_spark.operators.text import PRETOKEN_PATTERN

    pat = PRETOKEN_PATTERN.replace("'", "''")
    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)
             AS n_pretokens
    FROM documents
    """


@query("q_pretoken_count", oracle=_pretoken_oracle())
def q_pretoken_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style pre-token piece counts (operators/text.pretokenize)
    — the structural lower bound on true BPE token counts, replacing
    chars/4 where fidelity matters. Java regex and RE2 agree on the
    lookahead-free pattern (verified incl. unicode)."""
    from aoseventstreamer_spark.operators.text import pretoken_count

    return t(spark, sf_dir, "documents").select(
        "doc_id", pretoken_count("text").alias("n_pretokens")
    )


@query(
    "q_bm25_scores",
    oracle=LX.bm25_oracle_sql(_BM25_TERMS),
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 of every document against a fixed query bag — lexical
    dataset search. Per-term contributions sum in integer micro-units
    so the score is bitwise order-independent (operators/lexical.py)."""
    return LX.bm25_scores(t(spark, sf_dir, "documents"), _BM25_TERMS)


@query(
    "q_bm25_persisted",
    oracle=LX.bm25_oracle_sql(_BM25_TERMS),
    stateful=True,
)
def q_bm25_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bm25_scores answered from a PERSISTED inverted index: the
    postings (doc, token, tf) and doc-length tables live as
    version-pinned tablelog tables (operators/lexical.py
    build_lexical_index) — query time filters the stored postings by
    the term bag instead of re-tokenizing the corpus. Same oracle as
    the per-call path (shared _bm25_score ⇒ hash-identical); a stale
    pin refuses (StaleLexicalIndexError)."""
    import hashlib
    import os
    import tempfile

    docs_path = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(docs_path)
    corpus_version = (st.st_size << 20) ^ (st.st_mtime_ns & ((1 << 20) - 1))
    ident = os.path.abspath(docs_path)
    cache = os.path.join(
        tempfile.gettempdir(),
        f"aos_lex_idx_{hashlib.md5(ident.encode()).hexdigest()[:12]}",
    )
    kw = dict(corpus_ident=ident, corpus_version=corpus_version)
    try:
        return LX.bm25_from_index(spark, cache, _BM25_TERMS, **kw)
    except LX.StaleLexicalIndexError:
        LX.build_lexical_index(
            spark, t(spark, sf_dir, "documents"), cache, **kw
        )
        return LX.bm25_from_index(spark, cache, _BM25_TERMS, **kw)


def _hybrid_rrf_oracle() -> str:
    """RRF of the BM25 leg (the existing oracle, nested) and an
    integer-dot semantic leg (quantized embeddings vs vec 0) —
    rank-truncate each leg to 100, fuse with exact integer
    reciprocals, top-20."""
    bm = LX.bm25_oracle_sql(_BM25_TERMS)
    return f"""
    WITH bm_all AS (SELECT * FROM ({bm}) t),
    bm AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      FROM bm_all QUALIFY r <= 100
    ),
    qe AS (SELECT list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
           FROM embeddings WHERE vec_id = 0),
    sem_all AS (
      SELECT e.vec_id AS doc_id,
             CAST(list_dot_product(
               list_transform(e.embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT)),
               qe.qv) AS BIGINT) AS dot
      FROM embeddings e, qe WHERE e.vec_id <> 0
    ),
    sem AS (
      SELECT doc_id, row_number() OVER (ORDER BY dot DESC, doc_id) AS r
      FROM sem_all QUALIFY r <= 100
    ),
    legs AS (
      SELECT doc_id, 1000000000000 // (60 + r) AS rrf FROM bm
      UNION ALL
      SELECT doc_id, 1000000000000 // (60 + r) AS rrf FROM sem
    )
    SELECT doc_id, CAST(SUM(rrf) AS BIGINT) AS rrf_u,
           CAST(COUNT(*) AS BIGINT) AS n_legs
    FROM legs GROUP BY doc_id
    ORDER BY rrf_u DESC, doc_id
    LIMIT 20
    """


@query("q_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion of the lexical (BM25)
    and semantic (integer-dot, quantized embeddings vs vec 0) legs —
    the documents and embeddings tables share one id space, so this
    is the search stack's merge step over its two persisted indexes
    (operators/fusion.py). Exact integer reciprocals + explicit id
    tie-breaks make the fused top-20 hash-exact cross-engine."""
    from aoseventstreamer_spark.operators import fusion as FU
    from aoseventstreamer_spark.operators.similarity import (
        int_dot,
        quantize_vec,
    )

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    bm = LX.bm25_scores(docs, _BM25_TERMS)
    q = emb.filter(F.col("vec_id") == 0).select(
        quantize_vec("embedding").alias("qv")
    )
    sem = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            int_dot(quantize_vec("embedding"), F.col("qv")).alias("dot"),
        )
    )
    return FU.rrf_fuse(
        [
            (bm, [F.desc("score"), F.asc("doc_id")]),
            (sem, [F.desc("dot"), F.asc("doc_id")]),
        ]
    )


def _fingerprint(p: str) -> int:
    import os

    st = os.stat(p)
    return (st.st_size << 20) ^ (st.st_mtime_ns & ((1 << 20) - 1))


def _pinned_bm25_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 leg served from the persisted inverted index
    (build-on-miss, version-pinned — shared by q_bm25_persisted and
    the hybrid serving queries)."""
    import hashlib
    import os
    import tempfile

    docs_path = os.path.join(sf_dir, "documents.parquet")
    lex_ident = os.path.abspath(docs_path)
    lex_cache = os.path.join(
        tempfile.gettempdir(),
        f"aos_lex_idx_{hashlib.md5(lex_ident.encode()).hexdigest()[:12]}",
    )
    kw = dict(corpus_ident=lex_ident, corpus_version=_fingerprint(docs_path))
    try:
        return LX.bm25_from_index(spark, lex_cache, _BM25_TERMS, **kw)
    except LX.StaleLexicalIndexError:
        LX.build_lexical_index(
            spark, t(spark, sf_dir, "documents"), lex_cache, **kw
        )
        return LX.bm25_from_index(spark, lex_cache, _BM25_TERMS, **kw)


def _pinned_ivf_index(spark: SparkSession, sf_dir: str):
    """(index_path, corpus_ident, corpus_version) of the build-on-miss
    version-pinned IVF index over the embeddings table."""
    import hashlib
    import os
    import tempfile

    from aoseventstreamer_spark.operators import ann_index as AI
    from aoseventstreamer_spark.tablelog import TableLog

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    ann_v = _fingerprint(emb_path)
    ann_ident = os.path.abspath(emb_path)
    ann_cache = os.path.join(
        tempfile.gettempdir(),
        f"aos_ivf_idx_{hashlib.md5(ann_ident.encode()).hexdigest()[:12]}",
    )
    app = AI._ivf_app_id(ann_ident, 8, 2, 64)
    at = TableLog(spark, f"{ann_cache}/assignments")
    pinned = at.last_txn_version(app) if at.latest_version() > 0 else -1
    if pinned != ann_v:
        AI.build_ivf_index(
            spark,
            t(spark, sf_dir, "embeddings"),
            ann_cache,
            corpus_ident=ann_ident,
            corpus_version=ann_v,
        )
    return ann_cache, ann_ident, ann_v


@query("q_hybrid_rrf_persisted", oracle=_hybrid_rrf_oracle(), stateful=True)
def q_hybrid_rrf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_hybrid_rrf served ENTIRELY from persisted indexes: the BM25
    leg reads the pinned postings/doclen tables (bm25_from_index) and
    the semantic leg reads the quantized vectors STORED in the pinned
    IVF assignments table (no corpus re-quantize). Same oracle as
    q_hybrid_rrf: stored qv ≡ quantize_vec(embedding) and the shared
    scorer/fuser make the paths hash-identical. NOTE this variant
    still exhaustively dot-products every stored vector (exact
    semantic leg); the nprobe-bounded serving shape — the plan you'd
    actually run at 100 TB — is q_hybrid_rrf_ann below."""
    from aoseventstreamer_spark.operators import fusion as FU
    from aoseventstreamer_spark.operators.similarity import int_dot
    from aoseventstreamer_spark.tablelog import TableLog

    bm = _pinned_bm25_leg(spark, sf_dir)

    # semantic leg from the persisted IVF assignments' stored qv
    ann_cache, _, _ = _pinned_ivf_index(spark, sf_dir)
    at = TableLog(spark, f"{ann_cache}/assignments")
    stored = at.read().select("cand_id", "qv")
    q = stored.filter(F.col("cand_id") == 0).select(
        F.col("qv").alias("query_qv")
    )
    sem = (
        stored.filter(F.col("cand_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("cand_id").alias("doc_id"),
            int_dot(F.col("qv"), F.col("query_qv")).alias("dot"),
        )
    )
    return FU.rrf_fuse(
        [
            (bm, [F.desc("score"), F.asc("doc_id")]),
            (sem, [F.desc("dot"), F.asc("doc_id")]),
        ]
    )


def _hybrid_rrf_ann_oracle() -> str:
    """RRF of the BM25 leg and the nprobe-BOUNDED IVF semantic leg:
    the semantic candidates are only the vectors assigned to the
    query's 2 nearest (of 8) coarse clusters — the DuckDB side replays
    the full portable-IVF pipeline (same md5 seeding, Lloyd rounds,
    probe tie rules), so the approximation itself is hash-checked, not
    just the fusion."""
    from aoseventstreamer_spark.operators.similarity import (
        portable_ivf_oracle_sql,
    )

    bm = LX.bm25_oracle_sql(_BM25_TERMS)
    ivf = portable_ivf_oracle_sql(query_pred="vec_id = 0")
    return f"""
    WITH bm_all AS (SELECT * FROM ({bm}) t),
    bm AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      FROM bm_all QUALIFY r <= 100
    ),
    ivf AS (SELECT * FROM ({ivf}) t),
    sem AS (
      SELECT doc_id, row_number() OVER (ORDER BY dot DESC, doc_id) AS r
      FROM (SELECT cand_id AS doc_id, dot_scaled AS dot FROM ivf)
      QUALIFY r <= 100
    ),
    legs AS (
      SELECT doc_id, 1000000000000 // (60 + r) AS rrf FROM bm
      UNION ALL
      SELECT doc_id, 1000000000000 // (60 + r) AS rrf FROM sem
    )
    SELECT doc_id, CAST(SUM(rrf) AS BIGINT) AS rrf_u,
           CAST(COUNT(*) AS BIGINT) AS n_legs
    FROM legs GROUP BY doc_id
    ORDER BY rrf_u DESC, doc_id
    LIMIT 20
    """


@query("q_hybrid_rrf_ann", oracle=_hybrid_rrf_ann_oracle(), stateful=True)
def q_hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual 100 TB hybrid-serving shape (VERDICT r10 item 3):
    BM25 from the pinned inverted index fused with a semantic leg
    served from the persisted IVF index PROBE
    (operators/ann_index.query_ivf_index, nprobe=2 of 8 clusters) —
    the semantic leg dot-products only the candidates in the probed
    cells, never the corpus. q_hybrid_rrf / q_hybrid_rrf_persisted
    keep the exact exhaustive leg as the recall ceiling; this query is
    what a search stack actually executes per query. Hash-exact: the
    oracle replays the portable-IVF probe in DuckDB, so cluster
    assignment, probe choice, candidate set, and fusion all
    cross-check."""
    from aoseventstreamer_spark.operators import ann_index as AI
    from aoseventstreamer_spark.operators import fusion as FU

    bm = _pinned_bm25_leg(spark, sf_dir)
    ann_cache, ann_ident, ann_v = _pinned_ivf_index(spark, sf_dir)
    pairs = AI.query_ivf_index(
        spark,
        ann_cache,
        t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0),
        corpus_ident=ann_ident,
        corpus_version=ann_v,
    )
    sem = pairs.select(
        F.col("cand_id").alias("doc_id"), F.col("dot_scaled").alias("dot")
    )
    return FU.rrf_fuse(
        [
            (bm, [F.desc("score"), F.asc("doc_id")]),
            (sem, [F.desc("dot"), F.asc("doc_id")]),
        ]
    )


@query(
    "q_vocab_topk",
    oracle="""
    WITH tok AS (
      SELECT d.doc_id, t.token FROM (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
        FROM documents
      ) d, UNNEST(arr) AS t(token)
    ), counts AS (
      SELECT token,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM tok GROUP BY token
    )
    SELECT CAST(rank AS INTEGER) AS rank, token, n_docs, n_occurrences FROM (
      SELECT token, n_docs, n_occurrences,
             ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS rank
      FROM counts
    ) WHERE rank <= 100
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary (tokenizer prep / boilerplate
    discovery), deterministic tie-break by token."""
    return LX.vocab_topk(t(spark, sf_dir, "documents"), k=100)


@query(
    "q_pack_sequences",
    oracle=PK.pack_sequences_oracle_sql(budget=2048),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack every document into 2048-token context windows in ONE
    GLOBAL order via the two-phase distributed prefix sum
    (operators/packing.py). Complements q_seq_packing
    (pipeline_pack2), which packs per-source shard and therefore never
    needs a global cumulative sum: when no natural shard key exists, a
    naive global window is a single-partition bottleneck — the blocked
    form keeps every wide op bounded while matching the naive
    running-sum oracle bit-for-bit. block_size deliberately spans
    multiple blocks at fixture scale so the phase-2 offset join is
    actually exercised."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("tok"),
    )
    return PK.pack_sequences(docs, budget=2048, block_size=500)


@query(
    "q_lm_perplexity",
    oracle=LM.perplexity_oracle_sql(
        train_where="doc_id % 2 = 0", score_where="doc_id % 2 = 1"
    ),
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality scoring: bigram-LM perplexity of the odd
    doc_ids under a model trained on the even doc_ids (cross-corpus,
    so both the seen-bigram and the smoothed unseen paths execute).
    Per-bigram log-probs round to integer micro-nats before the
    per-doc sum — bitwise order-independent (operators/lm.py). The
    compared column is the exact integer avg_nll_u; the derived float
    ppl is dropped from the projection (exp()/ROUND hazards)."""
    docs = t(spark, sf_dir, "documents")
    return LM.perplexity_scores(
        docs.filter(F.col("doc_id") % 2 == 1),
        train=docs.filter(F.col("doc_id") % 2 == 0),
    ).drop("ppl")


@query("q_bpe_merges")  # rows-only: iterative global-argmax training
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 50 BPE merges learned from the corpus
    (operators/bpe.train_bpe): distributed piece counting, compact
    driver merge loop — the HF-tokenizers trainer shape. Iterative
    (each merge depends on a global argmax over the rewritten state),
    so no SQL oracle exists; training is pinned to the BPE paper's
    worked example in tests/test_bpe.py."""
    from aoseventstreamer_spark.operators import bpe as B

    merges = B.train_bpe(t(spark, sf_dir, "documents"), num_merges=50)
    return B.merges_df(spark, merges)


@query("q_bpe_token_count")  # rows-only: tokens under the learned merges
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE token counts: encode every document under the 50
    merges learned from this same corpus (Arrow-batched Pandas UDF,
    merge ranks broadcast by closure, per-worker piece cache). The
    exact count the chars/4 estimate and the pre-token lower bound
    (q_pretoken_count) bracket."""
    from aoseventstreamer_spark.operators import bpe as B

    docs = t(spark, sf_dir, "documents")
    merges = B.train_bpe(docs, num_merges=50)
    return B.bpe_token_count(docs, merges)


@query(
    "q_lm_perplexity_unk",
    oracle=LM.perplexity_oracle_sql(
        train_where="doc_id % 2 = 0",
        score_where="doc_id % 2 = 1",
        vocab_size=200,
    ),
)
def q_lm_perplexity_unk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of q_lm_perplexity: a top-200 training
    vocabulary with every OOV token collapsed to <unk> BEFORE
    counting, bounding the model tables by vocab_size² regardless of
    corpus size (broadcastable model — the CCNet trick). Exercises
    the OOV path heavily while staying hash-exact."""
    docs = t(spark, sf_dir, "documents")
    return LM.perplexity_scores(
        docs.filter(F.col("doc_id") % 2 == 1),
        train=docs.filter(F.col("doc_id") % 2 == 0),
        vocab_size=200,
    ).drop("ppl")


@query(
    "q_inverted_index",
    oracle="""
    WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)
    SELECT tok,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS cf,
           list_sort(list(DISTINCT doc_id)) AS postings
    FROM tk GROUP BY tok
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the materialization BM25 scoring
    (q_bm25_scores) consumes conceptually: token → document frequency,
    corpus frequency, and the sorted posting list as an array column.
    One explode + one groupBy (map-side partial aggregation carries
    partial sets). The fixture vocabulary is small so every posting
    list materializes; a production index would range-shard lists
    past a df cutoff (the q_vocab_topk/stop-word machinery) — the
    aggregation shape is identical. Arrays sort deterministically on
    both engines, so the postings themselves hash-match."""
    docs = t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    return (
        tk.groupBy("tok")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
            F.sort_array(F.collect_set("doc_id")).alias("postings"),
        )
    )
