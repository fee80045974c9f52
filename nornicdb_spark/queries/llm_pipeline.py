"""LLM training-data pipeline queries: dedup family, text analysis,
multimodal plumbing — first-class components alongside SURVEY §2
(BASELINE.json north star), each oracle-checked where exact.

The oracles replicate the engine's explicit integer hashing
(md5-prefix → 60-bit int → Mersenne-prime modular arithmetic) so MinHash
and SimHash — usually "approximate" operators — are here *deterministic*
and hash-compared against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import lit_expr, literal_df

from nornicdb_spark.catalog import Catalog
from nornicdb_spark.operators import dedup, multimodal, textops
from nornicdb_spark.queries import register

P = dedup.MERSENNE_P

# SQL fragments shared by the dedup oracles --------------------------------

_WORDS = r"""
ws AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> length(x) > 0) AS w
  FROM documents
)
"""

_SHINGLES = (
    _WORDS
    + f""",
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {P} AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                 i -> array_to_string(w[i:i+2], ' '))) AS shingle
    FROM ws WHERE len(w) >= 3
  )
)
"""
)


def _perm_values() -> str:
    return ", ".join(f"({i}, {a}, {b})" for i, a, b in dedup.minhash_params())


# shared verbatim by stream_dedup_exact: the maintained observation log's
# count/min aggregates are batch-order-invariant, so the streamed result
# is byte-identical to the batch operator over the same corpus
_EXACT_DEDUP_ORACLE = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
    )
    SELECT md5(text) AS content_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS keep_id
    FROM corpus GROUP BY md5(text) HAVING count(*) > 1
    """


@register(
    "dedup_exact",
    oracle=_EXACT_DEDUP_ORACLE,
)
def dedup_exact(spark, sf_dir):
    # exact hash-groupBy dedup; corpus seeded with 50 known duplicates
    # (the raw fixture has none) so the operator's output is non-trivial.
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    return dedup.exact_duplicates(corpus)


@register("stream_dedup_exact", oracle=_EXACT_DEDUP_ORACLE)
def stream_dedup_exact(spark, sf_dir):
    # the exact-hash gate as a MAINTAINED index (streaming/neardup.py
    # MaintainedHashIndex — reference exact-duplicate check on ingest,
    # pkg/embeddings/dedup.go): the seeded corpus ingested in 3
    # deterministic batches into the hk-partitioned observation log,
    # then duplicates() — count/min are batch-order-invariant, so the
    # result (and the oracle) are IDENTICAL to the batch dedup_exact.
    import shutil

    from nornicdb_spark.streaming.neardup import MaintainedHashIndex

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    path = f"/root/repo/.tmp/hashidx_{tag}"
    shutil.rmtree(path, ignore_errors=True)  # rebuild: deterministic run
    idx = MaintainedHashIndex(spark, path)
    for b in range(3):
        idx.process_batch(corpus.filter(F.col("doc_id") % 3 == b), batch_id=b)
    return idx.duplicates()


# MinHash-LSH pipeline CTEs (shingle → sign → band → verify), shared by
# the pair oracle and the cluster-canonicalization oracle
_MINHASH_CTES = f"""{_SHINGLES},
    perms(i, a, b) AS (VALUES {_perm_values()}),
    sigs AS MATERIALIZED (
      SELECT doc_id, i, min((a * h + b) % {P}) AS sig
      FROM sh CROSS JOIN perms GROUP BY doc_id, i
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, i // 4 AS band,
             string_agg(CAST(sig AS VARCHAR), '-' ORDER BY i) AS band_key
      FROM sigs GROUP BY doc_id, i // 4
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT c.a, c.b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.a
      JOIN sh sb ON sb.doc_id = c.b AND sb.h = sa.h
      GROUP BY c.a, c.b
    )"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT a, b, CAST(n_inter AS DOUBLE) / (sx.n + sy.n - n_inter) AS jaccard
    FROM inter JOIN sizes sx ON sx.doc_id = a JOIN sizes sy ON sy.doc_id = b
    WHERE CAST(n_inter AS DOUBLE) / (sx.n + sy.n - n_inter) >= 0.5
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    # MinHash(32 perms) + LSH(8 bands × 4 rows) + exact Jaccard verify —
    # the standard near-dup pipeline, shingle→sign→band→bucket-join.
    docs = Catalog(spark, sf_dir).documents
    return dedup.minhash_near_duplicates(docs, threshold=0.5)


# SimHash fingerprint pipeline as CTEs (md5 token hashes — deterministic
# on both engines); shared by the fingerprint and pair-mining oracles.
_SIMHASH_FP = f"""{_WORDS},
    toks AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(w) AS tok FROM ws)
      GROUP BY doc_id, tok
    ),
    th AS (
      SELECT doc_id, tf,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id, j, sum(tf * (((h >> j) & 1) * 2 - 1)) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS j)
      GROUP BY doc_id, j
    ),
    fp AS MATERIALIZED (
      SELECT doc_id,
             string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j)
               AS fingerprint
      FROM bits GROUP BY doc_id
    )"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_FP}
    SELECT doc_id, fingerprint FROM fp
    """,
)
def dedup_simhash(spark, sf_dir):
    # 60-bit SimHash fingerprints (deterministic md5-based token hashes).
    docs = Catalog(spark, sf_dir).documents
    return dedup.simhash_fingerprints(docs)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_FP},
    quarters AS (
      SELECT doc_id, q, substr(fingerprint, 1 + q * 15, 15) AS qv
      FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS q)
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM quarters x
      JOIN quarters y ON x.q = y.q AND x.qv = y.qv AND x.doc_id < y.doc_id
    )
    SELECT a, b, hamming FROM (
      SELECT c.a, c.b,
             CAST(len(list_filter(range(1, 61),
                      i -> fa.fingerprint[i] <> fb.fingerprint[i]))
                  AS INT) AS hamming
      FROM cand c
      JOIN fp fa ON fa.doc_id = c.a
      JOIN fp fb ON fb.doc_id = c.b
    ) WHERE hamming <= 10
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    # pigeonhole quarter-bucket candidates + exact hamming verify — fully
    # deterministic, so the whole pipeline carries a SQL oracle.
    docs = Catalog(spark, sf_dir).documents
    fp = dedup.simhash_fingerprints(docs)
    return dedup.simhash_near_duplicates(fp, max_hamming=10)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    SELECT a, b, CAST(n_inter AS DOUBLE) / (sx.n + sy.n - n_inter) AS jaccard
    FROM pairs JOIN sizes sx ON sx.doc_id = a JOIN sizes sy ON sy.doc_id = b
    WHERE CAST(n_inter AS DOUBLE) / (sx.n + sy.n - n_inter) >= 0.4
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    # exact n-gram Jaccard with shared-shingle candidate pruning.
    docs = Catalog(spark, sf_dir).documents
    return dedup.ngram_jaccard_pairs(docs, threshold=0.4)


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS a, b.vec_id AS b,
           list_dot_product(CAST(a.embedding AS DOUBLE[]),
                            CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))))
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                     CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])))), 9)
            >= 0.45
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    # embedding-cosine near-dup pairs (threshold tuned to the fixture's
    # similarity distribution — max pairwise cosine ≈ 0.51). Exact mode:
    # balanced block-grid theta-join, no CartesianProduct in the plan.
    emb = Catalog(spark, sf_dir).embeddings
    return dedup.embedding_near_duplicates(emb, threshold=0.45, exact=True)


def _seeded_embeddings(spark, sf_dir):
    # corpus seeded with 50 exact-duplicate vectors (ids +100000): the
    # raw fixture's pairwise cosines top out near 0.5, so a HIGH-precision
    # near-dup threshold would otherwise have an empty truth set at small
    # SFs — the same planted-duplicate device as dedup_exact's corpus.
    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    return emb.unionByName(
        emb.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )


# LSH operating point: near-dup detection is a HIGH-threshold problem
# (0.95 ⇒ per-hyperplane agreement p≈0.9), so wide bands prune hard —
# a random pair (cos≈0) collides on a 16-bit band with prob 2^-16,
# giving ~sublinear candidates, while true near-dups survive ≥1 of the
# 8 bands. A low threshold (0.45 ⇒ p≈0.65) is structurally un-prunable
# for hyperplane LSH: every band width that recalls it also admits
# nearly all random pairs — that regime belongs to the exact GEMM grid.
_LSH_CONF = dict(n_bits=128, n_bands=8)


@register("dedup_embedding_lsh")  # approximate — rows-only; recall-gated
def dedup_embedding_lsh(spark, sf_dir):
    # LSH-bucketed near-dup candidates + exact verify — the sublinear
    # 100 TB path (band buckets as join keys; see
    # operators/dedup.py embedding_near_duplicates exact=False).
    # Candidate generation is seeded-random → no row-set oracle; the
    # driver-visible gate is dedup_embedding_lsh_recall below.
    emb = _seeded_embeddings(spark, sf_dir)
    return dedup.embedding_near_duplicates(
        emb, threshold=0.95, exact=False, **_LSH_CONF
    )


@register("dedup_embedding_lsh_recall", oracle="SELECT CAST(1 AS BIGINT) AS ok")
def dedup_embedding_lsh_recall(spark, sf_dir):
    # recall + containment gate for the LSH near-dup path: the verify
    # stage makes every emitted pair a true near-dup (containment must be
    # exact) and the banded buckets must recover >= 80% of the exact
    # pair set (same driver-gate pattern as ann_*_recall).
    emb = _seeded_embeddings(spark, sf_dir)
    exact = dedup.embedding_near_duplicates(
        emb, threshold=0.95, exact=True
    ).select("a", "b").withColumn("_e", F.lit(1))
    lsh = dedup.embedding_near_duplicates(
        emb, threshold=0.95, exact=False, **_LSH_CONF
    ).select("a", "b").withColumn("_l", F.lit(1))
    m = exact.join(lsh, ["a", "b"], "full_outer").agg(
        F.count("_e").alias("ne"),
        F.count("_l").alias("nl"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1))
        .alias("nb"),
    )
    return m.select(
        (
            (F.col("nb") * 10 >= F.col("ne") * 8)   # recall >= 0.8
            & (F.col("nl") == F.col("nb"))          # containment (verified)
        ).cast("long").alias("ok")
    )


# --- text analysis -------------------------------------------------------


@register(
    "text_token_stats",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> length(x) > 0) AS w,
             CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_ish
      FROM documents
    )
    SELECT doc_id, n_chars,
           CAST(len(w) AS BIGINT) AS n_ws_tokens,
           n_bpe_ish,
           CASE WHEN len(w) > 0
                THEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                     / len(w)
                ELSE 0.0 END AS avg_token_len
    FROM base
    """,
)
def text_token_stats(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    return textops.token_stats(docs)


@register(
    "text_quality_scores",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                  AS DOUBLE) AS alpha,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS DOUBLE) AS digit,
             CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
                  AS DOUBLE) AS punct,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ),
    ratios AS (
      SELECT doc_id,
             alpha / n AS alpha_ratio,
             digit / n AS digit_ratio,
             punct / n AS punct_ratio,
             CASE WHEN len(w) > 0
                  THEN CAST(len(list_filter(w, x -> x IN
                       ('the','and','of','to','is','in','that','it','for','on')))
                       AS DOUBLE) / len(w)
                  ELSE 0.0 END AS stopword_ratio
      FROM base
    )
    SELECT doc_id, alpha_ratio, digit_ratio, punct_ratio, stopword_ratio,
           0.5 * alpha_ratio + 0.3 * (1 - punct_ratio)
             + 0.2 * least(stopword_ratio * 5, 1.0) AS quality
    FROM ratios
    """,
)
def text_quality_scores(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    return textops.quality_scores(docs)


def _lang_score_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in textops.LANG_PROFILES[lang])
    return (
        f"CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> x IN ({words})))"
        f" AS DOUBLE) / len(w) ELSE 0.0 END"
    )


@register(
    "text_language_id",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ),
    scores AS (
      SELECT doc_id,
             {_lang_score_sql('de')} AS s_de,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('es')} AS s_es
      FROM base
    )
    SELECT doc_id,
           CASE WHEN s_de = greatest(s_de, s_en, s_es) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es) THEN 'en'
                ELSE 'es' END AS lang_pred,
           greatest(s_de, s_en, s_es) AS lang_score
    FROM scores
    """,
)
def text_language_id(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    return textops.language_id(docs)


@register(
    "text_fingerprints",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprints(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    return textops.fingerprints(docs)


# --- multimodal plumbing (decode stubbed; Spark-side shape is real) ------


@register("multimodal_features")  # stub decoder — rows-only check
def multimodal_features(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    media = multimodal.synthesize_media(docs)
    feats = multimodal.extract_features(media, use_real_decoders=False)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.round(F.element_at("features", 1), 3).alias("f0"),
        F.round(F.element_at("features", 2), 3).alias("f1"),
    )


_MULTIMODAL_DECODE_ORACLE = """
    WITH aud AS (
      SELECT doc_id,
             CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
             CAST(1 + (doc_id % 2) AS BIGINT) AS channels,
             CAST(50 + (doc_id % 100) AS BIGINT) AS n_frames
      FROM documents WHERE doc_id % 2 = 0
    ),
    aud_stats AS (
      SELECT doc_id,
             sum(abs(((doc_id * 31 + i * 7) % 2048) - 1024)) AS val_sum,
             max(abs(((doc_id * 31 + i * 7) % 2048) - 1024)) AS val_peak
      FROM (SELECT doc_id, unnest(range(0, n_frames * channels)) AS i FROM aud)
      GROUP BY doc_id
    ),
    img AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS BIGINT) AS width,
             CAST(3 + doc_id % 11 AS BIGINT) AS height
      FROM documents WHERE doc_id % 2 = 1
    ),
    img_stats AS (
      SELECT doc_id,
             sum((doc_id * 7 + i * 5) % 256) AS val_sum,
             max((doc_id * 7 + i * 5) % 256) AS val_peak
      FROM (SELECT doc_id, unnest(range(0, 3 * width * height)) AS i FROM img)
      GROUP BY doc_id
    )
    SELECT a.doc_id, 'audio' AS media_type,
           CAST(44 + n_frames * channels * 2 AS BIGINT) AS n_bytes,
           sample_rate, channels,
           CAST(n_frames * channels AS BIGINT) AS n_samples,
           CAST(n_frames * 1000 // sample_rate AS BIGINT) AS duration_ms,
           CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS maxval,
           CAST(s.val_sum AS BIGINT) AS val_sum,
           CAST(s.val_peak AS BIGINT) AS val_peak
    FROM aud a JOIN aud_stats s USING (doc_id)
    UNION ALL
    SELECT i.doc_id, 'image' AS media_type,
           CAST(3 + length(CAST(width AS VARCHAR)) + 1
                + length(CAST(height AS VARCHAR)) + 1 + 4
                + 3 * width * height AS BIGINT) AS n_bytes,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           width, height, CAST(255 AS BIGINT),
           CAST(s.val_sum AS BIGINT), CAST(s.val_peak AS BIGINT)
    FROM img i JOIN img_stats s USING (doc_id)
    """


@register("multimodal_decode", oracle=_MULTIMODAL_DECODE_ORACLE)
def multimodal_decode(spark, sf_dir):
    # REAL encode→decode loop: genuinely-encoded PCM16 WAV / binary P6
    # PPM fixtures (every parameter a closed form of doc_id) parsed back
    # by the pure-stdlib decoder; the oracle recomputes every extracted
    # header field AND the exact encoded byte length from first
    # principles, so encoder and decoder are both checked end-to-end.
    docs = Catalog(spark, sf_dir).documents
    media = multimodal.synthesize_encoded_media(docs)
    return multimodal.decode_media(media)


@register(
    "multimodal_frame_plan",
    oracle="""
    SELECT doc_id, unnest(range(0, length(text) * 10 + 1, 1000)) AS frame_ms
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_plan(spark, sf_dir):
    # frame-sampling plan is pure relational plumbing → oracle-checkable.
    docs = Catalog(spark, sf_dir).documents
    media = multimodal.synthesize_media(docs)
    return multimodal.frame_sample_plan(media, every_ms=1000)


_QUALITY_LANG_SQL = rf"""
base AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
              AS DOUBLE) AS alpha,
         CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
              AS DOUBLE) AS punct,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> length(x) > 0) AS w
  FROM documents
),
quality AS (
  SELECT doc_id,
         0.5 * (alpha / n) + 0.3 * (1 - punct / n)
           + 0.2 * least(CASE WHEN len(w) > 0
                THEN CAST(len(list_filter(w, x -> x IN
                     ('the','and','of','to','is','in','that','it','for','on')))
                     AS DOUBLE) / len(w) ELSE 0.0 END * 5, 1.0) AS quality
  FROM base
),
lang AS (
  SELECT doc_id,
         CASE WHEN s_de = greatest(s_de, s_en, s_es) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es) THEN 'en'
              ELSE 'es' END AS lang_pred
  FROM (
    SELECT doc_id,
           {_lang_score_sql('de')} AS s_de,
           {_lang_score_sql('en')} AS s_en,
           {_lang_score_sql('es')} AS s_es
    FROM base
  )
)
"""


@register(
    "corpus_quality_filter",
    oracle=f"""
    WITH {_QUALITY_LANG_SQL},
    keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT q.doc_id, l.lang_pred, q.quality
    FROM quality q JOIN lang l USING (doc_id)
    JOIN keepers k USING (doc_id)
    WHERE q.quality >= 0.45 AND l.lang_pred = 'en'
    """,
)
def corpus_quality_filter(spark, sf_dir):
    # End-to-end corpus cleaning: quality floor + language allowlist +
    # exact-dup survivors only — the canonical LLM-pipeline first pass.
    docs = Catalog(spark, sf_dir).documents
    return textops.corpus_clean(docs, min_quality=0.45, langs=("en",))


@register(
    "corpus_stratified_sample",
    oracle=f"""
    WITH {_QUALITY_LANG_SQL},
    bucketed AS (
      SELECT doc_id, lang_pred,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 100 AS bucket
      FROM lang
    )
    SELECT doc_id, lang_pred, bucket FROM bucketed
    WHERE bucket < (CASE WHEN lang_pred = 'en' THEN 10 ELSE 20 END)
    """,
)
def corpus_stratified_sample(spark, sf_dir):
    # Deterministic hash-mod stratified sampling by language: 10% of 'en',
    # 20% of everything else — reproducible (no rand()), oracle-checkable.
    docs = Catalog(spark, sf_dir).documents
    return textops.stratified_sample(docs, rates={"en": 10}, default_rate=20)


@register(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    dup AS MATERIALIZED (
      SELECT a, b FROM inter
      JOIN sizes sx ON sx.doc_id = a JOIN sizes sy ON sy.doc_id = b
      WHERE CAST(n_inter AS DOUBLE) / (sx.n + sy.n - n_inter) >= 0.5
    ),
    und AS MATERIALIZED (SELECT a AS s, b AS d FROM dup UNION SELECT b, a FROM dup),
    reach(node, r) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM und)
      UNION
      SELECT u.s, reach.r FROM und u JOIN reach ON reach.node = u.d
    )
    SELECT node AS doc_id, min(r) AS canonical_id FROM reach GROUP BY node
    """,
)
def dedup_cluster_canonical(spark, sf_dir):
    # near-dup PAIRS → transitive clusters → canonical (min-id) doc per
    # cluster: the keep/drop decision step of a dedup pipeline. WCC by
    # min-label propagation over the (tiny) dup-pair graph; the oracle is
    # a recursive-CTE reachability closure over the same pairs.
    docs = Catalog(spark, sf_dir).documents
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.5)
    return dedup.duplicate_clusters(pairs.select("a", "b"))


@register(
    "text_repetition_ratios",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, w,
             list_transform(range(1, greatest(len(w), 1)),
                            i -> w[i] || ' ' || w[i+1]) AS b
      FROM ws
    ),
    top AS (
      SELECT doc_id, max(cnt) AS top_n FROM (
        SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, unnest(b) AS g FROM bg) GROUP BY doc_id, g
      ) GROUP BY doc_id
    )
    SELECT bg.doc_id,
           CASE WHEN len(w) > 0
                THEN 1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                ELSE 0 END AS dup_word_ratio,
           CASE WHEN len(b) > 0
                THEN 1 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b)
                ELSE 0 END AS dup_bigram_ratio,
           CASE WHEN len(b) > 0
                THEN CAST(top.top_n AS DOUBLE) / len(b) ELSE 0 END
             AS top_bigram_frac
    FROM bg LEFT JOIN top ON bg.doc_id = top.doc_id
    """,
)
def text_repetition_ratios(spark, sf_dir):
    # Gopher-style repetition signals (dup-word / dup-bigram fractions,
    # top-bigram mass) — codegen'd column expressions, no shuffle.
    docs = Catalog(spark, sf_dir).documents
    return textops.repetition_ratios(docs)


@register(
    "text_pii_scrub",
    oracle="""
    WITH contact AS (
      SELECT c_custkey AS doc_id,
             c_name || ' reachable at ' ||
             lower(replace(c_name, ' ', '.')) || '@example-' ||
             CAST(c_nationkey AS VARCHAR) || '.com or 555-' ||
             lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || '-' ||
             lpad(CAST((c_nationkey * 391) % 10000 AS VARCHAR), 4, '0') AS text
      FROM customer
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
             '[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
    FROM contact
    """,
)
def text_pii_scrub(spark, sf_dir):
    # PII redaction (emails + dashed phone runs) with RE2-compatible
    # patterns so the oracle applies the identical regexes. The fixture
    # corpus has no contact strings, so the input is synthesized
    # deterministically from customer fields.
    cust = Catalog(spark, sf_dir).customer
    contact = cust.select(
        F.col("c_custkey").alias("doc_id"),
        F.concat(
            F.col("c_name"), F.lit(" reachable at "),
            F.lower(F.replace(F.col("c_name"), F.lit(" "), F.lit("."))),
            F.lit("@example-"), F.col("c_nationkey").cast("string"),
            F.lit(".com or 555-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
            F.lit("-"),
            F.lpad(((F.col("c_nationkey") * 391) % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return textops.pii_scrub(contact)


@register(
    "doc_chunking",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> length(x) > 0) AS w
      FROM documents
    )
    SELECT doc_id, CAST(i // 25 AS BIGINT) AS chunk_no,
           CAST(len(w[i+1:i+50]) AS BIGINT) AS n_tokens,
           array_to_string(w[i+1:i+50], ' ') AS chunk
    FROM ws, unnest(range(0, greatest(len(w) - 1, 0) -
                             (greatest(len(w) - 1, 0) % 25) + 1, 25)) t(i)
    WHERE len(w[i+1:i+50]) > 0
    """,
)
def doc_chunking(spark, sf_dir):
    # overlapping word-window chunking (50-token windows, stride 25) —
    # the pre-embedding step of a training/RAG pipeline; map-only.
    docs = Catalog(spark, sf_dir).documents
    return textops.chunk_documents(docs, chunk_tokens=50, stride=25)


@register(
    "text_contamination",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS gram
      FROM ws, unnest(range(1, greatest(len(w) - 2, 1))) t(i)
      WHERE len(w) >= 4
    )
    SELECT a.doc_id, CAST(count(DISTINCT a.gram) AS BIGINT) AS n_shared
    FROM grams a
    JOIN (SELECT DISTINCT gram FROM grams WHERE doc_id < 25) p
      ON a.gram = p.gram
    WHERE a.doc_id >= 25
    GROUP BY a.doc_id
    """,
)
def text_contamination(spark, sf_dir):
    # benchmark-contamination check: distinct 4-gram collisions of each
    # corpus doc against a probe (evaluation) set — the decontamination
    # primitive of LLM data pipelines. doc_id < 25 plays the benchmark.
    docs = Catalog(spark, sf_dir).documents
    probe = docs.filter(F.col("doc_id") < 25)
    corpus = docs.filter(F.col("doc_id") >= 25)
    return textops.contamination_overlap(corpus, probe, n=4)


@register(
    "embedding_centroid_stats",
    oracle="""
    WITH ev AS (
      SELECT d.lang, e.vec_id,
             generate_subscripts(e.embedding, 1) - 1 AS j,
             unnest(e.embedding) AS v
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    cent AS (
      SELECT lang, j, avg(v) AS c FROM ev GROUP BY lang, j
    ),
    norms AS (
      SELECT lang, vec_id, sqrt(sum(v * v)) AS nrm
      FROM ev GROUP BY lang, vec_id
    )
    SELECT n.lang, CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(n.nrm), 9) AS avg_norm,
           round(c.centroid_norm, 9) AS centroid_norm
    FROM norms n JOIN (
      SELECT lang, sqrt(sum(c * c)) AS centroid_norm FROM cent GROUP BY lang
    ) c USING (lang)
    GROUP BY n.lang, c.centroid_norm
    """,
)
def embedding_centroid_stats(spark, sf_dir):
    # per-group embedding diagnostics (count, mean vector norm, centroid
    # norm) — the monitoring pass of an embedding pipeline. Element-wise
    # centroid via posexplode + two-level agg: shuffles (group, dim) keyed
    # rows, never collects vectors to the driver.
    cat = Catalog(spark, sf_dir)
    ev = (
        cat.embeddings.join(
            cat.documents.select(F.col("doc_id").alias("vec_id"), "lang"),
            "vec_id",
        )
        .select("lang", "vec_id", F.posexplode("embedding").alias("j", "v"))
    )
    norms = ev.groupBy("lang", "vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm")
    )
    cent = (
        ev.groupBy("lang", "j").agg(F.avg("v").alias("c"))
        .groupBy("lang")
        .agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("centroid_norm"))
    )
    return (
        norms.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            # 9-decimal rounding: float-sum partition order is the only
            # nondeterminism here; rounding makes the output stable
            F.round(F.avg("nrm"), 9).alias("avg_norm"),
        )
        .join(cent, "lang")
        .select(
            "lang", "n_vecs", "avg_norm",
            F.round("centroid_norm", 9).alias("centroid_norm"),
        )
    )


@register(
    "vocab_top_words",
    oracle="""
    SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> length(x) > 0)) AS tok
      FROM documents
    )
    GROUP BY tok ORDER BY freq DESC, word LIMIT 100
    """,
)
def vocab_top_words(spark, sf_dir):
    # vocabulary induction: top-100 corpus words by frequency — the seed
    # of tokenizer training; explode + combined groupBy + global top-k.
    docs = Catalog(spark, sf_dir).documents
    return textops.vocab_top_words(docs, k=100)


@register(
    "vocab_bpe_pairs",
    oracle="""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> length(x) > 0)) AS w
      FROM documents
    ),
    pairs AS (
      SELECT substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair
      FROM words, unnest(generate_series(1, length(w) - 1)) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS freq
    FROM pairs GROUP BY pair ORDER BY freq DESC, pair LIMIT 100
    """,
)
def vocab_bpe_pairs(spark, sf_dir):
    # tokenizer training's inner statistic: adjacent within-word symbol
    # pair frequencies (BPE iteration 0 — characters), top-100.
    docs = Catalog(spark, sf_dir).documents
    return textops.bpe_pair_counts(docs, k=100)


def _bpe_train_ctes(n_merges: int) -> list[str]:
    """The unrolled DuckDB training chain shared by the merges and
    encode oracles: the same wrapped-string state (chr(1)-bounded
    symbols), the same weighted pair count / (freq desc, lhs, rhs)
    argmax / literal-replace merge, one CTE triple per round."""
    s = "chr(1)"
    ctes = [
        """words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wfreq FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> length(x) > 0)) AS w
        FROM documents) WHERE strpos(w, chr(1)) = 0 GROUP BY w
    )""",
        f"""state0 AS (
      SELECT regexp_replace(w, '(.)', {s}||'\\1'||{s}, 'g') AS w, wfreq
      FROM words
    )""",
    ]
    for r in range(1, n_merges + 1):
        ctes.append(f"""pairs{r} AS (
      SELECT l[i] AS lhs, l[i+1] AS rhs, wfreq
      FROM (SELECT string_split(trim(w, {s}), {s}||{s}) AS l, wfreq
            FROM state{r - 1}) sy,
           unnest(generate_series(1, len(l) - 1)) AS t(i)
      WHERE len(l) >= 2
    )""")
        ctes.append(
            f"m{r} AS (SELECT lhs, rhs, CAST(sum(wfreq) AS BIGINT) AS freq "
            f"FROM pairs{r} GROUP BY lhs, rhs "
            f"ORDER BY freq DESC, lhs, rhs LIMIT 1)"
        )
        ctes.append(
            f"state{r} AS (SELECT replace(w, {s}||lhs||{s}||{s}||rhs||{s}, "
            f"{s}||lhs||rhs||{s}) AS w, wfreq FROM state{r - 1}, m{r})"
        )
    return ctes


def _bpe_merges_oracle_sql(n_merges: int) -> str:
    """Training oracle: UNION ALL of the per-round argmax rows."""
    union = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_round, lhs, rhs, freq FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_train_ctes(n_merges)) + "\n" + union


def _bpe_encode_oracle_sql(n_merges: int, k: int) -> str:
    """Encode oracle: train (shared chain), then re-tokenize every
    document's words with the learned merges applied in order (each a
    1-row cross join against that round's argmax), count final-symbol
    frequencies, top-k ties by token."""
    s = "chr(1)"
    ctes = _bpe_train_ctes(n_merges)
    ctes.append("""dwords AS (
      SELECT w FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> length(x) > 0)) AS w
        FROM documents) WHERE strpos(w, chr(1)) = 0
    )""")
    ctes.append(
        f"d0 AS (SELECT regexp_replace(w, '(.)', {s}||'\\1'||{s}, 'g') AS w "
        f"FROM dwords)"
    )
    for r in range(1, n_merges + 1):
        ctes.append(
            f"d{r} AS (SELECT replace(w, {s}||lhs||{s}||{s}||rhs||{s}, "
            f"{s}||lhs||rhs||{s}) AS w FROM d{r - 1}, m{r})"
        )
    ctes.append(
        f"dtoks AS (SELECT unnest(string_split(trim(w, {s}), {s}||{s})) "
        f"AS token FROM d{n_merges})"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM dtoks GROUP BY token ORDER BY freq DESC, token LIMIT {k}
    """
    )


from nornicdb_spark.operators import scope as _scope

_BPE_MEMO = _scope.SessionMemo()


def _trained_bpe_merges(spark, sf_dir, n_merges: int = 6):
    # train once per (session, corpus) — the merges are the learned
    # artifact both the merges row and the encode row consume
    hit = _BPE_MEMO.get(spark, (sf_dir, n_merges))
    if hit is not None:
        return hit
    docs = Catalog(spark, sf_dir).documents
    rows = (
        textops.bpe_merges(docs, n_merges=n_merges)
        .orderBy("merge_round")
        .collect()
    )
    return _BPE_MEMO.put(spark, (sf_dir, n_merges), rows)


@register("vocab_bpe_merges", oracle=_bpe_merges_oracle_sql(6))
def vocab_bpe_merges(spark, sf_dir):
    # BPE tokenizer training proper: 6 actual merge rounds (argmax pair
    # → greedy apply → recount) over the word histogram — the corpus is
    # scanned once, every round is vocabulary-sized. Returns the ordered
    # merge table, the artifact a tokenizer trainer ships.
    rows = _trained_bpe_merges(spark, sf_dir, 6)
    return literal_df(spark, 
        [(r.merge_round, r.lhs, r.rhs, r.freq) for r in rows],
        "merge_round int, lhs string, rhs string, freq long",
    )


@register("corpus_bpe_vocab_usage", oracle=_bpe_encode_oracle_sql(6, 50))
def corpus_bpe_vocab_usage(spark, sf_dir):
    # the ENCODE half: tokenize the corpus with the 6 trained merges
    # (bpe_encode — the same greedy literal-replace chain, codegen'd)
    # and report the top-50 final-symbol frequencies: train → encode
    # end-to-end, both halves oracle-checked against one DuckDB chain.
    docs = Catalog(spark, sf_dir).documents
    merges = [(r.lhs, r.rhs) for r in _trained_bpe_merges(spark, sf_dir, 6)]
    return (
        textops.bpe_encode(docs, merges)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(50)
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> length(x) > 0)) AS word
      FROM documents
    ),
    freq AS (SELECT word, count(*) AS wc FROM toks GROUP BY word),
    total AS (SELECT CAST(sum(wc) AS DOUBLE) AS total FROM freq)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(wc / total)), 9) AS mean_logprob
    FROM toks JOIN freq USING (word), total
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    # mean unigram log-probability per doc under the corpus's own
    # unigram model — the cheap perplexity proxy of quality filtering.
    docs = Catalog(spark, sf_dir).documents
    return textops.unigram_logprob(docs)


@register(
    "corpus_split_assign",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 100 AS bucket,
           CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def corpus_split_assign(spark, sf_dir):
    # deterministic 80/10/10 train/val/test assignment by salted id hash
    # — reproducible, repartition-stable, disjoint from the sample hash.
    docs = Catalog(spark, sf_dir).documents
    return textops.split_assign(docs)


@register(
    "multimodal_resize_plan",
    oracle="""
    WITH media AS (
      SELECT doc_id,
             CAST(length(text) % 640 + 1 AS BIGINT) AS width,
             CAST(length(text) % 480 + 1 AS BIGINT) AS height
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, width, height,
           CAST(greatest(floor(width * least(224.0 / width, 224.0 / height, 1.0)), 1)
                AS BIGINT) AS target_w,
           CAST(greatest(floor(height * least(224.0 / width, 224.0 / height, 1.0)), 1)
                AS BIGINT) AS target_h,
           least(224.0 / width, 224.0 / height, 1.0) >= 1.0 AS skip
    FROM media
    """,
)
def multimodal_resize_plan(spark, sf_dir):
    # aspect-preserving resize planning over image metadata (the decode
    # is the stubbed step) — metadata-only arithmetic that lets a 100 TB
    # pipeline skip no-op resizes before touching bytes.
    docs = Catalog(spark, sf_dir).documents
    media = multimodal.synthesize_media(docs)
    return multimodal.resize_plan(media, max_w=224, max_h=224)


@register(
    "multimodal_audio_windows",
    oracle="""
    WITH media AS (
      SELECT doc_id, CAST(length(text) * 10 AS BIGINT) AS dur
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT doc_id, CAST(i // 1000 AS BIGINT) AS window_no,
           CAST(i AS BIGINT) AS start_ms,
           CAST(least(i + 2000, dur) AS BIGINT) AS end_ms
    FROM media, unnest(range(0, greatest(dur - 1, 0) -
                                ((dur - 1) % 1000) + 1, 1000)) t(i)
    """,
)
def multimodal_audio_windows(spark, sf_dir):
    # overlapping audio analysis windows (2 s window, 1 s stride) — the
    # audio twin of frame sampling; map-only posexplode.
    docs = Catalog(spark, sf_dir).documents
    media = multimodal.synthesize_media(docs)
    return multimodal.audio_window_plan(media, window_ms=2000, stride_ms=1000)


_SIM_EDGES_SQL = """
    pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[]))))
               AS score
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    thresh AS (SELECT * FROM pairs WHERE round(score, 9) >= 0.55),
    oriented AS (
      SELECT a AS src, b AS dst, score FROM thresh
      UNION ALL
      SELECT b, a, score FROM thresh
    ),
    topk AS (
      SELECT src, dst, score,
             row_number() OVER (PARTITION BY src
                                ORDER BY round(score, 9) DESC, dst) AS r
      FROM oriented
    ),
    sim_edges AS (
      SELECT src, dst, 'RELATES_TO' AS rel_type, score,
             CASE WHEN round(score, 9) >= 0.95 THEN 0.9
                  WHEN round(score, 9) >= 0.90 THEN 0.7
                  WHEN round(score, 9) >= 0.85 THEN 0.5
                  ELSE 0.3 END AS confidence,
             'similarity' AS method
      FROM topk WHERE r <= 5
    )
"""


@register(
    "inference_similarity_edges",
    oracle=f"""
    WITH {_SIM_EDGES_SQL}
    SELECT src, dst, rel_type, score, confidence, method FROM sim_edges
    """,
)
def inference_similarity_edges(spark, sf_dir):
    # similarity-based RELATES_TO suggestions (reference
    # inference.go:505-525 + scoreToConfidence:784-797): block-grid pair
    # generation, per-source top-5 ≥ 0.55 threshold (fixture embeddings
    # are near-orthogonal, so the reference's 0.85 default finds nothing
    # at sf0.01 — the mechanics are identical).
    from nornicdb_spark.operators import inference

    emb = Catalog(spark, sf_dir).embeddings
    return inference.similarity_edges(emb, threshold=0.55, top_k=5)


@register(
    "inference_transitive_edges",
    oracle=f"""
    WITH {_SIM_EDGES_SQL}
    SELECT e1.src, e2.dst, 'RELATES_TO' AS rel_type,
           max(e1.confidence * e2.confidence) AS confidence,
           CAST(count(*) AS BIGINT) AS n_paths,
           'transitive' AS method
    FROM sim_edges e1 JOIN sim_edges e2 ON e1.dst = e2.src
    WHERE e1.src <> e2.dst
      AND e1.confidence * e2.confidence >= 0.09
    GROUP BY e1.src, e2.dst
    """,
)
def inference_transitive_edges(spark, sf_dir):
    # transitive inference A→B→C ⇒ A→C, conf = conf(AB)·conf(BC)
    # (reference inference.go:740-772), aggregated to best-path
    # confidence + path count per pair.
    from nornicdb_spark.operators import inference
    from nornicdb_spark.operators.scope import CkptScope

    emb = Catalog(spark, sf_dir).embeddings
    # checkpoint the similarity edges: transitive_edges self-joins its
    # input, and without the cut the whole grid pair-generation pipeline
    # (the expensive half) executes once per join branch
    scope = CkptScope()
    sim = scope.ckpt(inference.similarity_edges(emb, threshold=0.55, top_k=5))
    return scope.finish(
        inference.transitive_edges(sim, min_confidence=0.09), keep=(sim,)
    )


@register(
    "corpus_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT lang AS "group", doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> length(x) > 0)) AS BIGINT) AS n_tokens
      FROM documents
    ),
    binned AS (
      SELECT "group", doc_id, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY "group" ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) / 2048) AS BIGINT) AS bin
      FROM toks
    )
    SELECT "group", bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(sum(n_tokens) / 2048.0, 9) AS fill_ratio
    FROM binned GROUP BY 1, 2
    """,
)
def corpus_sequence_packing(spark, sf_dir):
    # sequence packing (training-batch assembly): contiguous greedy fill
    # of 2048-token context windows per language, deterministic in doc
    # order — the running sum stays partitioned by group, so the plan is
    # one keyed window shuffle, not a global total order.
    docs = Catalog(spark, sf_dir).documents
    return textops.pack_sequences(docs, context_tokens=2048)


@register(
    "corpus_temperature_resample",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    mn AS (SELECT min(n_docs) AS n_min FROM counts),
    rates AS (
      SELECT source, n_docs,
             pow(CAST(n_min AS DOUBLE) / n_docs, 0.5) AS rate
      FROM counts, mn
    ),
    kept AS (
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
      FROM documents d JOIN rates USING (source)
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 10000 < floor(round(rate, 9) * 10000)
      GROUP BY d.source
    )
    SELECT r.source, r.n_docs,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           round(rate + 1e-12, 9) AS rate
    FROM rates r LEFT JOIN kept k ON k.source = r.source
    """,
)
def corpus_temperature_resample(spark, sf_dir):
    # temperature-based source rebalancing (kept_s ∝ n_s^0.5, smallest
    # source kept whole) via deterministic hash-mod acceptance — the
    # domain-mix downsampling step of a training-data recipe.
    docs = Catalog(spark, sf_dir).documents
    return textops.temperature_resample(docs, alpha=0.5)


@register(
    "corpus_mixture_plan",
    oracle="""
    WITH toks AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(
                    string_split_regex(lower(text), '\\s+'),
                    x -> length(x) > 0))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    z AS (SELECT sum(pow(n_tokens, 0.5)) AS z, sum(n_tokens) AS t_total
          FROM toks)
    SELECT source, n_docs, n_tokens,
           round(pow(n_tokens, 0.5) / z + 1e-12, 9) AS weight,
           round(pow(n_tokens, 0.5) / z * t_total / n_tokens + 1e-12, 9)
             AS epochs
    FROM toks, z
    """,
)
def corpus_mixture_plan(spark, sf_dir):
    # per-source mixing plan: temperature-flattened token weights and the
    # implied epochs-per-source for a one-corpus-size training run — the
    # summary a data-recipe review reads before launching a mix.
    docs = Catalog(spark, sf_dir).documents
    return textops.mixture_plan(docs, alpha=0.5)


@register(
    "corpus_split_contamination",
    oracle="""
    WITH sp AS (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS gram
      FROM ws, unnest(range(1, greatest(len(w) - 2, 1))) t(i)
      WHERE len(w) >= 4
    )
    SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared
    FROM grams g
    JOIN sp ON sp.doc_id = g.doc_id AND sp.split = 'test'
    JOIN (SELECT DISTINCT gram FROM grams JOIN sp USING (doc_id)
          WHERE split = 'train') tr
      ON g.gram = tr.gram
    GROUP BY g.doc_id
    """,
)
def corpus_split_contamination(spark, sf_dir):
    # held-out-integrity gate: 4-gram leakage from the train split into
    # each test doc under the deterministic hash split — run before
    # publishing a train/val/test partition.
    docs = Catalog(spark, sf_dir).documents
    return textops.split_contamination(docs, n=4)


# --- embedding quantization (beyond-reference: 100 TB footprint path) ------

@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM v
    )
    SELECT vec_id, round(scale, 9) AS scale,
           CASE WHEN scale > 0
                THEN array_to_string(
                       list_transform(v,
                         x -> CAST(CAST(round(x / scale) AS INT) AS VARCHAR)),
                       ',')
                ELSE array_to_string(list_transform(v, x -> '0'), ',')
           END AS codes
    FROM s
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    # symmetric per-vector int8 quantization (4x footprint cut for the
    # embedding column at 100 TB): scale = max|v|/127, codegen'd
    # transform, codes emitted as a joined string so the hash compare is
    # representation-stable (operators/quantize.py).
    from nornicdb_spark.operators import quantize

    emb = Catalog(spark, sf_dir).embeddings
    q = quantize.quantize_int8(emb)
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), ","
        ).alias("codes"),
    )


@register(
    "embedding_quantization_error",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    rt AS (
      SELECT vec_id, v, scale,
             list_transform(v,
               x -> abs(x - CAST(round(x / scale) AS INT) * scale)) AS err
      FROM s WHERE scale > 0
    )
    SELECT vec_id, round(scale, 9) AS scale,
           round(list_max(err), 9) AS max_abs_err,
           round(list_sum(list_transform(err, e -> e * e)) / len(v), 9)
             AS mse,
           CAST(list_max(err) <= scale / 2 + 1e-12 AS BIGINT) AS bound_ok
    FROM rt
    """,
)
def embedding_quantization_error(spark, sf_dir):
    # round-trip reconstruction error per vector with the scale/2 bound
    # checked IN the result — a quantization regression flips bound_ok
    # rows to 0 and the driver hash goes red.
    from nornicdb_spark.operators import quantize

    emb = Catalog(spark, sf_dir).embeddings
    err = quantize.quantization_error(emb).filter(F.col("scale") > 0)
    return err.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.round("max_abs_err", 9).alias("max_abs_err"),
        F.round("mse", 9).alias("mse"),
        "bound_ok",
    )


@register(
    "dedup_substring_spans",
    oracle="""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> length(x) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
      FROM ws, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= 8
                  THEN 0 ELSE 1 END AS brk
      FROM d
    ),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM isl
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM grp GROUP BY doc_id, grp
    """,
)
def dedup_substring_spans(spark, sf_dir):
    # span-level exact-substring dedup (Lee et al. 2022): maximal token
    # spans whose 8-token windows repeat anywhere in the corpus — finds
    # boilerplate inside otherwise-unique docs that doc-level dedup
    # (exact/MinHash/SimHash rows above) cannot see.
    docs = Catalog(spark, sf_dir).documents
    return textops.dup_spans(docs, min_len=8)


@register(
    "text_bigram_logprob",
    oracle="""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> length(x) > 0) AS w
      FROM documents
    ),
    pr AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM ws, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
    ),
    toks AS (SELECT doc_id, unnest(w) AS word FROM ws),
    uni AS (SELECT word, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY word),
    big AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
            FROM pr GROUP BY w1, w2),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM uni)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln(0.9 * c12 / u1.c + 0.1 * u2.c / total)), 9)
             AS mean_logprob
    FROM pr JOIN big USING (w1, w2)
            JOIN uni u1 ON pr.w1 = u1.word
            JOIN uni u2 ON pr.w2 = u2.word, total
    GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark, sf_dir):
    # interpolated bigram-LM mean log-probability per doc (CCNet-style
    # perplexity quality proxy) — one model order above
    # text_unigram_logprob, same corpus-self-trained posture.
    docs = Catalog(spark, sf_dir).documents
    return textops.bigram_logprob(docs)


@register(
    "embedding_random_projection",
    oracle="""
    WITH sg AS (
      SELECT j, i,
             CASE WHEN CAST(('0x' || substr(md5('rp:' || i || ':' || j), 1, 15))
                       AS BIGINT) % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM (SELECT unnest(range(16)) AS j), (SELECT unnest(range(64)) AS i)
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id, j AS dim, round(sum(v[i + 1] * s) / 4.0, 9) AS val
    FROM v, sg
    GROUP BY vec_id, j
    """,
)
def embedding_random_projection(spark, sf_dir):
    # Johnson-Lindenstrauss 64->16 reduction with the deterministic
    # hash-sign matrix (Achlioptas +/-1) — the pre-reduction in front of
    # ANN/clustering that shrinks every downstream shuffle 4x; signs live
    # in the plan as literals, zero shuffles, zero Python. The oracle
    # regenerates the identical matrix from the same md5 rule.
    from nornicdb_spark.operators import quantize

    emb = Catalog(spark, sf_dir).embeddings
    rp = quantize.random_projection(emb, in_dim=64, out_dim=16)
    return rp.select(
        "vec_id", F.posexplode("rp").alias("dim", "val")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.round("val", 9).alias("val"),
    )


@register(
    "dedup_substring_mask",
    oracle="""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> length(x) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
      FROM ws, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= 8
                  THEN 0 ELSE 1 END AS brk
      FROM d
    ),
    gg AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM isl
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      FROM gg GROUP BY doc_id, grp
    ),
    toks AS (
      SELECT doc_id, i - 1 AS pos, w[i] AS tok
      FROM ws, unnest(generate_series(1, len(w))) AS t(i)
    ),
    keep AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.s AND s.e
      )
    )
    SELECT w0.doc_id,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text,
           CAST(len(w0.w) - count(k.tok) AS BIGINT) AS n_removed
    FROM ws w0 LEFT JOIN keep k ON w0.doc_id = k.doc_id
    GROUP BY w0.doc_id, len(w0.w)
    """,
)
def dedup_substring_mask(spark, sf_dir):
    # the action half of dedup_substring_spans: documents rewritten with
    # their corpus-duplicated 8-token spans removed (Lee et al. 2022's
    # actual training-set transform); clean_text + removed-token count,
    # span-free docs pass through untouched.
    docs = Catalog(spark, sf_dir).documents
    return textops.mask_dup_spans(docs, min_len=8)


_TFIDF_CTES = """
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> length(x) > 0)) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, word
    ),
    dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
          FROM documents),
    contrib AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('tfidf:' || word), 1, 15)) AS BIGINT)
               % 64 AS dim,
             tf * ln((n_docs + 1.0) / (df + 1.0)) AS val
      FROM tf JOIN dfq USING (word), n
    ),
    agg AS (
      SELECT doc_id, dim, round(sum(val), 9) AS val
      FROM contrib GROUP BY doc_id, dim
    )
"""


@register(
    "text_tfidf_vectors",
    oracle="WITH "
    + _TFIDF_CTES
    + """,
    dims AS (SELECT unnest(range(64)) AS dim),
    docs_t AS (SELECT DISTINCT doc_id FROM toks)
    SELECT d.doc_id, CAST(dims.dim AS BIGINT) AS dim,
           coalesce(agg.val, 0.0) AS val
    FROM docs_t d CROSS JOIN dims
    LEFT JOIN agg ON agg.doc_id = d.doc_id AND agg.dim = dims.dim
    """,
)
def text_tfidf_vectors(spark, sf_dir):
    # feature-hashed TF-IDF document vectors (hashing trick): a dense
    # 64-dim vector per doc without any model — the bridge from the
    # text family to the vector family (cosine/knn/RP/IVF downstream).
    # The md5 dim hash is the dedup-family convention, so the oracle
    # regenerates identical dims; emitted unnested (doc_id, dim, val).
    docs = Catalog(spark, sf_dir).documents
    vec = textops.tfidf_vectors(docs, k=64)
    return vec.select(
        "doc_id", F.posexplode("vec").alias("dim", "val")
    ).select("doc_id", F.col("dim").cast("long").alias("dim"), "val")


@register(
    "text_similar_docs_tfidf",
    oracle="WITH "
    + _TFIDF_CTES
    + """,
    q AS (SELECT dim, val FROM agg WHERE doc_id = 0),
    dots AS (
      SELECT a.doc_id, sum(a.val * q.val) AS dot
      FROM agg a JOIN q USING (dim) GROUP BY a.doc_id
    ),
    norms AS (
      SELECT doc_id, sqrt(sum(val * val)) AS nrm FROM agg GROUP BY doc_id
    ),
    qn AS (SELECT sqrt(sum(val * val)) AS qnrm FROM q)
    SELECT d.doc_id,
           round(d.dot / (nm.nrm * qn.qnrm), 9) AS score
    FROM dots d JOIN norms nm USING (doc_id), qn
    WHERE nm.nrm > 0 AND d.doc_id <> 0
      AND round(d.dot / (nm.nrm * qn.qnrm), 9) > 0
    ORDER BY round(d.dot / (nm.nrm * qn.qnrm), 9) DESC, d.doc_id
    LIMIT 10
    """,
)
def text_similar_docs_tfidf(spark, sf_dir):
    # nearest documents to doc 0 by hashed-TFIDF cosine — the composed
    # consumer of text_tfidf_vectors: a model-free similarity search
    # over the corpus (rounded-score/doc_id tie-break, query doc and
    # zero-norm docs excluded; docs sharing no dim with the query drop
    # via the dot-product join on both engines).
    from nornicdb_spark.operators.scope import CkptScope
    from nornicdb_spark.search.vector import dot, norm

    docs = Catalog(spark, sf_dir).documents
    # checkpoint the vectors ONCE: the query-row collect below otherwise
    # materializes the full tfidf pipeline (explode + 3 shuffles) a first
    # time and the scoring pass recomputes it end-to-end a second time
    scope = CkptScope()
    v = scope.ckpt(textops.tfidf_vectors(docs, k=64))
    qrow = v.filter(F.col("doc_id") == 0).select("vec").collect()
    if not qrow:
        raise ValueError(
            "text_similar_docs_tfidf: query doc_id 0 has no tokens in "
            "this corpus (tfidf_vectors emits only token-bearing docs)"
        )
    qv = qrow[0][0]
    qn = sum(float(x) * float(x) for x in qv) ** 0.5
    if qn == 0.0:
        raise ValueError(
            "text_similar_docs_tfidf: query doc 0 has a zero-norm "
            "vector (every word appears in every doc) — no direction "
            "to rank by"
        )
    # norm filter BEFORE the division: under ANSI mode a zero-norm doc
    # (all its words corpus-universal -> idf 0) would raise
    # DIVIDE_BY_ZERO, not yield NULL — the oracle's WHERE nrm > 0 twin
    scored = (
        v.filter(F.col("doc_id") != 0)
        .select(
            "doc_id",
            dot(F.col("vec"), lit_expr(qv)).alias("_d"),
            norm(F.col("vec")).alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .select(
            "doc_id",
            F.round(F.col("_d") / (F.col("_n") * F.lit(qn)), 9).alias(
                "score"
            ),
        )
    )
    out = (
        scored.filter(F.col("score") > 0.0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )
    return scope.finish(out, keep=(v,))


@register(
    "corpus_source_report",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, source,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                  AS DOUBLE) AS alpha,
             CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
                  AS DOUBLE) AS punct,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> length(x) > 0) AS w,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, source, len(w) AS n_tokens, fp,
             0.5 * (alpha / n) + 0.3 * (1 - punct / n)
               + 0.2 * least((CASE WHEN len(w) > 0
                   THEN CAST(len(list_filter(w, x -> x IN
                        ('the','and','of','to','is','in','that','it','for','on')))
                        AS DOUBLE) / len(w) ELSE 0.0 END) * 5, 1.0) AS quality,
             CASE WHEN {_lang_score_sql('en')} =
                       greatest({_lang_score_sql('de')}, {_lang_score_sql('en')},
                                {_lang_score_sql('es')})
                   AND NOT {_lang_score_sql('de')} =
                       greatest({_lang_score_sql('de')}, {_lang_score_sql('en')},
                                {_lang_score_sql('es')})
                  THEN 1 ELSE 0 END AS is_en
      FROM base
    ),
    dup AS (SELECT fp FROM per_doc GROUP BY fp HAVING count(*) > 1)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality), 9) AS avg_quality,
           CAST(sum(CASE WHEN fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           CAST(sum(is_en) AS BIGINT) AS n_en
    FROM per_doc GROUP BY source
    """,
)
def corpus_source_report(spark, sf_dir):
    # the dataset-card table: per-source doc/token counts, mean quality,
    # corpus-wide exact-duplicate membership, and en-predicted counts —
    # one composed pass over the existing text operators (quality,
    # fingerprints, language-ID), every column oracle-replicated.
    docs = Catalog(spark, sf_dir).documents
    q = textops.quality_scores(docs).select("doc_id", "quality")
    li = textops.language_id(docs).select("doc_id", "lang_pred")
    fp = textops.fingerprints(docs)
    dup = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("_c")).filter(
        F.col("_c") > 1
    ).select("fingerprint")
    per_doc = (
        docs.select(
            "doc_id",
            "source",
            F.size(textops._words(F.col("text"))).alias("n_tokens"),
        )
        .join(q, "doc_id")
        .join(li, "doc_id")
        .join(fp, "doc_id")
        .join(
            dup.withColumn("_dup", F.lit(1)), "fingerprint", "left"
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality"), 9).alias("avg_quality"),
        F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("n_dup"),
        F.sum((F.col("lang_pred") == "en").cast("int")).cast("long").alias("n_en"),
    )


_WEIGHTED_SAMPLE_ORACLE = """
    WITH base AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> length(x) > 0)) AS DOUBLE) AS weight,
             (CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) + 1.0)
               / 1152921504606846976.0 AS u
      FROM documents
    )
    SELECT doc_id, weight, round(pow(u, 1.0 / weight), 9) AS key
    FROM base WHERE weight > 0
    ORDER BY round(pow(u, 1.0 / weight), 9) DESC, doc_id
    LIMIT 50
    """


@register("corpus_weighted_sample", oracle=_WEIGHTED_SAMPLE_ORACLE)
def corpus_weighted_sample(spark, sf_dir):
    # deterministic length-weighted sample of 50 docs (Efraimidis-
    # Spirakis A-Res, hash-derived uniforms): inclusion probability
    # proportional to token count, no replacement, reproducible across
    # runs/retries/partitionings — the one-pass way to cut a weighted
    # training subset; TakeOrderedAndProject, no corpus shuffle.
    docs = Catalog(spark, sf_dir).documents
    w = F.size(textops._words(F.col("text")))
    return textops.weighted_sample(
        docs.select("doc_id", w.alias("_w"), "text"), n=50, weight_col="_w"
    )


@register(
    "corpus_weighted_sample_per_source",
    oracle="""
    WITH base AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> length(x) > 0)) AS DOUBLE) AS weight,
             (CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) + 1.0)
               / 1152921504606846976.0 AS u
      FROM documents
    ),
    keyed AS (
      SELECT source, doc_id, weight,
             round(pow(u, 1.0 / weight), 9) AS key
      FROM base WHERE weight > 0
    ),
    ranked AS (
      SELECT source, doc_id, weight, key,
             row_number() OVER (PARTITION BY source
                                ORDER BY key DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT source, doc_id, weight, key FROM ranked WHERE rn <= 10
    """,
)
def corpus_weighted_sample_per_source(spark, sf_dir):
    # stratified weighted sampling: 10 length-weighted winners PER
    # source via one window over the A-Res keys — the per-domain quota
    # cut of a mixture pipeline, deterministic like the global sampler.
    docs = Catalog(spark, sf_dir).documents
    w = F.size(textops._words(F.col("text")))
    return textops.weighted_sample_per_group(
        docs.select("doc_id", "source", w.alias("_w"), "text"),
        n_per_group=10,
        weight_col="_w",
        group_col="source",
    )


# shared verbatim by stream_weighted_sample: per-batch A-Res top-n
# candidate sets are mergeable, so the maintained reservoir's sample()
# is byte-identical to the batch weighted_sample over the same corpus —
# one oracle checks both (the stream_dedup_exact posture).
@register("stream_weighted_sample", oracle=_WEIGHTED_SAMPLE_ORACLE)
def stream_weighted_sample(spark, sf_dir):
    # the weighted reservoir as a MAINTAINED index
    # (streaming/sketches.py MaintainedSampleIndex): documents ingested
    # in 3 deterministic batches, each contributing its local A-Res
    # top-50, served by a global re-rank of the tiny candidate log.
    import shutil

    from nornicdb_spark.streaming.sketches import MaintainedSampleIndex

    docs = Catalog(spark, sf_dir).documents
    w = F.size(textops._words(F.col("text")))
    prepped = docs.select("doc_id", w.cast("double").alias("weight"))
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    path = f"/root/repo/.tmp/sampleidx_{tag}"
    shutil.rmtree(path, ignore_errors=True)  # rebuild: deterministic run
    idx = MaintainedSampleIndex(spark, path, n=50)
    for b in range(3):
        idx.process_batch(
            prepped.filter(F.col("doc_id") % 3 == b), batch_id=b
        )
    return idx.sample()
