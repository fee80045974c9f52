"""BM25 fulltext search as a posting-list DataFrame pipeline.

Semantics match the reference index (pkg/search/fulltext_index.go):
- tokenize: lowercase → split on non-alphanumeric → drop tokens shorter
  than 2 chars → drop the fixed stopword list (fulltext_index.go:249-286)
- k1 = 1.2, b = 0.75 (fulltext_index.go:14-15)
- IDF = ln(1 + (N - df + 0.5)/(df + 0.5)), floored at 0
  (fulltext_index.go:205-215, the Lucene non-negative variant)
- score(doc) = Σ_terms idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  (fulltext_index.go:138-152); optional prefix matching contributes
  matched indexed terms at 0.8·idf (fulltext_index.go:157-171).

The reference keeps an in-memory inverted index per engine; at 100 TB the
index IS a DataFrame: ``postings(term, doc_id, tf)`` partitioned by term —
a query is a broadcast join of query terms against it, then one agg per
doc. All JVM-side expressions, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from nornicdb_spark.operators.localframe import literal_df, sql_literal
from nornicdb_spark.search.hybrid import top_k

K1 = 1.2
B = 0.75

# Mirror of the reference's minimal stopword list (fulltext_index.go:275-286).
STOPWORDS = (
    "a an and are as at be by for from has have he in is it its of on or "
    "that the to was were with this but they we you your my their been do "
    "does did"
).split()

TOKEN_SPLIT = r"[^\p{L}\p{N}]+"


def tokens_col(text_col) -> F.Column:
    """Tokenize a string column per reference semantics → array<string>."""
    raw = F.split(F.lower(text_col), TOKEN_SPLIT)
    return F.filter(
        raw, lambda t: (F.length(t) >= 2) & ~t.isin(*STOPWORDS)
    )


def tokenize_query(query: str) -> list[str]:
    """Driver-side tokenization of a query string — the SAME Unicode
    rule as the corpus-side :func:`tokens_col` and the engine-side
    :func:`query_terms_table` (reference tokenize() splits on
    ``!unicode.IsLetter && !unicode.IsDigit``, fulltext_index.go:254-256;
    Python's ``\\w`` minus underscore is that class). One rule on every
    path: a non-ASCII query scores identically through ``search()``,
    ``search_many`` and the DuckDB oracles (which use RE2's
    ``[^\\p{L}\\p{N}]+``)."""
    import re

    out = []
    for tok in re.split(r"[\W_]+", query.lower()):
        if len(tok) >= 2 and tok not in STOPWORDS:
            out.append(tok)
    return out


class BM25Index:
    """Posting-list index over a document DataFrame.

    ``postings``: (term, doc_id, tf); ``doc_lens``: (doc_id, dl);
    ``n_docs``/``avgdl``: corpus stats. Build once, query many — callers
    should ``.cache()`` postings for repeated queries.
    """

    def __init__(self, postings: DataFrame, doc_lens: DataFrame, n_docs: int, avgdl: float):
        self.postings = postings
        self.doc_lens = doc_lens
        self.n_docs = n_docs
        self.avgdl = avgdl

    @classmethod
    def build(cls, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> "BM25Index":
        from nornicdb_spark.operators.dedup import spread

        docs = spread(docs)  # single-file corpora arrive as 1 partition
        toks = docs.select(
            F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("tokens")
        )
        # Materialize the index ONCE (the analogue of the reference
        # building its in-memory inverted index, fulltext_index.go):
        # postings carry the doc length denormalized per row — dl is the
        # size of the tokenized array, computed BEFORE the explode and
        # carried through the groupBy as a (functionally dependent)
        # grouping key, so no second shuffle and no lengths join at query
        # time. A search reads the checkpoint, filters by term,
        # aggregates. At 100 TB the checkpoint is a persisted table
        # partitioned by term.
        postings = (
            toks.select(
                "doc_id", F.size("tokens").alias("dl"),
                F.explode("tokens").alias("term"),
            )
            .groupBy("term", "doc_id", "dl")
            .agg(F.count(F.lit(1)).alias("tf"))
            .localCheckpoint(eager=True)
        )
        # N counts EVERY document (reference: index size) — a
        # metadata-only parquet count; avgdl averages docs with ≥1
        # indexed token (the checkpoint's distinct doc rows), matching
        # the oracle's unnest-based length table.
        n_docs = docs.count()
        doc_lens = postings.select("doc_id", "dl").distinct()
        avgdl = doc_lens.agg(F.avg("dl")).collect()[0][0]
        return cls(postings, doc_lens, int(n_docs), float(avgdl or 0.0))

    @classmethod
    def build_weighted(
        cls,
        docs: DataFrame,
        fields: dict[str, float],
        id_col: str = "doc_id",
    ) -> "BM25Index":
        """Field-weighted index — the batch re-expression of the
        reference's priority-property ranking (search.go:96-110
        SearchableProperties: priority fields are indexed first so they
        rank higher). Simple BM25F (Robertson): per-term weighted tf =
        Σ_f w_f·tf_f, doc length = Σ_f w_f·len_f, idf over docs matching
        in ANY field. The resulting postings have the same (term, doc_id,
        dl, tf) shape, so exact and prefix search run unchanged."""
        from nornicdb_spark.operators.dedup import spread

        docs = spread(docs)
        per_field = None
        dl_expr = None
        for fcol, w in fields.items():
            toks = docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(
                    tokens_col(F.coalesce(F.col(fcol), F.lit("")))
                ).alias("term"),
                F.lit(float(w)).alias("w"),
            )
            per_field = toks if per_field is None else per_field.unionByName(toks)
            fl = F.size(tokens_col(F.coalesce(F.col(fcol), F.lit("")))) * float(w)
            dl_expr = fl if dl_expr is None else dl_expr + fl
        dls = docs.select(
            F.col(id_col).alias("doc_id"), dl_expr.alias("dl")
        )
        postings = (
            per_field.groupBy("term", "doc_id")
            .agg(F.sum("w").alias("tf"))
            .join(dls, "doc_id")
            .select("term", "doc_id", "dl", "tf")
            .localCheckpoint(eager=True)
        )
        n_docs = docs.count()
        doc_lens = postings.select("doc_id", "dl").distinct()
        avgdl = doc_lens.agg(F.avg("dl")).collect()[0][0]
        return cls(postings, doc_lens, int(n_docs), float(avgdl or 0.0))

    def search(self, query: str, k: int = 10, prefix: bool = False) -> DataFrame:
        """Top-k BM25 — returns (doc_id, score), ties broken by doc_id.

        ``prefix=True`` adds the reference's prefix-match expansion:
        indexed terms strictly extending a query term score at 0.8·idf
        (fulltext_index.go:157-171).
        """
        terms = tokenize_query(query)
        if not terms:
            return literal_df(self.postings.sparkSession, 
                [], "doc_id long, score double"
            )
        spark = self.postings.sparkSession
        qdf = literal_df(spark, [(t,) for t in terms], "qterm string")

        # Candidate pre-filter: only postings whose term can match the
        # query contribute — df (per matched indexed term) and the score
        # join then run over the tiny filtered slice, not the full index.
        if prefix:
            match_any = F.col("term").isin(*terms)
            for t in terms:
                match_any = match_any | F.col("term").startswith(t)
            cand = self.postings.filter(match_any)
        else:
            # exact mode needs no join against the query terms — the
            # isin pre-filter already selects them
            cand = self.postings.filter(F.col("term").isin(*terms))
            return score_exact_candidates(
                cand, terms, self.n_docs, self.avgdl, k
            )

        # a term may match several query terms (exact for one, prefix
        # for another) — the qdf join fans contributions out per match
        cond = (F.col("term") == F.col("qterm")) | (
            F.col("term").startswith(F.col("qterm"))
            & (F.col("term") != F.col("qterm"))
        )
        weight = (
            f"CASE WHEN term = qterm THEN {sql_literal(1.0)}"
            f" ELSE {sql_literal(0.8)} END"
        )
        matched = _with_df(cand).join(F.broadcast(qdf), cond)
        scored = matched.groupBy("doc_id").agg(
            F.expr(bm25_sum_sql(weight, self.n_docs, self.avgdl))
        )
        return top_k(scored, k, "score", "doc_id")


    def search_many(
        self,
        queries: DataFrame,
        k: int = 10,
        qid_col: str = "query_id",
        qtext_col: str = "query_text",
    ) -> DataFrame:
        """Batched exact-term BM25: score a whole query TABLE in one
        pass — (query_id, doc_id, score), top-k per query, same
        per-query results as :meth:`search` (ties by doc_id on the
        9-digit-rounded score). This is the serving-throughput shape at
        scale: q queries cost ONE scan of the postings slice whose
        terms appear in ANY query (a broadcast semi-join prunes the
        index; the reference serves queries one at a time over Bolt —
        pkg/search/fulltext_index.go Search — which on Spark would be q
        driver round trips and q scans). Queries are tokenized
        Spark-side with the same rules; a repeated word in one query
        multiplies its term's contribution exactly as the single-query
        path does; a query with no indexable tokens contributes no
        output rows."""
        qterms = query_terms_table(queries, qid_col, qtext_col)
        # prune the index to terms any query mentions (bounded: the
        # query batch is driver-scale, the postings are corpus-scale)
        cand = self.postings.join(
            F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
        )
        return score_many_candidates(cand, qterms, self.n_docs, self.avgdl, k)


def query_terms_table(
    queries: DataFrame, qid_col: str = "query_id", qtext_col: str = "query_text"
) -> DataFrame:
    """(query_id, term, qw) from a query table — engine-side
    tokenization (same rules as the corpus side); qw = the word's count
    within its query, the batched analogue of the repeated-query-word
    literal weight in :func:`score_exact_candidates`."""
    return (
        queries.select(
            F.col(qid_col).alias("query_id"),
            F.explode(tokens_col(F.col(qtext_col))).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("qw"))
    )


def score_many_candidates(
    cand: DataFrame, qterms: DataFrame, n_docs: int, avgdl: float, k: int
) -> DataFrame:
    """Batched BM25 scoring over a pre-pruned postings slice (every term
    of every query present in full): per-(query_id, doc_id) aggregation
    + per-query window top-k. Shared by the static index's
    ``search_many`` and the maintained index's term-pruned batched probe
    (streaming/fulltext.py) — the :func:`score_exact_candidates`
    sharing discipline, batched."""
    scored = (
        _with_df(cand)
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.expr(bm25_sum_sql("qw", n_docs, avgdl)))
    )
    return top_k(scored, k, "score", "doc_id", by=("query_id",)).select(
        "query_id", "doc_id", "score"
    )


def score_exact_candidates(
    cand: DataFrame, terms: list[str], n_docs: int, avgdl: float, k: int
) -> DataFrame:
    """Exact-term BM25 scoring over a pre-filtered postings slice
    (term ∈ terms) — shared by the static index's exact path and the
    maintained index's term-pruned probe (streaming/fulltext.py). A
    repeated query word multiplies its term's contribution, preserved
    as a literal weight."""
    from collections import Counter

    weight = sql_literal(1.0)
    for t, c in Counter(terms).items():
        if c > 1:
            weight = (
                f"CASE WHEN term = {sql_literal(t)}"
                f" THEN {sql_literal(float(c))} ELSE {weight} END"
            )
    scored = _with_df(cand).groupBy("doc_id").agg(
        F.expr(bm25_sum_sql(weight, n_docs, avgdl))
    )
    return top_k(scored, k, "score", "doc_id")


def _with_df(cand: DataFrame) -> DataFrame:
    """A postings slice joined with each of its terms' document
    frequency ``df`` within the slice."""
    return cand.join(cand.groupBy("term").agg(F.count(F.lit(1)).alias("df")), "term")


def bm25_sum_sql(weight: str, n_docs: int, avgdl: float) -> str:
    """``sum(...) AS score`` of the BM25 term contributions, as SQL text
    over (tf, dl, df) rows: Σ weight · idf · tf·(K1+1) / (tf + K1·(1 −
    B + B·dl/avgdl)), idf = max(ln(1 + (N − df + 0.5)/(df + 0.5)), 0).
    ``weight`` is the SQL text of each row's query-term weight: the
    repeat count of the word, the ``qw`` column of a query table, or
    0.8 for a prefix match. The operands are in the order the
    Column-expression form of this formula planned them, so the doubles
    are the same."""
    lit = sql_literal
    tf = "CAST(tf AS DOUBLE)"
    idf = (
        f"greatest(ln((((({int(n_docs)} - df) + {lit(0.5)}) / (df + {lit(0.5)}))"
        f" + 1)), {lit(0.0)})"
    )
    # tf + K1 * (1 - B + B * dl / avgdl)
    denom = (
        f"({tf} + (((((dl * {lit(B)}) / {lit(float(avgdl))}) + {lit(1 - B)}))"
        f" * {lit(K1)}))"
    )
    return (
        f"sum((({weight}) * {idf}) * (({tf} * {lit(K1 + 1)}) / {denom})) AS score"
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    limit: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase match (reference fulltext_index.go:291-318
    PhraseSearch): documents whose lowercased text CONTAINS the
    lowercased phrase, scored by how early it first appears —
    score = 1/(1 + idx/100) — sorted descending, top ``limit``. One
    codegen'd scan (locate + arithmetic), no index needed; at 100 TB
    this is a full-text predicate scan that parallelizes trivially and
    prunes to (id, text) columns. Two deliberate determinism deltas
    from the Go code: positions are CHARACTER offsets (Go uses byte
    offsets — identical on ASCII text, and chars are the principled
    unit), and ties break by doc id (the reference's sort.Slice leaves
    equal scores in arbitrary order)."""
    pos = F.locate(phrase.lower(), F.lower(F.col(text_col)))  # 1-based, 0=miss
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        (1.0 / (1.0 + (pos - 1).cast("double") / 100.0)).alias("score"),
    ).where(pos > 0)
    return top_k(scored, limit, "score", "doc_id")


def phrase_oracle_sql(phrase: str, limit: int = 10) -> str:
    """DuckDB replica of :func:`phrase_search` on ``documents``."""
    p = phrase.lower().replace("'", "''")
    return f"""
    SELECT doc_id,
           1.0 / (1.0 + (strpos(lower(text), '{p}') - 1) / 100.0) AS score
    FROM documents
    WHERE strpos(lower(text), '{p}') > 0
    ORDER BY round(score, 9) DESC, doc_id LIMIT {limit}
    """


def _shared_memo():
    # lazy: scope imports bm25-adjacent modules; keep import cycles out
    from nornicdb_spark.operators.scope import SessionMemo

    global _SHARED_INDEXES
    if not isinstance(_SHARED_INDEXES, SessionMemo):
        _SHARED_INDEXES = SessionMemo()
    return _SHARED_INDEXES


_SHARED_INDEXES = None  # becomes a SessionMemo on first use


def shared_index(docs: DataFrame, key: str, id_col: str = "doc_id",
                 text_col: str = "text") -> BM25Index:
    """Process-wide BM25Index memo keyed by (session, corpus key) — the
    batch analogue of the reference's persistent per-engine inverted
    index (fulltext_index.go): build once, query many. All registry
    queries over one sf_dir share a single postings checkpoint. A
    :class:`~nornicdb_spark.operators.scope.SessionMemo` (not a plain
    dict): entries of STOPPED sessions are evicted on every touch, so a
    new session reusing a dead session's ``id()`` can never read a
    stale index, and dead checkpoints don't pin the interpreter."""
    memo = _shared_memo()
    spark = docs.sparkSession
    hit = memo.get(spark, key)
    if hit is None:
        hit = memo.put(
            spark, key, BM25Index.build(docs, id_col=id_col, text_col=text_col)
        )
    return hit


def bm25_oracle_sql(query: str, k: int = 10, doc_filter: str | None = None) -> str:
    """DuckDB SQL replicating BM25Index.search(query, k) on ``documents``
    — the correctness oracle (same tokenizer, same constants).
    ``doc_filter``: optional SQL predicate restricting the corpus (e.g.
    ``doc_id NOT IN (…)`` — the oracle for live-index removal: N,
    avgdl, df and the postings all shift to the remaining corpus)."""
    terms = tokenize_query(query)
    stoplist = ",".join(f"'{w}'" for w in STOPWORDS)
    termlist = ",".join(f"('{t}')" for t in terms)
    corpus = (
        f"(SELECT * FROM documents WHERE {doc_filter})"
        if doc_filter
        else "documents"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, t.tok AS term
      FROM {corpus} AS documents,
           unnest(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+')) AS t(tok)
      WHERE length(t.tok) >= 2 AND t.tok NOT IN ({stoplist})
    ),
    doc_lens AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM {corpus} AS documents) AS n,
             (SELECT avg(dl) FROM doc_lens) AS avgdl
    ),
    postings AS (
      SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY term),
    q(qterm) AS (VALUES {termlist})
    SELECT doc_id,
           sum(greatest(ln(1 + (stats.n - df + 0.5)/(df + 0.5)), 0)
               * tf * ({K1} + 1)
               / (tf + {K1} * (1 - {B} + {B} * dl / stats.avgdl))) AS score
    FROM postings
    JOIN dfreq USING (term)
    JOIN q ON postings.term = q.qterm
    JOIN doc_lens USING (doc_id), stats
    GROUP BY doc_id
    ORDER BY round(score, 9) DESC, doc_id LIMIT {k}
    """


def bm25_multi_oracle_sql(queries: list[tuple[int, str]], k: int = 10) -> str:
    """DuckDB SQL replicating BM25Index.search_many on ``documents`` for
    a fixed (query_id, query_text) batch — per-query term weights are
    tokenized driver-side exactly as the Spark path tokenizes them
    engine-side, so both sides score the identical (query_id, term, qw)
    table."""
    from collections import Counter

    stoplist = ",".join(f"'{w}'" for w in STOPWORDS)
    rows = []
    for qid, qtext in queries:
        for t, c in Counter(tokenize_query(qtext)).items():
            rows.append(f"({int(qid)}, '{t}', {float(c)})")
    if not rows:
        # 'VALUES ' with zero rows is a syntax error at oracle
        # registration time — refuse loudly instead. (The Spark path
        # returns an empty frame for such a batch; a batch whose EVERY
        # query is stopwords/short tokens has no SQL-expressible oracle.)
        raise ValueError(
            "bm25_multi_oracle_sql: every query in the batch tokenized "
            "to nothing (stopwords / <2-char tokens only) — cannot emit "
            "an empty VALUES list. Drop the oracle for this batch or "
            "include at least one indexable query."
        )
    values = ",".join(rows)
    return f"""
    WITH toks AS (
      SELECT doc_id, t.tok AS term
      FROM documents,
           unnest(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+')) AS t(tok)
      WHERE length(t.tok) >= 2 AND t.tok NOT IN ({stoplist})
    ),
    doc_lens AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
             (SELECT avg(dl) FROM doc_lens) AS avgdl
    ),
    postings AS (
      SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY term),
    q(query_id, qterm, qw) AS (VALUES {values}),
    scored AS (
      SELECT q.query_id, doc_id,
             sum(qw * greatest(ln(1 + (stats.n - df + 0.5)/(df + 0.5)), 0)
                 * tf * ({K1} + 1)
                 / (tf + {K1} * (1 - {B} + {B} * dl / stats.avgdl))) AS score
      FROM postings
      JOIN dfreq USING (term)
      JOIN q ON postings.term = q.qterm
      JOIN doc_lens USING (doc_id), stats
      GROUP BY q.query_id, doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY round(score, 9) DESC, doc_id
    ) <= {int(k)}
    ORDER BY query_id, round(score, 9) DESC, doc_id
    """


def bm25_prefix_oracle_sql(query: str, k: int = 10) -> str:
    """DuckDB SQL replicating BM25Index.search(query, k, prefix=True):
    indexed terms strictly extending a query term contribute at 0.8·idf
    alongside exact matches at 1.0·idf (reference
    fulltext_index.go:157-171). df/idf are per matched INDEXED term; a
    term matching several query terms contributes once per match. The
    output score is rounded to 9 decimals on both sides (float-sum
    partition-order determinism); the selection key is the ROUNDED score
    so equal-text documents fall to the doc_id tie-break identically."""
    terms = tokenize_query(query)
    stoplist = ",".join(f"'{w}'" for w in STOPWORDS)
    termlist = ",".join(f"('{t}')" for t in terms)
    return f"""
    WITH toks AS (
      SELECT doc_id, t.tok AS term
      FROM documents,
           unnest(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+')) AS t(tok)
      WHERE length(t.tok) >= 2 AND t.tok NOT IN ({stoplist})
    ),
    doc_lens AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
                 FROM toks GROUP BY doc_id),
    stats AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
             (SELECT avg(dl) FROM doc_lens) AS avgdl
    ),
    postings AS (
      SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf
      FROM toks GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
              FROM postings GROUP BY term),
    q(qterm) AS (VALUES {termlist}),
    matched AS (
      SELECT p.term, p.doc_id, p.tf, p.df, doc_lens.dl,
             CASE WHEN p.term = q.qterm THEN 1.0 ELSE 0.8 END AS w
      FROM (SELECT postings.*, dfreq.df FROM postings
            JOIN dfreq USING (term)) p
      JOIN q ON p.term = q.qterm
             OR (p.term LIKE q.qterm || '%' AND p.term <> q.qterm)
      JOIN doc_lens USING (doc_id)
    )
    SELECT doc_id, round(score, 9) AS score FROM (
      SELECT doc_id,
             sum(w * greatest(ln(1 + (stats.n - df + 0.5)/(df + 0.5)), 0)
                 * tf * ({K1} + 1)
                 / (tf + {K1} * (1 - {B} + {B} * dl / stats.avgdl))) AS score
      FROM matched, stats
      GROUP BY doc_id
      ORDER BY round(score, 9) DESC, doc_id LIMIT {k}
    )
    """


def bm25_weighted_oracle_sql(
    query: str, fields: dict[str, float], k: int = 10
) -> str:
    """DuckDB SQL replicating BM25Index.build_weighted + search — the
    field-weighted (priority-property) ranking oracle. Score rounded to
    9 decimals on both sides."""
    terms = tokenize_query(query)
    stoplist = ",".join(f"'{w}'" for w in STOPWORDS)
    termlist = ",".join(f"('{t}')" for t in terms)

    def ftoks(col: str) -> str:
        return (
            f"list_filter(string_split_regex(lower(coalesce({col}, '')), "
            f"'[^\\p{{L}}\\p{{N}}]+'), x -> length(x) >= 2 AND x NOT IN ({stoplist}))"
        )

    tok_parts = " UNION ALL ".join(
        f"SELECT doc_id, t.tok AS term, {w!r} AS w "
        f"FROM documents, unnest({ftoks(col)}) AS t(tok)"
        for col, w in fields.items()
    )
    dl_expr = " + ".join(
        f"len({ftoks(col)}) * {w!r}" for col, w in fields.items()
    )
    return f"""
    WITH toks AS ({tok_parts}),
    lens AS (SELECT doc_id, {dl_expr} AS dl FROM documents),
    postings AS (
      SELECT term, doc_id, sum(w) AS tf FROM toks GROUP BY term, doc_id
    ),
    stats AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
             (SELECT avg(dl) FROM lens WHERE dl > 0) AS avgdl
    ),
    dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
              FROM postings GROUP BY term),
    q(qterm) AS (VALUES {termlist})
    SELECT doc_id, round(score, 9) AS score FROM (
      SELECT doc_id,
             sum(greatest(ln(1 + (stats.n - df + 0.5)/(df + 0.5)), 0)
                 * tf * ({K1} + 1)
                 / (tf + {K1} * (1 - {B} + {B} * dl / stats.avgdl))) AS score
      FROM postings
      JOIN dfreq USING (term)
      JOIN q ON postings.term = q.qterm
      JOIN lens USING (doc_id), stats
      GROUP BY doc_id
      ORDER BY round(score, 9) DESC, doc_id LIMIT {k}
    )
    """
