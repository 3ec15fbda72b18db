"""LLM-training-data pipeline queries (driver north_star; SURVEY §2.12):
dedup (exact / MinHash / SimHash / n-gram Jaccard), similarity search,
text analysis, multimodal metadata.

Wherever the semantics are SQL-expressible the oracle reproduces the
exact arithmetic (portable token hash — see operators/dedup.py); the
genuinely non-SQL ops (LSH bucketed search) are registered without an
oracle → driver's rows-only check + pytest recall checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sample_spark import catalog
from etl_sample_spark.functions.text import (
    EMAIL_PATTERN,
    FINGERPRINT_MOD,
    PHONE_PATTERN,
    STOPWORDS,
    doc_fingerprint,
    lang_id_heuristic,
    quality_score,
    redact_pii,
    stopword_ratio,
    tokens,
)
from etl_sample_spark.operators.dedup import (
    contamination_flags,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signature_df,
    ngram_jaccard_pairs,
    simhash_df,
    simhash_near_duplicates,
)
from etl_sample_spark.operators.multimodal import attach_fake_media
from etl_sample_spark.pinning import pin
from etl_sample_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_bucketed_topk,
)
from etl_sample_spark.plans.registry import register
from etl_sample_spark.session import tune


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return catalog.table(spark, sf_dir, name)


_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"
# Portable token hash — MUST stay in sync with operators/dedup.py::_token_hash.
_HASH_SQL = "((131*length({t})+ascii({t}))*1000003 + ascii(reverse({t}))*31)"


# --------------------------------------------------------------------------
# L1: exact dedup
# --------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    """
    SELECT text,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           COUNT(*)                    AS n_copies
    FROM documents
    GROUP BY text
    ORDER BY keep_id
    """,
    doc="L1: exact-duplicate groups — representative id + multiplicity",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").cast("bigint").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


@register(
    "dedup_exact_keep_first",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
    ORDER BY doc_id
    """,
    doc="L1: the exact_dedup operator (sha2 bucket + deterministic top-1)",
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select("doc_id", "n_chars").orderBy("doc_id")


@register(
    "dedup_sha256_content_hash",
    """
    SELECT doc_id, sha256(text) AS content_hash
    FROM documents
    ORDER BY doc_id
    """,
    doc="L1: content-addressable hash column (identical hex in both engines)",
)
def dedup_sha256_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L4: text analysis
# --------------------------------------------------------------------------


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           n_chars,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '), t -> LENGTH(t)))
             / LEN(STRING_SPLIT(text, ' ')) AS avg_token_len,
           LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_STOP_SQL}))
             / LEN(STRING_SPLIT(text, ' ')) AS stop_ratio
    FROM documents
    ORDER BY doc_id
    """,
    doc="L4: length / token-count / avg token length / stopword ratio",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    total_len = F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        # Unrounded exact-integer ratios: bit-identical across engines.
        (total_len / F.size(toks)).alias("avg_token_len"),
        stopword_ratio(F.col("text")).alias("stop_ratio"),
    ).orderBy("doc_id")


@register(
    "text_quality_and_lang",
    f"""
    WITH base AS (
      SELECT doc_id, n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS n,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_STOP_SQL})) AS n_stop,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                             t -> t IN ('spark','vector','hash','query'))) AS n_tech
      FROM documents)
    SELECT doc_id,
           LEAST(1.0, n_chars / 500.0) * 0.5 + (1.0 - n_stop / n) * 0.5 AS quality,
           CASE WHEN n_stop / n > 0.08  THEN 'en'
                WHEN n_tech / n > 0.12  THEN 'tech'
                ELSE 'unknown' END AS lang_guess
    FROM base
    ORDER BY doc_id
    """,
    doc="L4: quality score + language-ID heuristic (deterministic, JVM-side)",
)
def text_quality_and_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality_score(F.col("text"), F.col("n_chars")).alias("quality"),
        lang_id_heuristic(F.col("text")).alias("lang_guess"),
    ).orderBy("doc_id")


@register(
    "token_count_bpe_ish",
    """
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' '))                         AS n_ws_tokens,
           LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+'))       AS n_bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="L4: whitespace + BPE-ish regex token counting",
)
def token_count_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


@register(
    "doc_fingerprints",
    f"""
    SELECT d.doc_id,
           CAST(SUM((r.i + 1) * (131*length(d.l[r.i + 1]) + ascii(d.l[r.i + 1]))) % {FINGERPRINT_MOD}
                AS BIGINT) AS fingerprint
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents) d,
         UNNEST(RANGE(LEN(d.l))) AS r(i)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    doc="L4: order-sensitive rolling-hash document fingerprint",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# L2: near-dup signatures + candidates
# --------------------------------------------------------------------------


def _minhash_oracle() -> str:
    h = _HASH_SQL.format(t="sh.s")
    sig_cols = ",\n             ".join(
        f"CAST(MIN(({h} * {a} + {b}) % 2147483647) AS BIGINT) AS h{j}"
        for j, (a, b) in enumerate(((7, 3), (13, 17), (31, 29), (61, 47)))
    )
    out_cols = ",\n           ".join(f"COALESCE(h{j}, -1) AS h{j}" for j in range(4))
    # LEFT JOIN back to documents so docs with < 3 tokens (no shingles)
    # still appear, with the same -1 sentinel the Spark side emits.
    return f"""
    WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents),
    sh AS (
      SELECT d.doc_id, d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM docs d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    sig AS (
      SELECT sh.doc_id,
             {sig_cols}
      FROM sh
      GROUP BY sh.doc_id)
    SELECT d.doc_id,
           {out_cols}
    FROM documents d
    LEFT JOIN sig USING (doc_id)
    ORDER BY d.doc_id
    """


@register(
    "minhash_signatures",
    _minhash_oracle(),
    doc="L2: k=4 MinHash signatures over 3-token shingles (portable hash — "
    "bit-identical in the oracle)",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_signature_df(docs).orderBy("doc_id")


def _lsh_pairs_oracle() -> str:
    """The banding + bucket-join reproduced in SQL: signatures are the
    portable-hash MinHash (bit-identical to Spark), bands are the same
    (h0,h1)/(h2,h3) split with the -1 empty-doc sentinel, so the pair
    set matches the operator exactly."""
    h = _HASH_SQL.format(t="sh.s")
    sig_cols = ",\n             ".join(
        f"CAST(MIN(({h} * {a} + {b}) % 2147483647) AS BIGINT) AS h{j}"
        for j, (a, b) in enumerate(((7, 3), (13, 17), (31, 29), (61, 47)))
    )
    return f"""
    WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents),
    sh AS (
      SELECT d.doc_id, d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM docs d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    sig AS (
      SELECT sh.doc_id,
             {sig_cols}
      FROM sh GROUP BY sh.doc_id),
    fullsig AS (
      SELECT d.doc_id, COALESCE(h0, -1) AS h0, COALESCE(h1, -1) AS h1,
             COALESCE(h2, -1) AS h2, COALESCE(h3, -1) AS h3
      FROM documents d LEFT JOIN sig USING (doc_id)),
    bands AS (
      SELECT doc_id, 0 AS band, CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR) AS key FROM fullsig
      UNION ALL
      SELECT doc_id, 1 AS band, CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR) AS key FROM fullsig)
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


@register(
    "minhash_lsh_candidate_pairs",
    _lsh_pairs_oracle() + "    ORDER BY a_id, b_id\n",
    doc="L2: LSH banding (2 bands × 2 rows) → candidate near-dup pairs. "
    "Full hash oracle: the portable MinHash makes the banding "
    "reproducible in SQL, so the bucket-join's exact pair set is checked "
    "cross-engine, not just its row count.",
)
def minhash_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs)


@register(
    "simhash_signatures",
    f"""
    WITH toks AS (
      SELECT d.doc_id, u.t
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents) d, UNNEST(d.l) AS u(t)),
    hashed AS (SELECT doc_id, {_HASH_SQL.format(t="t")} AS x FROM toks),
    votes AS (
      SELECT doc_id, r.b,
             SUM(CASE WHEN (x >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, UNNEST(RANGE(16)) AS r(b)
      GROUP BY doc_id, r.b)
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="L2: 16-bit SimHash (per-bit majority vote, map-only in Spark)",
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash_df(docs).orderBy("doc_id")


@register(
    "simhash_neardup_pairs",
    f"""
    WITH toks AS (
      SELECT d.doc_id, u.t
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents) d, UNNEST(d.l) AS u(t)),
    hashed AS (SELECT doc_id, {_HASH_SQL.format(t="t")} AS x FROM toks),
    votes AS (
      SELECT doc_id, r.b,
             SUM(CASE WHEN (x >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, UNNEST(RANGE(16)) AS r(b)
      GROUP BY doc_id, r.b),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes
      GROUP BY doc_id)
    SELECT a.doc_id AS a_id,
           b.doc_id AS b_id,
           CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3
    ORDER BY a_id, b_id
    """,
    doc="L2: SimHash near-dup pairs (Hamming ≤ 3). Spark side uses "
    "pigeonhole banding — 4 disjoint 4-bit bands, equi-join per band — "
    "which is EXACT (a ≤3-bit difference leaves ≥1 band identical), so "
    "the naive all-pairs oracle reproduces it verbatim. "
    "operators/dedup.py::simhash_near_duplicates.",
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, max_hamming=3)


@register(
    "simhash_cluster_assign",
    # Oracle = an INDEPENDENT algorithm over the same graph: all-pairs
    # Hamming over DISTINCT signatures (tiny — ≤ min(n, 2^16) rows) +
    # recursive-CTE transitive closure, vs Spark's banded pigeonhole
    # join + label-propagation fixpoint. Both contract by signature
    # first (docs sharing a signature are Hamming-0 neighbors), so the
    # closure never sees document cardinality.
    f"""
    WITH RECURSIVE toks AS (
      SELECT d.doc_id, u.t
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents) d, UNNEST(d.l) AS u(t)),
    hashed AS (SELECT doc_id, {_HASH_SQL.format(t="t")} AS x FROM toks),
    votes AS (
      SELECT doc_id, r.b,
             SUM(CASE WHEN (x >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, UNNEST(RANGE(16)) AS r(b)
      GROUP BY doc_id, r.b),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes
      GROUP BY doc_id),
    sv AS (SELECT DISTINCT simhash FROM sig),
    sedges AS (
      SELECT a.simhash AS u, b.simhash AS v
      FROM sv a JOIN sv b ON a.simhash <> b.simhash
      WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3),
    reach(s, r) AS (
      SELECT simhash, simhash FROM sv
      UNION
      SELECT reach.s, e.v FROM reach JOIN sedges e ON reach.r = e.u),
    comp AS (SELECT s AS simhash, MIN(r) AS comp_sig FROM reach GROUP BY s),
    rep AS (
      SELECT c.comp_sig, MIN(g.doc_id) AS cluster_id
      FROM sig g JOIN comp c USING (simhash)
      GROUP BY c.comp_sig)
    SELECT g.doc_id, CAST(r2.cluster_id AS BIGINT) AS cluster_id
    FROM sig g JOIN comp c USING (simhash) JOIN rep r2 USING (comp_sig)
    ORDER BY g.doc_id
    """,
    doc="L2: SimHash dedup DECISION step — one row per document, "
    "cluster_id = min doc_id reachable at Hamming ≤ 3 (singletons keep "
    "their own id). The linear-output replacement for the Θ(density·n²) "
    "pair-list contract on homogeneous corpora (VERIFY_r14 §7): both "
    "engines contract to DISTINCT signatures (≤ 2^16 nodes) before any "
    "pairing, so output AND intermediate state are O(n) + O(2^bits). "
    "operators/dedup.py::simhash_cluster_assign.",
)
def simhash_cluster_assign_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.dedup import simhash_cluster_assign

    docs = _t(spark, sf_dir, "documents")
    return simhash_cluster_assign(docs, max_hamming=3).orderBy("doc_id")


@register(
    "ngram_jaccard_sample_pairs",
    """
    WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents WHERE doc_id < 100),
    sh AS (
      SELECT DISTINCT d.doc_id, d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM docs d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT a_id, b_id,
           n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.1
    ORDER BY a_id, b_id
    """,
    doc="L2: exact n-gram Jaccard via inverted-index join (bounded sample "
    "doc_id<100 keeps the oracle's pair count scale-invariant)",
)
def ngram_jaccard_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return ngram_jaccard_pairs(docs, n=3, threshold=0.1)


# --------------------------------------------------------------------------
# L3: similarity search
# --------------------------------------------------------------------------

_COSINE_ORACLE = """
    WITH q AS (
      SELECT CAST(UNNEST(embedding) AS DOUBLE) AS qx, GENERATE_SUBSCRIPTS(embedding, 1) AS i
      FROM embeddings WHERE vec_id = 0),
    e AS (
      SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS ex, GENERATE_SUBSCRIPTS(embedding, 1) AS i
      FROM embeddings),
    sims AS (
      SELECT e.vec_id,
             SUM(e.ex * q.qx) / (SQRT(SUM(e.ex * e.ex)) * SQRT(SUM(q.qx * q.qx))) AS c
      FROM e JOIN q USING (i)
      GROUP BY e.vec_id)
    SELECT vec_id, ROUND(c, 6) AS cosine
    FROM sims
    ORDER BY c DESC, vec_id
    LIMIT 10
    """


@register(
    "similarity_bruteforce_top10",
    _COSINE_ORACLE,
    doc="L3: exact cosine top-k vs the vec_id=0 query vector (broadcast "
    "query, map-only scan, TakeOrderedAndProject)",
)
def similarity_bruteforce_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return brute_force_topk(emb, list(qvec), k=10)


def _lsh_bucket_cte(n_planes: int) -> str:
    """Shared CTE block: explode embeddings, derive the deterministic
    hyperplanes (MUST stay bit-in-sync with
    operators/similarity.py::_plane), dot, and bucket by sign pattern.
    The single source of the plane formula for every LSH oracle."""
    return f"""ex AS (
      SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
             GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i
      FROM embeddings),
    planes AS (
      SELECT p.p, i.i,
             (((p.p * 73856093 + i.i * 19349663 + 83492791) % 2001) - 1000) / 1000.0 AS w
      FROM UNNEST(RANGE({n_planes})) AS p(p), UNNEST(RANGE(64)) AS i(i)),
    dots AS (
      SELECT ex.vec_id, planes.p, SUM(ex.x * planes.w) AS d
      FROM ex JOIN planes ON ex.i = planes.i
      GROUP BY ex.vec_id, planes.p),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d > 0 THEN CAST(POW(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS b
      FROM dots GROUP BY vec_id)"""


_LSH_PROBES = " OR ".join(
    ["bu.b = qb.b"] + [f"bu.b = XOR(qb.b, {1 << p})" for p in range(8)]
)

# DuckDB twin of lsh_bucketed_topk: the hyperplanes are integer
# arithmetic, so bucketing, the 9-probe (exact + hamming-1) candidate
# set, AND the within-candidate cosine ranking are all reproduced in SQL
# — approximate vs brute force, but deterministic, hence hash-checkable.
_LSH_TOPK_ORACLE = f"""
    WITH {_lsh_bucket_cte(8)},
    qb AS (SELECT b FROM buckets WHERE vec_id = 0),
    cand AS (SELECT bu.vec_id FROM buckets bu, qb WHERE {_LSH_PROBES}),
    q AS (SELECT i, x AS qx FROM ex WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id,
             SUM(e.x * q.qx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(q.qx * q.qx))) AS c
      FROM ex e JOIN q USING (i)
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY e.vec_id)
    SELECT vec_id, ROUND(c, 6) AS cosine
    FROM sims ORDER BY c DESC, vec_id LIMIT 10
    """


@register(
    "similarity_lsh_top10",
    _LSH_TOPK_ORACLE,
    doc="L3: LSH-bucketed approximate top-k (scale path: scan only the "
    "query bucket + hamming-1 probes). Deterministic hyperplanes make "
    "even the approximate result hash-checkable: the oracle reproduces "
    "bucketing, the probe set, and the candidate ranking in SQL.",
)
def similarity_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return lsh_bucketed_topk(emb, list(qvec), k=10)


def _embedding_neardup_oracle(n_planes: int = 4, threshold: float = 0.3) -> str:
    """DuckDB twin of embedding_near_duplicates: the hyperplane weights are
    pure integer arithmetic (operators/similarity.py::_plane) and the
    bucket is the sign pattern of the plane dot products, so the whole
    LSH-bucketed pair search — not just the cosine — is reproduced in SQL.
    Dot products are O(1)-magnitude doubles, so the d > 0 sign decision is
    stable under summation-order differences between engines."""
    return f"""
    WITH {_lsh_bucket_cte(n_planes)},
    cand AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM buckets a JOIN buckets b ON a.b = b.b AND a.vec_id < b.vec_id),
    sims AS (
      SELECT cand.a_id, cand.b_id,
             SUM(ea.x * eb.x) / (SQRT(SUM(ea.x * ea.x)) * SQRT(SUM(eb.x * eb.x))) AS cos_sim
      FROM cand
      JOIN ex ea ON ea.vec_id = cand.a_id
      JOIN ex eb ON eb.vec_id = cand.b_id AND eb.i = ea.i
      GROUP BY cand.a_id, cand.b_id)
    SELECT a_id, b_id, ROUND(cos_sim, 6) AS cosine
    FROM sims
    WHERE cos_sim >= {threshold}
    ORDER BY a_id, b_id
    """


@register(
    "embedding_neardup_pairs",
    _embedding_neardup_oracle(),
    doc="L2/L3: near-duplicate vector pairs — cosine ≥ 0.3 within "
    "deterministic random-hyperplane LSH buckets (4 planes → 16 buckets: "
    "Σ bucket² candidate pairs, never n²). The hyperplanes are integer "
    "arithmetic, so the DuckDB oracle reproduces bucketing AND cosine "
    "exactly; threshold 0.3 yields pairs at every sf on this corpus "
    "(max pairwise cosine ≈ 0.51 at sf0.01 — 0.9 selected nothing). "
    "Recall vs brute-force all-pairs is pinned in tests/test_operators.py",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(emb, threshold=0.3, dim=64, n_planes=4)


# --------------------------------------------------------------------------
# L5: multimodal metadata
# --------------------------------------------------------------------------


@register(
    "multimodal_media_meta",
    """
    SELECT doc_id,
           CAST(OCTET_LENGTH(FROM_HEX(MD5(text))) AS INT)  AS n_bytes,
           CAST(32 + n_chars % 224 AS INT)                 AS width,
           CAST(32 + (n_chars * 7) % 224 AS INT)           AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
    FROM documents
    ORDER BY doc_id
    """,
    doc="L5: multimodal ingest shape — binary payload + typed metadata "
    "struct; payload is a deterministic fake (md5 bytes), plumbing is real",
)
def multimodal_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = attach_fake_media(docs)
    return media.select(
        "doc_id",
        F.length("media_bytes").cast("int").alias("n_bytes"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.format").alias("format"),
    ).orderBy("doc_id")


@register(
    "multimodal_bmp_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS INT) AS width,
             CAST(3 + doc_id % 4 AS INT) AS height
      FROM documents),
    px AS (
      SELECT d.doc_id, d.width, d.height,
             ((d.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 97) % 256) AS v
      FROM dims d,
           UNNEST(RANGE(d.width))  AS x(x),
           UNNEST(RANGE(d.height)) AS y(y),
           UNNEST(RANGE(3))        AS c(c))
    SELECT doc_id,
           width,
           height,
           CAST(width * height AS INT) AS n_pixels,
           -- exact integer sum / small count: identical double both engines
           SUM(v) / COUNT(*)           AS pixel_mean
    FROM px
    GROUP BY doc_id, width, height
    ORDER BY doc_id
    """,
    doc="L5 REAL decode path: genuine 24-bit BMP payloads synthesized per "
    "row, then parsed by the pure-Python codec through mapInPandas — no "
    "fake flag. The pixel pattern is deterministic, so the oracle "
    "recomputes the decoded stats (dims + exact pixel mean) in SQL: the "
    "decode is value-checked cross-engine, not just shape-checked. "
    "operators/multimodal.py::attach_bmp_media / decode_image.",
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_bmp_media, decode_image

    docs = _t(spark, sf_dir, "documents")
    return decode_image(attach_bmp_media(docs), fake=False).orderBy("doc_id")


@register(
    "multimodal_png_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS INT) AS width,
             CAST(5 + doc_id % 4 AS INT) AS height
      FROM documents),
    px AS (
      SELECT d.doc_id, d.width, d.height,
             ((d.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 97) % 256) AS v
      FROM dims d,
           UNNEST(RANGE(d.width))  AS x(x),
           UNNEST(RANGE(d.height)) AS y(y),
           UNNEST(RANGE(3))        AS c(c))
    SELECT doc_id,
           width,
           height,
           CAST(width * height AS INT) AS n_pixels,
           SUM(v) / COUNT(*)           AS pixel_mean
    FROM px
    GROUP BY doc_id, width, height
    ORDER BY doc_id
    """,
    doc="L5 REAL compressed-codec decode: genuine zlib-compressed PNG "
    "payloads (filter type rotates per scanline, so every PNG unfilter — "
    "None/Sub/Up/Average/Paeth — executes) synthesized per row, then "
    "inflated + unfiltered by the pure-Python codec through mapInPandas. "
    "Deterministic pixel pattern → the oracle recomputes dims + exact "
    "pixel mean in SQL; the decode is value-checked cross-engine. "
    "operators/multimodal.py::attach_png_media / _decode_png.",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_png_media, decode_image

    docs = _t(spark, sf_dir, "documents")
    return decode_image(attach_png_media(docs), fake=False).orderBy("doc_id")


@register(
    "multimodal_jpeg_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 3) AS INT) AS width,
             CAST(8 * (1 + doc_id % 2) AS INT) AS height
      FROM documents),
    blocks AS (
      SELECT d.doc_id, d.width, d.height,
             ((d.doc_id * 37 + bx.bx * 11 + by.by * 23) % 256) AS v
      FROM dims d,
           UNNEST(RANGE(d.width // 8))  AS bx(bx),
           UNNEST(RANGE(d.height // 8)) AS by(by))
    SELECT doc_id,
           width,
           height,
           CAST(width * height AS INT) AS n_pixels,
           -- every 8x8 block is constant and decodes bit-exactly, and all
           -- blocks have equal pixel count, so the image mean equals the
           -- block-value mean (exact integer sum / small count)
           SUM(v) / COUNT(*)           AS pixel_mean
    FROM blocks
    GROUP BY doc_id, width, height
    ORDER BY doc_id
    """,
    doc="L5 REAL baseline-JPEG decode: genuine Huffman-coded JFIF payloads "
    "synthesized per row, then entropy-decoded + dequantized + IDCT'd by "
    "the baseline codec through mapInPandas. Payloads are "
    "constant 8x8 blocks under an all-8s quant table — the one JPEG "
    "configuration that decodes bit-exactly — so the oracle recomputes "
    "the decoded stats in SQL and the full decode pipeline (canonical "
    "Huffman, DC prediction, zigzag, separable IDCT) is value-checked "
    "cross-engine. operators/multimodal.py::attach_jpeg_media / "
    "_decode_jpeg_numpy.",
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_jpeg_media, decode_image

    docs = _t(spark, sf_dir, "documents")
    return decode_image(attach_jpeg_media(docs), fake=False).orderBy("doc_id")


def _ivf_oracle(n_iters: int, n_centroids: int = 16, n_probe: int = 4, k: int = 10) -> str:
    """DuckDB twin of the FULL IVF pipeline (train_ivf_centroids +
    ivf_assign_cells + probe ranking + exact scan), as one CTE chain:

    - init: the engine-portable arithmetic-hash sample (MUST stay
      bit-in-sync with operators/similarity.py::train_ivf_centroids,
      INIT_MOD/INIT_MULT) — integer arithmetic, so the selected seed
      rows are identical cross-engine;
    - each Lloyd iteration: cosine argmax assignment (ROW_NUMBER by
      sim DESC, cell ASC — the same first-max tie-break as Spark's
      array_position(array_max)) then per-(cell, dim) mean, with empty
      cells keeping their previous centroid via COALESCE;
    - probe: rank centroids by cosine to the query, keep n_probe
      (ties → lower cell, matching Python's stable sort);
    - final: exact cosine top-k over the probed cells only.

    Float sums follow the same convention as every green similarity
    oracle here (_COSINE_ORACLE): ulp-level aggregation-order noise is
    absorbed by ROUND(c, 6) on output, and all comparisons (argmax,
    probe cut, top-k cut) sit far from ulp ties on this data.
    """
    from etl_sample_spark.operators.similarity import INIT_MOD, INIT_MULT

    prev = "cent0"
    iters = []
    for it in range(1, n_iters + 1):
        iters.append(f"""
    sim{it} AS (
      SELECT e.vec_id, c.cell,
             SUM(e.x * c.cx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(c.cx * c.cx))) AS s
      FROM e JOIN {prev} c USING (i) GROUP BY e.vec_id, c.cell),
    asg{it} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
        FROM sim{it}) WHERE rn = 1),
    cent{it} AS (
      SELECT c0.cell, c0.i, COALESCE(m.cx, c0.cx) AS cx
      FROM {prev} c0 LEFT JOIN (
        SELECT a.cell, e.i, SUM(e.x) / COUNT(*) AS cx
        FROM asg{it} a JOIN e USING (vec_id) GROUP BY a.cell, e.i) m
      ON m.cell = c0.cell AND m.i = c0.i)""")
        prev = f"cent{it}"
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
             GENERATE_SUBSCRIPTS(embedding, 1) AS i
      FROM embeddings),
    init AS (
      SELECT cell, vec_id FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY ((vec_id % {INIT_MOD}) * {INIT_MULT}) % {INIT_MOD}, vec_id
               ) - 1 AS cell,
               vec_id
        FROM embeddings) WHERE cell < {n_centroids}),
    cent0 AS (
      SELECT init.cell, e.i, e.x AS cx FROM init JOIN e USING (vec_id)),
    {",".join(iters)},
    fsim AS (
      SELECT e.vec_id, c.cell,
             SUM(e.x * c.cx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(c.cx * c.cx))) AS s
      FROM e JOIN {prev} c USING (i) GROUP BY e.vec_id, c.cell),
    fasg AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
        FROM fsim) WHERE rn = 1),
    q AS (SELECT i, x AS qx FROM e WHERE vec_id = 0),
    probe AS (
      SELECT cell FROM (
        SELECT c.cell,
               SUM(q.qx * c.cx) / (SQRT(SUM(q.qx * q.qx)) * SQRT(SUM(c.cx * c.cx))) AS s
        FROM q JOIN {prev} c USING (i) GROUP BY c.cell)
      ORDER BY s DESC, cell LIMIT {n_probe}),
    sims AS (
      SELECT e.vec_id,
             SUM(e.x * q.qx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(q.qx * q.qx))) AS c
      FROM e JOIN q USING (i)
      WHERE e.vec_id IN (
        SELECT vec_id FROM fasg WHERE cell IN (SELECT cell FROM probe))
      GROUP BY e.vec_id)
    SELECT vec_id, ROUND(c, 6) AS cosine
    FROM sims ORDER BY c DESC, vec_id LIMIT {k}
    """


@register(
    "similarity_ivf_top10",
    _ivf_oracle(n_iters=1),
    doc="L3: IVF approximate top-k — coarse-quantize into cells, exact-scan "
    "only the n_probe nearest cells (at scale: persist partitioned by cell "
    "so partition pruning is the index lookup). FULL hash oracle: the "
    "arithmetic-hash init makes Lloyd training engine-portable, so the "
    "whole train→assign→probe→scan pipeline is reproduced in SQL "
    "(_ivf_oracle); pytest additionally asserts full-probe == brute force.",
)
def similarity_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return ivf_topk(emb, [float(x) for x in qvec], k=10, n_centroids=16, n_probe=4)


def _ivf_index_cached(spark: SparkSession, sf_dir: str) -> str:
    """Build-or-reuse the persisted IVF index for ``sf_dir``'s embeddings.

    Cache keyed on a CONTENT fingerprint of the source parquet (absolute
    path + per-file size + mtime_ns) — regenerating the data at the same
    path yields a new key, so a stale index is never served. The build
    lands in a unique temp root (``index/`` + ``index__centroids/``)
    that is atomically renamed into place; a concurrent builder losing
    the rename race simply discards its copy and reuses the winner's.
    """
    import hashlib
    import os
    import shutil
    import uuid

    from etl_sample_spark.operators.similarity import INIT_MOD, INIT_MULT, build_ivf_index

    src = os.path.join(sf_dir, "embeddings.parquet")
    # The training ALGORITHM is part of the key: changing the init hash
    # or iteration count must invalidate indexes built by the old code,
    # or a cached index would silently diverge from the SQL oracle.
    parts = [os.path.abspath(src), f"ivf-algo:v2:{INIT_MOD}:{INIT_MULT}:iters=2:k=16"]
    walk = sorted(os.walk(src)) if os.path.isdir(src) else [(os.path.dirname(src), [], [os.path.basename(src)])]
    for root, _, files in walk:
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    fp = hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]
    cache_root = f"/tmp/spark_graft_ivf_{fp}"
    index_path = os.path.join(cache_root, "index")
    if not os.path.exists(os.path.join(index_path, "_SUCCESS")):
        emb = _t(spark, sf_dir, "embeddings")
        build_root = f"{cache_root}.build-{uuid.uuid4().hex[:8]}"
        build_ivf_index(emb, os.path.join(build_root, "index"), n_centroids=16, n_iters=2)
        try:
            os.rename(build_root, cache_root)
        except OSError:  # lost the race: the winner's index is equivalent
            shutil.rmtree(build_root, ignore_errors=True)
    return index_path


@register(
    "similarity_ivf_indexed_top10",
    _ivf_oracle(n_iters=2),  # the index trains with n_iters=2
    doc="L3: IVF top-k served from a PERSISTED index — corpus written "
    "partitionBy(__cell) with trained (Lloyd-iterated) centroids stored "
    "alongside; probing n_probe cells = partition pruning at the scan, "
    "so non-probed cells' files are never opened. FULL hash oracle "
    "(_ivf_oracle, 2 Lloyd iterations); pytest additionally asserts "
    "full-probe == brute force and PartitionFilters pruning on __cell. "
    "operators/similarity.py::build_ivf_index / ivf_topk_indexed.",
)
def similarity_ivf_indexed_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.similarity import ivf_topk_indexed

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    # Content-fingerprinted cache: building the index is the one-off
    # offline pass; queries reopen the persisted layout.
    index_path = _ivf_index_cached(spark, sf_dir)
    return ivf_topk_indexed(spark, index_path, qvec, k=10, n_probe=4)


@register(
    "tfidf_sample_docs",
    """
    WITH toks AS (
      SELECT d.doc_id, u.t AS term
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS l
            FROM documents WHERE doc_id < 50) d,
           UNNEST(d.l) AS u(t)),
    tf AS (
      SELECT doc_id, term,
             COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS tf
      FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks)
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * LN((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf, df, n
    WHERE tf.term = df.term AND tf.tf * LN((n.n + 1.0) / (df.df + 1.0)) > 0.02
    ORDER BY tf.doc_id, tf.term
    """,
    doc="L4: TF-IDF over a bounded doc sample — term frequency via a "
    "windowed count share, smoothed IDF, salient terms only. All "
    "JVM-side (explode + two grouped aggs + one broadcast of the "
    "doc-frequency dim); the ml.feature.HashingTF/IDF pipeline is the "
    "approximate alternative when term cardinality explodes",
)
def tfidf_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    counts = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    tf = counts.withColumn(
        "tf", F.col("c") * 1.0 / F.sum("c").over(Window.partitionBy("doc_id"))
    )
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = toks.agg(F.countDistinct("doc_id").alias("n"))
    tfidf = F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0))
    return (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n_docs))
        .where(tfidf > 0.02)
        .select("doc_id", "term", F.round(tfidf, 6).alias("tfidf"))
        .orderBy("doc_id", "term")
    )


_BATCH_COSINE_ORACLE = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(UNNEST(embedding) AS DOUBLE) AS qx,
             GENERATE_SUBSCRIPTS(embedding, 1) AS i
      FROM embeddings WHERE vec_id IN (0, 1, 2)),
    e AS (
      SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS ex,
             GENERATE_SUBSCRIPTS(embedding, 1) AS i
      FROM embeddings),
    sims AS (
      SELECT q.query_id, e.vec_id,
             SUM(e.ex * q.qx) / (SQRT(SUM(e.ex * e.ex)) * SQRT(SUM(q.qx * q.qx))) AS c
      FROM e JOIN q USING (i)
      GROUP BY q.query_id, e.vec_id),
    ranked AS (
      SELECT query_id, vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
      FROM sims)
    SELECT query_id, vec_id, ROUND(c, 6) AS cosine, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """


@register(
    "similarity_batch_top5",
    _BATCH_COSINE_ORACLE,
    doc="L3: batch retrieval — top-5 for 3 query vectors in ONE corpus "
    "scan (queries broadcast, per-query ranked window), vs one scan per "
    "query with repeated brute force",
)
def similarity_batch_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.similarity import batch_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return batch_topk(emb, queries, k=5)


@register(
    "neardup_clusters_documents",
    # The Spark side is an iterative label-propagation fixpoint; the
    # oracle recomputes the same components declaratively — a recursive
    # transitive closure over the LSH pair graph with MIN-reachable-node
    # as the cluster id. Two entirely different algorithms, one answer.
    f"""
    WITH RECURSIVE pairs AS ({_lsh_pairs_oracle()}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    nodes AS (SELECT DISTINCT u FROM edges),
    reach(doc, r) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT r.doc, e.v FROM reach r JOIN edges e ON r.r = e.u)
    SELECT doc AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY doc ORDER BY doc_id
    """,
    doc="L2: near-dup candidate pairs → connected components (cluster id "
    "= min doc_id); the step that turns pairwise similarity into a "
    "keep-one-per-cluster dedup decision. One shuffle per round, "
    "converges in O(component diameter) rounds. Oracle = recursive-CTE "
    "transitive closure: an independent algorithm cross-checking the "
    "label-propagation fixpoint.",
)
def neardup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.dedup import minhash_lsh_candidates, neardup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs)
    return neardup_clusters(pairs).orderBy("doc_id")


@register(
    "embedding_neardup_clusters",
    # Same recursive-CTE transitive-closure technique that proved
    # neardup_clusters_documents, but over the EMBEDDING near-dup edge set
    # (deterministic hyperplane LSH buckets + exact cosine) instead of the
    # MinHash band graph — closing the seam between the L2 clustering
    # machinery and L3 embedding space.
    f"""
    WITH RECURSIVE pairs AS ({_embedding_neardup_oracle()}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    nodes AS (SELECT DISTINCT u FROM edges),
    reach(vec, r) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT r.vec, e.v FROM reach r JOIN edges e ON r.r = e.u)
    SELECT vec AS vec_id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY vec ORDER BY vec_id
    """,
    doc="L2+L3: embedding near-dup pairs (cosine >= 0.3 within "
    "deterministic LSH buckets) -> connected components via label "
    "propagation; cluster id = min vec_id reachable. The semantic-dedup "
    "decision step for an embedding corpus: keep one representative per "
    "cluster. Oracle = recursive-CTE transitive closure over the same "
    "edge set — an independent algorithm, one answer.",
)
def embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.dedup import neardup_clusters

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(emb, threshold=0.3, dim=64, n_planes=4)
    return (
        neardup_clusters(pairs)
        .select(F.col("doc_id").alias("vec_id"), "cluster_id")
        .orderBy("vec_id")
    )


@register(
    "semantic_dedup_keep_best",
    # Clusters via the recursive-CTE closure over the MinHash band graph;
    # singletons cluster with themselves; the kept doc is the quality
    # argmax (ties -> min doc_id). Quality is the same single-expression
    # double both engines compute bit-identically (no accumulation).
    f"""
    WITH RECURSIVE pairs AS ({_lsh_pairs_oracle()}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    nodes AS (SELECT DISTINCT u FROM edges),
    reach(doc, r) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT r.doc, e.v FROM reach r JOIN edges e ON r.r = e.u),
    clusters AS (SELECT doc AS doc_id, MIN(r) AS cid FROM reach GROUP BY doc),
    base AS (
      SELECT doc_id, n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS n,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_STOP_SQL})) AS n_stop
      FROM documents),
    scored AS (
      SELECT doc_id,
             LEAST(1.0, n_chars / 500.0) * 0.5 + (1.0 - n_stop / n) * 0.5 AS quality
      FROM base),
    labeled AS (
      SELECT s.doc_id, CAST(COALESCE(c.cid, s.doc_id) AS BIGINT) AS cluster_id, s.quality
      FROM scored s LEFT JOIN clusters c USING (doc_id)),
    ranked AS (
      SELECT cluster_id, doc_id, quality,
             ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn
      FROM labeled)
    SELECT cluster_id, doc_id, quality
    FROM ranked WHERE rn = 1 ORDER BY cluster_id
    """,
    doc="L2/L4 composition — THE curation decision the clustering exists "
    "for: keep exactly one representative per near-dup cluster, chosen "
    "by quality argmax (tie -> min doc_id); singletons keep themselves. "
    "100 TB shape: banded LSH pairs (never n²), label propagation (one "
    "shuffle/round), map-side quality, one window shuffle on cluster_id "
    "for the argmax. Oracle: recursive-CTE closure + the same ranked "
    "window in SQL.",
)
def semantic_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_sample_spark.functions.text import quality_score
    from etl_sample_spark.operators.dedup import minhash_lsh_candidates, neardup_clusters

    docs = _t(spark, sf_dir, "documents")
    clusters = neardup_clusters(minhash_lsh_candidates(docs))
    scored = docs.select("doc_id", quality_score(F.col("text"), F.col("n_chars")).alias("quality"))
    labeled = scored.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "quality",
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", "doc_id", "quality")
        .orderBy("cluster_id")
    )


_CURATION_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, n_chars, text,
             LEN(STRING_SPLIT(text, ' ')) AS n,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_STOP_SQL})) AS n_stop,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                             t -> t IN ('spark','vector','hash','query'))) AS n_tech
      FROM documents),
    scored AS (
      SELECT doc_id, text, n AS n_tokens,
             LEAST(1.0, n_chars / 500.0) * 0.5 + (1.0 - n_stop / n) * 0.5 AS quality,
             CASE WHEN n_stop / n > 0.08  THEN 'en'
                  WHEN n_tech / n > 0.12  THEN 'tech'
                  ELSE 'unknown' END AS lang_guess
      FROM base)
    SELECT doc_id, lang_guess, quality, n_tokens
    FROM scored
    WHERE quality >= 0.6
      AND lang_guess <> 'unknown'
      AND doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
    ORDER BY doc_id
    """


@register(
    "corpus_curation_pipeline",
    _CURATION_ORACLE,
    doc="L1+L4 end-to-end: the canonical pretraining-corpus cleaning pass "
    "— language-ID + quality gate + exact-dedup keep-first — as ONE "
    "single-scan plan (all Catalyst expressions; the dedup is the only "
    "shuffle). At 100 TB this chains the same way: score/filter are "
    "map-side and run before the dedup shuffle, so the shuffle sees only "
    "surviving rows",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.functions.text import (
        lang_id_heuristic,
        quality_score,
        token_count,
    )
    from etl_sample_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        lang_id_heuristic(F.col("text")).alias("lang_guess"),
        quality_score(F.col("text"), F.col("n_chars")).alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    kept = scored.where((F.col("quality") >= 0.6) & (F.col("lang_guess") != "unknown"))
    return (
        exact_dedup(kept, ["text"], "doc_id")
        .select("doc_id", "lang_guess", "quality", "n_tokens")
        .orderBy("doc_id")
    )


_SPLIT_ORACLE = f"""
    WITH fp AS (
      SELECT d.doc_id,
             CAST(SUM((r.i + 1) * (131*length(d.l[r.i + 1]) + ascii(d.l[r.i + 1]))) % {FINGERPRINT_MOD}
                  AS BIGINT) AS fingerprint
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents) d,
           UNNEST(RANGE(LEN(d.l))) AS r(i)
      GROUP BY d.doc_id)
    SELECT doc_id,
           CASE WHEN fingerprint % 10 < 8 THEN 'train'
                WHEN fingerprint % 10 = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM fp
    ORDER BY doc_id
    """


@register(
    "train_val_test_split",
    _SPLIT_ORACLE,
    doc="Deterministic content-hash train/val/test split (80/10/10 on "
    "fingerprint mod 10): assignment depends only on document CONTENT, so "
    "it is stable across reruns, cluster sizes, and row order — the "
    "property random splits lack (and the reason leakage-safe pipelines "
    "split by hash, not by rand()). Pure map-side: no shuffle at any scale",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = doc_fingerprint(F.col("text")) % 10
    return docs.select(
        "doc_id",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
    ).orderBy("doc_id")


def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RNG-sampling DEMO, deliberately NOT in the registry: ``sampleBy``
    is engine-specific randomness, so it can never carry a cross-engine
    hash oracle — and it is the exact twin of the fully-oracled
    ``hash_stratified_sample_by_lang`` above this would shadow. Kept as
    the documented comparison point (per-stratum Bernoulli, map-side,
    no shuffle); proportions are bounds-tested in
    ``tests/test_operators.py::test_stratified_sample_proportions``.
    Production pipelines should prefer the hash-gated form: identical
    subset on every re-run, engine, and partitioning."""
    from etl_sample_spark.functions.text import lang_id_heuristic

    docs = _t(spark, sf_dir, "documents").withColumn(
        "lang_guess", lang_id_heuristic(F.col("text"))
    )
    sampled = docs.sampleBy(
        "lang_guess", fractions={"en": 1.0, "tech": 0.5, "unknown": 0.1}, seed=42
    )
    return sampled.select("doc_id", "lang_guess").orderBy("doc_id")


def _hash_sample_oracle() -> str:
    from etl_sample_spark.operators.sampling import hash_sample_gate_sql

    gate = hash_sample_gate_sql("doc_id")
    return f"""
    WITH base AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_STOP_SQL})) AS n_stop,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                             t -> t IN ('spark','vector','hash','query'))) AS n_tech
      FROM documents),
    langs AS (
      SELECT doc_id,
             CASE WHEN n_stop / n > 0.08  THEN 'en'
                  WHEN n_tech / n > 0.12  THEN 'tech'
                  ELSE 'unknown' END AS lang_guess
      FROM base)
    SELECT doc_id, lang_guess
    FROM langs
    WHERE (lang_guess = 'en'      AND {gate} < 10000)
       OR (lang_guess = 'tech'    AND {gate} < 5000)
       OR (lang_guess = 'unknown' AND {gate} < 1000)
    ORDER BY doc_id
    """


@register(
    "hash_stratified_sample_by_lang",
    _hash_sample_oracle(),
    doc="Training-data curation, the AUDITABLE form: per-stratum "
    "downsampling gated on a multiplicative key-hash bucket instead of "
    "RNG — identical subset on every re-run, engine, and partitioning "
    "(a retried task cannot diverge from its first attempt), which is "
    "why it carries a full hash oracle while sampleBy cannot. Map-side "
    "filter, no shuffle. operators/sampling.py::hash_stratified_sample.",
)
def hash_stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.functions.text import lang_id_heuristic
    from etl_sample_spark.operators.sampling import hash_stratified_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "lang_guess", lang_id_heuristic(F.col("text"))
    )
    sampled = hash_stratified_sample(
        docs, "lang_guess", {"en": 1.0, "tech": 0.5, "unknown": 0.1}, key_col="doc_id"
    )
    return sampled.select("doc_id", "lang_guess").orderBy("doc_id")


@register(
    "sequence_packing_512",
    # Greedy-with-reset is not WINDOW-expressible (each cut depends on
    # where the previous cut landed) but it IS a sequential fold — the
    # oracle replays the identical walk as a recursive CTE over each
    # bucket in doc_id order, so the applyInPandas packing gets a full
    # hash check from an independent formulation.
    """
    WITH RECURSIVE toks AS (
      SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
    b AS (
      SELECT doc_id, n_tokens, doc_id % 32 AS bucket,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS rn
      FROM toks),
    walk(bucket, rn, doc_id, n_tokens, seq_no, pos, used) AS (
      SELECT bucket, rn, doc_id, n_tokens, 0, 0, n_tokens FROM b WHERE rn = 1
      UNION ALL
      SELECT b.bucket, b.rn, b.doc_id, b.n_tokens,
             CASE WHEN w.used > 0 AND w.used + b.n_tokens > 512 THEN w.seq_no + 1 ELSE w.seq_no END,
             CASE WHEN w.used > 0 AND w.used + b.n_tokens > 512 THEN 0 ELSE w.pos + 1 END,
             CASE WHEN w.used > 0 AND w.used + b.n_tokens > 512 THEN b.n_tokens ELSE w.used + b.n_tokens END
      FROM walk w JOIN b ON b.bucket = w.bucket AND b.rn = w.rn + 1)
    SELECT doc_id,
           CAST(bucket AS VARCHAR) || '_' || CAST(seq_no AS VARCHAR) AS seq_id,
           CAST(pos AS INT) AS seq_pos,
           n_tokens,
           n_tokens > 512 AS truncated
    FROM walk ORDER BY doc_id
    """,
    doc="LLM dataloader prep: pack curated docs into <=512-token training "
    "sequences (greedy within deterministic id-hash buckets via "
    "applyInPandas; only ids+token counts shuffle, never text). Oracle = "
    "recursive-CTE replay of the same greedy walk.",
)
def sequence_packing_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.functions.text import token_count
    from etl_sample_spark.operators.dedup import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, budget_tokens=512).orderBy("doc_id")


# --------------------------------------------------------------------------
# L4: benchmark contamination + PII scrub
# --------------------------------------------------------------------------


@register(
    "contamination_3gram_vs_benchmark",
    """
    WITH bench AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents WHERE doc_id < 20),
    bsh AS (
      SELECT DISTINCT d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM bench d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    corp AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents WHERE doc_id >= 20),
    csh AS (
      SELECT DISTINCT d.doc_id, d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM corp d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
             CAST(COUNT(CASE WHEN s IN (SELECT s FROM bsh) THEN 1 END) AS BIGINT) AS n_hits
      FROM csh GROUP BY doc_id)
    SELECT doc_id, n_ngrams, n_hits,
           -- exact integer ratio, unrounded: bit-identical across engines
           n_hits / n_ngrams AS contamination_rate
    FROM agg ORDER BY doc_id
    """,
    doc="L4: benchmark-contamination check — distinct 3-gram overlap of "
    "every training doc against the eval set (doc_id<20 stands in for "
    "the benchmark). Broadcast inverted index: the benchmark shingle set "
    "ships to every executor, the corpus side is one map pass + one "
    "groupBy(doc_id) shuffle, no corpus-corpus join. "
    "operators/dedup.py::contamination_flags.",
)
def contamination_3gram_vs_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return contamination_flags(
        docs.where(F.col("doc_id") >= 20), docs.where(F.col("doc_id") < 20), n=3
    )


@register(
    "text_scrub_pii",
    f"""
    WITH salted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS text
      FROM documents)
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{EMAIL_PATTERN}')) AS BIGINT) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PHONE_PATTERN}')) AS BIGINT) AS n_phones,
           CAST(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                                      '{PHONE_PATTERN}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len,
           RIGHT(REGEXP_REPLACE(REGEXP_REPLACE(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                                '{PHONE_PATTERN}', '<PHONE>', 'g'), 40) AS redacted_tail
    FROM salted
    ORDER BY doc_id
    """,
    doc="L4: PII scrub over the corpus — deterministic synthetic "
    "emails/phones planted per doc (the parquet corpus carries none), "
    "then redacted with the shared Java-regex/RE2-compatible patterns; "
    "the oracle re-runs the identical redaction, checking counts, "
    "lengths AND the redacted suffix text. Pure map-side "
    "regexp_replace: functions/text.py::redact_pii.",
)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("text"),
    )
    red = redact_pii(F.col("text"))
    return salted.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(EMAIL_PATTERN)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PHONE_PATTERN)).cast("bigint").alias("n_phones"),
        F.length(red).cast("bigint").alias("redacted_len"),
        F.substring(red, -40, 40).alias("redacted_tail"),
    ).orderBy("doc_id")


@register(
    "dedup_incremental_new_batch",
    """
    SELECT n.doc_id
    FROM documents n
    WHERE n.doc_id >= 250
      AND NOT EXISTS (SELECT 1 FROM documents o
                      WHERE o.doc_id < 250 AND o.text = n.text)
      AND n.doc_id = (SELECT MIN(m.doc_id) FROM documents m
                      WHERE m.doc_id >= 250 AND m.text = n.text)
    ORDER BY doc_id
    """,
    doc="L1, the production shape: dedup a NEW crawl batch (doc_id>=250) "
    "against the EXISTING corpus (doc_id<250) plus within itself — "
    "in-batch exact_dedup, then a left-anti join against the corpus on "
    "the sha2 content hash, so raw text never shuffles on either side. "
    "At 100 TB the corpus side is a pre-computed hash index; the anti "
    "join shuffles 32-byte keys only.",
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") >= 250)
    corpus_hashes = (
        docs.where(F.col("doc_id") < 250)
        .select(F.sha2("text", 256).alias("__h"))
        .distinct()
    )
    new_deduped = exact_dedup(new, ["text"], "doc_id").withColumn(
        "__h", F.sha2("text", 256)
    )
    return (
        new_deduped.join(corpus_hashes, "__h", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


def _shard_shuffle_oracle() -> str:
    from etl_sample_spark.operators.sampling import hash_position_sql

    return f"""
    WITH h AS (
      SELECT doc_id, {hash_position_sql("doc_id")} AS hv
      FROM documents)
    SELECT doc_id,
           CAST(hv % 8 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h
    ORDER BY shard, pos
    """


@register(
    "corpus_shard_shuffle",
    _shard_shuffle_oracle(),
    doc="LLM dataloader prep: deterministic corpus shuffle + sharding — "
    "each doc gets a multiplicative-hash position, shard = hash mod "
    "n_shards, pos = rank within shard. Reproducible training order "
    "with NO global sort: one hash-partition exchange, then each shard "
    "sorts independently (the window partitions by shard). The "
    "dont-do-this alternative, ORDER BY rand(), is neither rerunnable "
    "nor cheap at 100 TB.",
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_sample_spark.operators.sampling import hash_position

    docs = _t(spark, sf_dir, "documents")
    hv = hash_position(F.col("doc_id"))
    shard = (hv % 8).alias("shard")
    w = Window.partitionBy(hv % 8).orderBy(hv, F.col("doc_id"))
    return (
        docs.select(
            "doc_id",
            shard,
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


# --------------------------------------------------------------------------
# L4/L6 additions (r5): repetition quality signal, dataset-card mixture
# report, per-source duplication rate
# --------------------------------------------------------------------------


@register(
    "text_repetition_ratio",
    """
    WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents),
    sh AS (
      SELECT d.doc_id, d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM docs d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    agg AS (
      SELECT doc_id,
             COUNT(*)          AS n_shingles,
             COUNT(DISTINCT s) AS n_distinct
      FROM sh GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(a.n_shingles, 0) AS INT)                      AS n_shingles,
           COALESCE(1 - a.n_distinct / a.n_shingles, 0.0)              AS repetition
    FROM documents d LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id
    """,
    doc="L4 quality signal (Gopher-style): fraction of 3-token shingles "
    "that repeat within the same document — boilerplate/spam detector. "
    "Spark side is ENTIRELY map-side (array_distinct over the shingle "
    "array, no explode/shuffle: a free gate in the same pass as other "
    "quality signals at 100 TB); the oracle reproduces it relationally "
    "via UNNEST + COUNT DISTINCT. Ratios of small ints — identical "
    "doubles cross-engine.",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.functions.text import repetition_ratio
    from etl_sample_spark.operators.dedup import _shingles

    docs = _t(spark, sf_dir, "documents")
    # Shingle array staged ONCE as a column (r16): n_shingles and both
    # sides of the repetition ratio previously inlined three separate
    # shingle builds per row. The multi-referenced alias survives
    # CollapseProject (SPARK-36718); values unchanged.
    return (
        docs.withColumn("__sh", _shingles(F.col("text")))
        .select(
            "doc_id",
            F.size("__sh").alias("n_shingles"),
            repetition_ratio(F.col("text"), shingles=F.col("__sh")).alias("repetition"),
        )
        .orderBy("doc_id")
    )


@register(
    "source_mix_report",
    """
    SELECT source, lang,
           COUNT(*)                              AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)          AS total_chars,
           COUNT(*) / SUM(COUNT(*)) OVER ()      AS doc_share
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
    """,
    doc="L6 dataset-card mixture table: per (source, lang) document "
    "count, total characters, and share of corpus — the first question "
    "asked of any pretraining mix. One grouped agg + one scalar window "
    "over the (tiny) group list; shares are ratios of exact int counts, "
    "identical doubles cross-engine.",
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        (F.col("n_docs") / F.sum("n_docs").over(Window.partitionBy())).alias("doc_share"),
    ).orderBy("source", "lang")


@register(
    "dup_rate_by_source",
    """
    SELECT source,
           COUNT(*)                    AS n_docs,
           COUNT(DISTINCT SHA256(text)) AS n_unique,
           1 - COUNT(DISTINCT SHA256(text)) / COUNT(*) AS dup_rate
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    doc="L6 curation diagnostic: per-source exact-duplication rate — "
    "which sources are worth crawling vs deduping away. Distinct counts "
    "run over sha256 digests, never full text (32-byte keys shuffle at "
    "100 TB, documents don't); collision probability ~2^-128 is the "
    "accepted standard for content identity.",
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    digest = F.sha2(F.col("text"), 256)
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(digest).alias("n_unique"),
            (1 - F.countDistinct(digest) / F.count(F.lit(1))).alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "multimodal_resize_stats",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS INT) AS w,
             CAST(5 + doc_id % 4 AS INT) AS h
      FROM documents),
    px AS (
      SELECT d.doc_id,
             ((d.doc_id * 31 + ((x2.x * d.w) // 8) * 7
                             + ((y2.y * d.h) // 6) * 13 + c.c * 97) % 256) AS v
      FROM dims d,
           UNNEST(RANGE(8)) AS x2(x),
           UNNEST(RANGE(6)) AS y2(y),
           UNNEST(RANGE(3)) AS c(c))
    SELECT doc_id,
           CAST(8 AS INT)      AS width,
           CAST(6 AS INT)      AS height,
           CAST(48 AS INT)     AS n_pixels,
           SUM(v) / COUNT(*)   AS pixel_mean
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="L5 REAL resize path: genuine PNG payloads decoded, "
    "nearest-neighbor resampled to 8x6, re-encoded as PNG, then decoded "
    "again for stats — decode -> transform -> re-encode -> decode, all "
    "through the pure-Python codec via mapInPandas. Nearest-neighbor is "
    "integer index arithmetic, so the oracle recomputes the resized "
    "pixel grid exactly in SQL: the whole transcode chain is "
    "value-checked cross-engine. operators/multimodal.py::resize_image.",
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import (
        attach_png_media,
        decode_image,
        resize_image,
    )

    docs = _t(spark, sf_dir, "documents")
    resized = resize_image(attach_png_media(docs), target_w=8, target_h=6)
    return decode_image(resized, fake=False).orderBy("doc_id")


@register(
    "multimodal_wav_decode",
    """
    WITH dims AS (
      SELECT doc_id, CAST(50 + doc_id % 17 AS INT) AS n FROM documents),
    s AS (
      SELECT d.doc_id, d.n,
             ((d.doc_id * 7919 + i.i * 104729) % 65536) - 32768 AS v
      FROM dims d, UNNEST(RANGE(d.n)) AS i(i))
    SELECT doc_id,
           n                         AS n_samples,
           CAST(8000 AS INT)         AS sample_rate,
           n * 1000.0 / 8000         AS duration_ms,
           SUM(v) / COUNT(*)         AS sample_mean
    FROM s
    GROUP BY doc_id, n
    ORDER BY doc_id
    """,
    doc="L5 REAL audio decode: genuine mono 16-bit PCM WAV payloads "
    "(RIFF chunk walk) synthesized per row and parsed by the "
    "pure-Python codec through mapInPandas — the audio twin of the "
    "BMP/PNG paths. Deterministic sample pattern → the oracle "
    "recomputes n_samples, duration, and the exact amplitude mean in "
    "SQL. operators/multimodal.py::attach_wav_media / _decode_wav.",
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_wav_media, decode_audio

    docs = _t(spark, sf_dir, "documents")
    return decode_audio(attach_wav_media(docs)).orderBy("doc_id")


@register(
    "multimodal_video_framesample",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 3 AS INT) AS w,
             CAST(3 + doc_id % 3 AS INT) AS h,
             CAST(2 + doc_id % 5 AS INT) AS nf
      FROM documents),
    fr AS (
      SELECT doc_id, w, h, CAST(f.f AS INT) AS frame_idx
      FROM dims, UNNEST(RANGE(0, nf, 2)) AS f(f)),
    px AS (
      SELECT fr.doc_id, fr.frame_idx, fr.w, fr.h,
             ((fr.doc_id * 31 + x.x * 7 + y.y * 13 + fr.frame_idx * 17 + c.c * 97) % 256) AS v
      FROM fr,
           UNNEST(RANGE(fr.w)) AS x(x),
           UNNEST(RANGE(fr.h)) AS y(y),
           UNNEST(RANGE(3))    AS c(c))
    SELECT doc_id, frame_idx, w AS width, h AS height,
           SUM(v) / COUNT(*) AS frame_mean
    FROM px
    GROUP BY doc_id, frame_idx, w, h
    ORDER BY doc_id, frame_idx
    """,
    doc="L5 REAL video path: genuine uncompressed AVI payloads (RIFF "
    "hdrl/avih + movi/00db raw frames) parsed by the pure-Python "
    "container walk through mapInPandas; every 2nd frame sampled and "
    "reduced to exact pixel stats. Deterministic per-(id, frame) pixel "
    "pattern → the oracle recomputes the sampled frame grid in SQL. "
    "operators/multimodal.py::attach_avi_media / _avi_frames / "
    "frame_stats.",
)
def multimodal_video_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_avi_media, frame_stats

    docs = _t(spark, sf_dir, "documents")
    return frame_stats(attach_avi_media(docs), every_nth=2).orderBy("doc_id", "frame_idx")


@register(
    "multimodal_image_features",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS INT) AS w,
             CAST(5 + doc_id % 4 AS INT) AS h
      FROM documents),
    px AS (
      SELECT d.doc_id, d.w, d.h, c.c,
             ((d.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 97) % 256) AS v
      FROM dims d,
           UNNEST(RANGE(d.w)) AS x(x),
           UNNEST(RANGE(d.h)) AS y(y),
           UNNEST(RANGE(3))   AS c(c)),
    ch AS (
      SELECT doc_id, w, h, c,
             SUM(v) / COUNT(*) AS m,
             SQRT(GREATEST(
               SUM(v * v) / COUNT(*) - (SUM(v) / COUNT(*)) * (SUM(v) / COUNT(*)),
               0.0)) AS s
      FROM px GROUP BY doc_id, w, h, c)
    SELECT doc_id,
           MAX(CASE WHEN c = 0 THEN m END) AS mean_r,
           MAX(CASE WHEN c = 1 THEN m END) AS mean_g,
           MAX(CASE WHEN c = 2 THEN m END) AS mean_b,
           MAX(CASE WHEN c = 0 THEN s END) AS std_r,
           MAX(CASE WHEN c = 1 THEN s END) AS std_g,
           MAX(CASE WHEN c = 2 THEN s END) AS std_b,
           w / h                           AS aspect,
           CAST(w * h AS INT)              AS n_pixels
    FROM ch
    GROUP BY doc_id, w, h
    ORDER BY doc_id
    """,
    doc="L5 REAL featurization: per-channel mean + population std, "
    "aspect, pixel count over DECODED PNG pixels (inflate + unfilter "
    "runs for real) — the learned-encoder contract with a decode this "
    "container executes. Exact integer channel sums divided once, "
    "multiplication not POWER, GREATEST clamp before SQRT: every float "
    "op identical cross-engine, so the features hash-check. "
    "operators/multimodal.py::image_features.",
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_png_media, image_features

    docs = _t(spark, sf_dir, "documents")
    return image_features(attach_png_media(docs)).orderBy("doc_id")


_PREP_SCRUB_SQL = (
    "REGEXP_REPLACE(REGEXP_REPLACE(text, '{email}', '<EMAIL>', 'g'), "
    "'{phone}', '<PHONE>', 'g')"
)


@register(
    "corpus_prep_end_to_end",
    f"""
    WITH salted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS text
      FROM documents),
    scrubbed AS (
      SELECT doc_id,
             {_PREP_SCRUB_SQL.format(email=EMAIL_PATTERN, phone=PHONE_PATTERN)} AS text
      FROM salted),
    scored AS (
      SELECT doc_id, text,
             LEAST(1.0, LENGTH(text) / 500.0) * 0.5
               + (1.0 - LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {{stop}}))
                      / LEN(STRING_SPLIT(text, ' '))) * 0.5 AS quality
      FROM scrubbed),
    gated AS (SELECT * FROM scored WHERE quality >= 0.55),
    ranked AS (
      SELECT doc_id, SHA256(text) AS content_sha, quality,
             ROW_NUMBER() OVER (PARTITION BY SHA256(text) ORDER BY doc_id) AS rn
      FROM gated)
    SELECT doc_id, content_sha, quality
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """.replace("{stop}", _STOP_SQL),
    doc="L6 full-chain corpus prep: plant PII -> scrub (shared "
    "Java/RE2-compatible patterns) -> quality gate on the SCRUBBED text "
    "-> exact dedup on scrubbed content (keep min doc_id per sha256). "
    "Everything map-side except the single dedup shuffle on 32-byte "
    "digests. The oracle replays the identical chain in SQL, including "
    "the redaction regexes and the quality expression.",
)
def corpus_prep_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_sample_spark.functions.text import quality_score, redact_pii

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("text"),
    )
    scrubbed = salted.select("doc_id", redact_pii(F.col("text")).alias("text"))
    scored = scrubbed.select(
        "doc_id",
        "text",
        quality_score(F.col("text"), F.length("text")).alias("quality"),
    )
    gated = scored.where(F.col("quality") >= 0.55)
    w = Window.partitionBy("content_sha").orderBy("doc_id")
    return (
        gated.withColumn("content_sha", F.sha2(F.col("text"), 256))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "content_sha", "quality")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L4+: retrieval scoring (BM25) and RAG chunking
# --------------------------------------------------------------------------

_BM25_TERMS = ("join", "filter", "spark")
_BM25_K1 = 1.2
_BM25_B = 0.75


# Shared BM25 CTE chain ending in `scored(doc_id, score)` — used by the
# standalone ranking query and the RRF fusion below.
_BM25_CTE = f"""toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents),
    stats AS (
      SELECT COUNT(*) AS n_docs, AVG(LEN(STRING_SPLIT(text, ' '))) AS avg_len
      FROM documents),
    doclen AS (
      SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS dl FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks WHERE term IN ('join', 'filter', 'spark')
      GROUP BY doc_id, term),
    idf AS (
      SELECT term, LN(1 + (s.n_docs - COUNT(DISTINCT tf.doc_id) + 0.5)
                         / (COUNT(DISTINCT tf.doc_id) + 0.5)) AS idf
      FROM tf, stats s GROUP BY term, s.n_docs),
    scored AS (
      SELECT tf.doc_id,
             SUM(idf.idf * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avg_len))) AS score
      FROM tf
      JOIN idf USING (term)
      JOIN doclen dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id)"""


@register(
    "bm25_score_query",
    f"""
    WITH {_BM25_CTE}
    SELECT doc_id, ROUND(score, 6) AS bm25
    FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
    doc="L4+: BM25 ranked retrieval (Robertson k1/b, Lucene-style "
    "(k1+1) numerator) for a fixed query over the documents table — the "
    "keyword half of hybrid search next to the cosine tier. 100 TB "
    "shape: term filter pushed below the explode-groupBy (only query "
    "terms aggregate); idf and corpus stats are tiny broadcasts; one "
    "shuffle on (doc_id, term), TakeOrderedAndProject for the top-k. "
    "Cross-engine: LN/div ulp noise absorbed by ROUND(,6), the "
    "established similarity-oracle convention.",
)
def bm25_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        _bm25_scored(docs)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.round("score", 6).alias("bm25"))
    )


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, score) for the fixed query — the shared BM25 core.
    Only docs containing ≥1 query term appear (inner-join semantics)."""
    # pin the SMALL derived relations (r15 scan audit): tf (docs ×
    # matched query terms), per-doc lengths (two ints per doc), and the
    # 1-row stats derived from lengths. Unpinned, every branch (tf,
    # idf-from-tf, stats, doclen, and each downstream self-join)
    # re-scanned the corpus and re-split the text — 10-21 parquet scans
    # in the executed plans. Pinned, the corpus is scanned twice (once
    # per independent derivation), and never materialized token-stream-
    # sized: only aggregates are pinned.
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term").isin(*_BM25_TERMS))
    tf = pin(
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doclen = pin(docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("dl")
    ))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avg_len"),
    )
    idf = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    term_score = F.col("idf") * F.col("tf") * (_BM25_K1 + 1) / (
        F.col("tf") + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avg_len"))
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )


@register(
    "hybrid_rrf_rerank",
    f"""
    WITH {_BM25_CTE},
    brank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rb
      FROM scored),
    btop AS (SELECT doc_id, rb FROM brank WHERE rb <= 50),
    qbase AS (
      SELECT doc_id, n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS n,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_STOP_SQL})) AS n_stop
      FROM documents),
    qrank AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY LEAST(1.0, n_chars / 500.0) * 0.5 + (1.0 - n_stop / n) * 0.5 DESC,
                        doc_id) AS rq
      FROM qbase)
    SELECT b.doc_id,
           CAST(b.rb AS INT)  AS bm25_rank,
           CAST(q.rq AS INT)  AS quality_rank,
           1.0 / (60 + b.rb) + 1.0 / (60 + q.rq) AS rrf
    FROM btop b JOIN qrank q USING (doc_id)
    ORDER BY rrf DESC, b.doc_id LIMIT 20
    """,
    doc="L4+: reciprocal-rank fusion of the BM25 relevance ranking with "
    "the quality-score ranking (k=60) — the standard hybrid-retrieval / "
    "curation rerank: relevance and quality each contribute 1/(k+rank). "
    "Ranks are exact integers (deterministic tie-break by doc_id), so "
    "the fused score is the same two-term double sum in both engines — "
    "emitted unrounded. 100 TB shape (implemented, r11): the BM25 "
    "top-50 is TakeOrdered (orderBy+limit → TakeOrderedAndProject; "
    "rank attached by a window over only those 50 rows), and the "
    "quality rank is computed for ONLY the 50 survivors via a "
    "broadcast count-greater join — one corpus scan counts, per "
    "survivor, the docs ranking strictly ahead (higher q, or equal q "
    "with smaller doc_id), so rq = ahead+1 equals the global "
    "ROW_NUMBER without ever sorting the corpus. No corpus-global "
    "window anywhere; the oracle keeps both ROW_NUMBER forms as the "
    "independent derivation.",
)
def hybrid_rrf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_sample_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    btop = (
        _bm25_scored(docs)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
        .withColumn(
            "rb",
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
        )
        .select("doc_id", "rb")
    )
    # pin (r15 scan audit): q_all feeds the survivor join AND the
    # strictly-ahead count; btop caps the BM25 core with a top-50 that
    # the downstream branches would otherwise re-execute.
    q_all = pin(docs.select(
        F.col("doc_id").alias("qd"),
        quality_score(F.col("text"), F.col("n_chars")).alias("q"),
    ))
    btop = pin(btop)
    surv = btop.join(
        q_all.select(F.col("qd").alias("doc_id"), F.col("q").alias("sq")), "doc_id"
    )
    # "Strictly ahead" must reproduce ROW_NUMBER(ORDER BY q DESC, doc_id)
    # under BOTH engines' nulls-LAST default for DESC: a null-q doc is
    # behind every non-null doc, and null-q docs order among themselves
    # by doc_id. The naive (q > sq) predicate is NULL (never true) when
    # either side is null, which would hand a null-q survivor rank 1.
    ahead_of_nonnull = (F.col("q") > F.col("sq")) | (
        (F.col("q") == F.col("sq")) & (F.col("qd") < F.col("sid"))
    )
    ahead_of_null = F.col("q").isNotNull() | (F.col("qd") < F.col("sid"))
    ahead = (
        q_all.join(
            F.broadcast(surv.select(F.col("doc_id").alias("sid"), "sq")),
            F.when(F.col("sq").isNotNull(), ahead_of_nonnull).otherwise(
                ahead_of_null
            ),
            "inner",
        )
        .groupBy("sid")
        .agg(F.count(F.lit(1)).alias("n_ahead"))
    )
    fused = (
        surv.join(ahead, surv.doc_id == ahead.sid, "left")
        .select(
            "doc_id",
            F.col("rb").cast("int").alias("bm25_rank"),
            (F.coalesce(F.col("n_ahead"), F.lit(0)) + 1)
            .cast("int")
            .alias("quality_rank"),
            (
                1.0 / (60 + F.col("rb"))
                + 1.0 / (60 + F.coalesce(F.col("n_ahead"), F.lit(0)) + 1)
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


_CHUNK_SIZE = 200
_CHUNK_STRIDE = 150  # 50-char overlap


@register(
    "doc_chunking_overlap",
    f"""
    SELECT d.doc_id,
           CAST(s.start // {_CHUNK_STRIDE} AS INT)            AS chunk_idx,
           CAST(s.start AS INT)                                AS chunk_start,
           SUBSTRING(d.text, CAST(s.start + 1 AS INT), {_CHUNK_SIZE}) AS chunk_text,
           CAST(LENGTH(SUBSTRING(d.text, CAST(s.start + 1 AS INT), {_CHUNK_SIZE})) AS INT) AS chunk_len
    FROM documents d,
         UNNEST(RANGE(0, GREATEST(d.n_chars - 1, 0) + 1, {_CHUNK_STRIDE})) AS s(start)
    ORDER BY d.doc_id, chunk_idx
    """,
    doc="L4+: overlapping document chunking (200-char windows, 150 "
    "stride = 50 overlap) — the RAG/embedding prep step. Pure Catalyst "
    "(sequence + posexplode + substring): map-only, no shuffle, no "
    "Python; at 100 TB this runs at scan speed and chunk boundaries "
    "are deterministic byte offsets, reproducible in SQL.",
)
def doc_chunking_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_chars") - 1, F.lit(0)).cast("int"), F.lit(_CHUNK_STRIDE)
    )
    return (
        docs.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("start").cast("int").alias("chunk_start"),
            F.expr(f"substring(text, start + 1, {_CHUNK_SIZE})").alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("int"))
        .orderBy("doc_id", "chunk_idx")
    )


def _minhash_audit_oracle() -> str:
    """Signature-agreement estimate vs TRUE shingle Jaccard for every
    LSH candidate pair, reusing the portable-hash signature CTEs (must
    stay bit-in-sync with _lsh_pairs_oracle / operators/dedup.py)."""
    h = _HASH_SQL.format(t="sh.s")
    sig_cols = ",\n             ".join(
        f"CAST(MIN(({h} * {a} + {b}) % 2147483647) AS BIGINT) AS h{j}"
        for j, (a, b) in enumerate(((7, 3), (13, 17), (31, 29), (61, 47)))
    )
    return f"""
    WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents),
    sh AS (
      SELECT d.doc_id, d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM docs d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    sig AS (
      SELECT sh.doc_id,
             {sig_cols}
      FROM sh GROUP BY sh.doc_id),
    fullsig AS (
      SELECT d.doc_id, COALESCE(h0, -1) AS h0, COALESCE(h1, -1) AS h1,
             COALESCE(h2, -1) AS h2, COALESCE(h3, -1) AS h3
      FROM documents d LEFT JOIN sig USING (doc_id)),
    bands AS (
      SELECT doc_id, 0 AS band, CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR) AS key FROM fullsig
      UNION ALL
      SELECT doc_id, 1 AS band, CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR) AS key FROM fullsig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    dsh AS (SELECT DISTINCT doc_id, s FROM sh),
    nsh AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT p.a_id, p.b_id, COUNT(*) AS i
      FROM pairs p
      JOIN dsh sa ON sa.doc_id = p.a_id
      JOIN dsh sb ON sb.doc_id = p.b_id AND sb.s = sa.s
      GROUP BY p.a_id, p.b_id)
    SELECT p.a_id, p.b_id,
           ((CASE WHEN fa.h0 = fb.h0 THEN 1 ELSE 0 END)
          + (CASE WHEN fa.h1 = fb.h1 THEN 1 ELSE 0 END)
          + (CASE WHEN fa.h2 = fb.h2 THEN 1 ELSE 0 END)
          + (CASE WHEN fa.h3 = fb.h3 THEN 1 ELSE 0 END)) / 4.0 AS est_jaccard,
           COALESCE(i.i, 0) * 1.0
             / NULLIF(na.n + nb.n - COALESCE(i.i, 0), 0)       AS true_jaccard
    FROM pairs p
    JOIN fullsig fa ON fa.doc_id = p.a_id
    JOIN fullsig fb ON fb.doc_id = p.b_id
    JOIN nsh na ON na.doc_id = p.a_id
    JOIN nsh nb ON nb.doc_id = p.b_id
    LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
    ORDER BY p.a_id, p.b_id
    """


@register(
    "minhash_jaccard_estimate_audit",
    _minhash_audit_oracle(),
    doc="L2 estimator audit: for every LSH candidate pair, the k=4 "
    "signature-agreement MinHash estimate next to the TRUE distinct-"
    "3-shingle Jaccard — the measurement that justifies (or indicts) "
    "the signature size before trusting it on a corpus. Both values are "
    "exact integer ratios (quarters and |A∩B|/|A∪B|), emitted "
    "unrounded. 100 TB shape: pairs come from the banded join (never "
    "n²); the true-Jaccard join touches only candidate pairs' shingle "
    "sets via plain equi-joins — the r11 form FORCE-broadcast the "
    "per-doc signature/shingle-count frames and the pair list, all of "
    "which grow with the corpus (r12 broadcast audit); at bench SF "
    "Spark still picks broadcast joins by size, at 100 TB these "
    "degrade to shuffles instead of driver OOMs.",
)
def minhash_jaccard_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.dedup import (
        _shingles,
        minhash_lsh_candidates,
        minhash_signature_df,
    )

    docs = _t(spark, sf_dir, "documents")
    # pin (r15 scan audit, re-measured r16 — SCALE.md r16): of the
    # three r15 pins only sig survives. A pinned relation is a
    # stats-opaque LogicalRDD, so every downstream join against it
    # loses its broadcast eligibility (defaultSizeInBytes ⇒ sort-merge)
    # — pinning pairs serialized the whole banded-join pipeline AND
    # degraded its two consumer joins, measured 13.6 s vs 10.0 s
    # unpinned at sf0.1 (all three pinned: 16.5 s; sig-only: 9.6 s).
    # dsh is token-stream-sized — materializing it costs more than its
    # branches' map-side shingle re-explodes save. This re-opens some
    # documents re-scans by design; the adjudication lives in
    # SCANAUDIT_r16.json.
    pairs = minhash_lsh_candidates(docs).select("a_id", "b_id")
    sig = pin(minhash_signature_df(docs))
    dsh = docs.select(
        "doc_id", F.explode(F.array_distinct(_shingles(F.col("text")))).alias("s")
    )
    nsh = dsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(dsh.alias("sa"), F.col("a_id") == F.col("sa.doc_id"))
        .join(
            dsh.alias("sb"),
            (F.col("b_id") == F.col("sb.doc_id")) & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    est = (
        (F.col("fa.h0") == F.col("fb.h0")).cast("int")
        + (F.col("fa.h1") == F.col("fb.h1")).cast("int")
        + (F.col("fa.h2") == F.col("fb.h2")).cast("int")
        + (F.col("fa.h3") == F.col("fb.h3")).cast("int")
    ) / 4.0
    union_n = F.col("na.n") + F.col("nb.n") - F.coalesce(F.col("i.i"), F.lit(0))
    truth = F.when(
        union_n > 0, F.coalesce(F.col("i.i"), F.lit(0)) * 1.0 / union_n
    )
    return (
        pairs.join(sig.alias("fa"), F.col("a_id") == F.col("fa.doc_id"))
        .join(sig.alias("fb"), F.col("b_id") == F.col("fb.doc_id"))
        .join(nsh.alias("na"), F.col("a_id") == F.col("na.doc_id"))
        .join(nsh.alias("nb"), F.col("b_id") == F.col("nb.doc_id"))
        .join(inter.alias("i"), ["a_id", "b_id"], "left")
        .select("a_id", "b_id", est.alias("est_jaccard"), truth.alias("true_jaccard"))
        .orderBy("a_id", "b_id")
    )


@register(
    "decontaminated_split_audit",
    f"""
    WITH bench AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents WHERE doc_id < 20),
    bsh AS (
      SELECT DISTINCT d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM bench d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    corp AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents WHERE doc_id >= 20),
    csh AS (
      SELECT DISTINCT d.doc_id, d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM corp d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    rate AS (
      SELECT doc_id,
             COUNT(CASE WHEN s IN (SELECT s FROM bsh) THEN 1 END) * 1.0 / COUNT(*) AS r
      FROM csh GROUP BY doc_id),
    fp AS (
      SELECT d.doc_id,
             CAST(SUM((r.i + 1) * (131*length(d.l[r.i + 1]) + ascii(d.l[r.i + 1]))) % {{fmod}}
                  AS BIGINT) AS fingerprint
      FROM corp d, UNNEST(RANGE(LEN(d.l))) AS r(i)
      GROUP BY d.doc_id)
    SELECT CASE WHEN fp.fingerprint % 10 < 8 THEN 'train'
                WHEN fp.fingerprint % 10 = 8 THEN 'val'
                ELSE 'test' END                              AS split,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           CAST(COUNT(CASE WHEN rate.r > 0.2 THEN 1 END) AS BIGINT) AS n_contaminated,
           CAST(COUNT(CASE WHEN rate.r <= 0.2 THEN 1 END) AS BIGINT) AS n_kept
    FROM fp JOIN rate USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """.replace("{fmod}", str(FINGERPRINT_MOD)),
    doc="L4/L6 composition — the decontamination step a real training "
    "run performs between splitting and shipping: content-hash split "
    "assignment x benchmark 3-gram contamination gate (rate > 0.2 "
    "drops), reported per split. Composes contamination_flags and the "
    "fingerprint split; both sides map-side with the benchmark shingle "
    "set broadcast. The audit shape (counts per split) is what lands in "
    "a dataset card.",
)
def decontaminated_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.functions.text import doc_fingerprint
    from etl_sample_spark.operators.dedup import contamination_flags

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= 20)
    rate = contamination_flags(corpus, docs.where(F.col("doc_id") < 20), n=3).select(
        "doc_id", "contamination_rate"
    )
    split = corpus.select(
        "doc_id",
        F.when(doc_fingerprint(F.col("text")) % 10 < 8, "train")
        .when(doc_fingerprint(F.col("text")) % 10 == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        split.join(rate, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("contamination_rate") > 0.2, 1)).alias("n_contaminated"),
            F.count(F.when(F.col("contamination_rate") <= 0.2, 1)).alias("n_kept"),
        )
        .orderBy("split")
    )


@register(
    "scd2_customer_segment_migration",
    """
    WITH base AS (SELECT c_custkey, c_mktsegment FROM customer),
    upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED' ELSE c_mktsegment END AS c_mktsegment
      FROM customer),
    changed AS (
      SELECT b.c_custkey
      FROM base b JOIN upd u USING (c_custkey)
      WHERE u.c_mktsegment IS DISTINCT FROM b.c_mktsegment)
    SELECT c_custkey, c_mktsegment,
           TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
           '9999-12-31 00:00:00'           AS valid_to,
           TRUE                            AS is_current
    FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_mktsegment,
           TIMESTAMP '1995-01-01 00:00:00',
           '2000-06-01 00:00:00',
           FALSE
    FROM base WHERE c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_mktsegment,
           TIMESTAMP '2000-06-01 00:00:00',
           '9999-12-31 00:00:00',
           TRUE
    FROM upd WHERE c_custkey IN (SELECT c_custkey FROM changed)
    ORDER BY c_custkey, valid_from
    """,
    doc="Warehouse-side dimension maintenance the reference's wholesale "
    "table reloads grow into: SCD Type 2 merge — initial customer load, "
    "then an update feed migrating every 7th customer's market segment; "
    "changed keys get their current version CLOSED and a new one OPENED, "
    "unchanged keys carry through, history stays queryable AS OF any "
    "time. Pure relational algebra: a change-detection join plus "
    "semi/anti branches, all equi-joins on the business key over "
    "DIMENSION-sized inputs (facts never enter the merge), full hash "
    "oracle. operators/scd.py::scd2_merge.",
)
def scd2_customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.scd import scd2_init, scd2_merge

    # pin (r15 scan audit): cust feeds history AND updates, and
    # scd2_merge's change-detection/closing/union branches re-execute
    # both — 19 parquet scans of customer in the executed plan. Pinned,
    # the table is scanned once; every branch reads the 2-column rows.
    cust = pin(
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
    )
    history = scd2_init(cust, "1995-01-01")
    updates = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("MIGRATED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    merged = scd2_merge(history, updates, "c_custkey", ["c_mktsegment"], "2000-06-01")
    # Present the open end as the standard SCD2 high-date sentinel,
    # FORMATTED AS A STRING: 9999-12-31 overflows pandas' ns-timestamp
    # range (max 2262-04-11), so a timestamp-typed sentinel can't be
    # canonicalized by pandas-based clients; the fixed-width string
    # keeps BETWEEN-style as-of predicates order-correct.
    return merged.select(
        "c_custkey",
        "c_mktsegment",
        "valid_from",
        F.date_format(
            F.coalesce("valid_to", F.lit("9999-12-31").cast("timestamp")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("valid_to"),
        "is_current",
    ).orderBy("c_custkey", "valid_from")


_PSI_EDGES = (10.0, 20.0, 40.0, 80.0, 160.0, 320.0)


def _psi_bucket_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} < {e} THEN {i}" for i, e in enumerate(_PSI_EDGES)
    )
    return f"CASE {cases} ELSE {len(_PSI_EDGES)} END"


@register(
    "feature_drift_psi_events",
    f"""
    WITH tagged AS (
      SELECT {_psi_bucket_sql("value")} AS bucket,
             CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 0 END AS is_ref
      FROM events),
    counts AS (
      SELECT bucket,
             SUM(is_ref)     AS n_ref,
             SUM(1 - is_ref) AS n_cur
      FROM tagged GROUP BY bucket),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts),
    shares AS (
      SELECT c.bucket,
             CAST(c.n_ref AS BIGINT) AS n_ref,
             CAST(c.n_cur AS BIGINT) AS n_cur,
             (c.n_ref + 0.5) / (t.t_ref + 0.5 * {len(_PSI_EDGES) + 1}) AS p,
             (c.n_cur + 0.5) / (t.t_cur + 0.5 * {len(_PSI_EDGES) + 1}) AS q
      FROM counts c CROSS JOIN tot t)
    SELECT CAST(bucket AS INT) AS bucket, n_ref, n_cur,
           ROUND((q - p) * LN(q / p), 6) AS psi_term
    FROM shares ORDER BY bucket
    """,
    doc="ML-ops data-drift monitor: Population Stability Index of the "
    "event value distribution, first half of the month (reference) vs "
    "second (current), over fixed deterministic bucket edges with "
    "Laplace smoothing (so empty buckets don't blow up the log). "
    "Per-bucket PSI terms are the dataset-card drift report; their sum "
    "is the alert metric (>0.2 = retrain-grade shift). 100 TB shape: "
    "one map pass (bucket + period tag) + one tiny groupBy — drift "
    "monitoring is free at scan speed. LN ulp noise absorbed by "
    "ROUND(,6), the established convention.",
)
def feature_drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    bucket = F.lit(len(_PSI_EDGES))
    for i in range(len(_PSI_EDGES) - 1, -1, -1):
        bucket = F.when(F.col("value") < _PSI_EDGES[i], F.lit(i)).otherwise(bucket)
    k = len(_PSI_EDGES) + 1
    tagged = events.select(
        bucket.alias("bucket"),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("is_ref"),
    )
    counts = tagged.groupBy("bucket").agg(
        F.sum("is_ref").alias("n_ref"), F.sum(1 - F.col("is_ref")).alias("n_cur")
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * k)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * k)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
        )
        .orderBy("bucket")
    )


@register(
    "revenue_trend_slope_by_priority",
    """
    WITH daily AS (
      SELECT o.o_orderpriority,
             DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o.o_orderdate) AS x,
             CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderpriority, x)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS slope
    FROM daily
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Feature-engineering / analytics composition: closed-form OLS "
    "trend slope of daily revenue per order priority — the 'is this "
    "segment growing' statistic computed entirely from distributive "
    "sums (n, Σx, Σy, Σxy, Σx²), no second pass, no ML library. Daily "
    "revenue sums are exact decimal through the VARCHAR bridge; the "
    "slope's float noise sits far below the ROUND(,6) grid. 100 TB "
    "shape: one fact join + two grouped aggs, both map-side partial.",
)
def revenue_trend_slope_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.functions.money import revenue_dec, sum_money

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    daily = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            "o_orderpriority",
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias("x"),
        )
        .agg(sum_money(revenue_dec()).alias("y"))
    )
    n = F.count(F.lit(1))
    sx = F.sum("x")
    sy = F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    return (
        daily.groupBy("o_orderpriority")
        .agg(
            n.cast("bigint").alias("n_days"),
            F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("slope"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "tokenizer_fertility_by_lang",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_chars) AS BIGINT)                      AS sum_chars,
           -- ratio of two exact integer sums: identical double both engines
           SUM(n_chars) * 1.0 / SUM(LEN(STRING_SPLIT(text, ' '))) AS chars_per_token
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Tokenizer-budget planning stat: corpus chars-per-token by "
    "language — the fertility number that converts storage size into "
    "token counts for training-mix math. Integer sums only (the ratio "
    "of exact sums is emitted unrounded, bit-identical cross-engine); "
    "one map pass + one tiny groupBy.",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(toks).cast("bigint").alias("sum_tokens"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            (F.sum("n_chars") * 1.0 / F.sum(toks)).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


@register(
    "multimodal_jpeg_color_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 2) AS INT) AS width,
             CAST(8 * (1 + doc_id % 3) AS INT) AS height
      FROM documents),
    blocks AS (
      SELECT d.doc_id, d.width, d.height,
             (d.doc_id * 41 + bx.bx * 17 + by.by * 29) % 256 AS r,
             (d.doc_id * 43 + bx.bx * 19 + by.by * 31) % 256 AS g,
             (d.doc_id * 47 + bx.bx * 23 + by.by * 37) % 256 AS b
      FROM dims d,
           UNNEST(RANGE(d.width // 8))  AS bx(bx),
           UNNEST(RANGE(d.height // 8)) AS by(by)),
    ycc AS (
      SELECT doc_id, width, height,
             LEAST(255, GREATEST(0, CAST(FLOOR(0.299::DOUBLE * r + 0.587::DOUBLE * g + 0.114::DOUBLE * b + 0.5) AS BIGINT)))                  AS y,
             LEAST(255, GREATEST(0, CAST(FLOOR(-0.168736::DOUBLE * r - 0.331264::DOUBLE * g + 0.5::DOUBLE * b + 128 + 0.5) AS BIGINT)))       AS cb,
             LEAST(255, GREATEST(0, CAST(FLOOR(0.5::DOUBLE * r - 0.418688::DOUBLE * g - 0.081312::DOUBLE * b + 128 + 0.5) AS BIGINT)))        AS cr
      FROM blocks),
    rgb AS (
      SELECT doc_id, width, height,
             LEAST(255, GREATEST(0, CAST(FLOOR(y + 1.402::DOUBLE * (cr - 128) + 0.5) AS BIGINT)))                             AS r2,
             LEAST(255, GREATEST(0, CAST(FLOOR(y - 0.344136::DOUBLE * (cb - 128) - 0.714136::DOUBLE * (cr - 128) + 0.5) AS BIGINT)))  AS g2,
             LEAST(255, GREATEST(0, CAST(FLOOR(y + 1.772::DOUBLE * (cb - 128) + 0.5) AS BIGINT)))                             AS b2
      FROM rgb_src)
    SELECT doc_id, width, height,
           CAST(width * height AS INT) AS n_pixels,
           SUM(r2 + g2 + b2) * 1.0 / (COUNT(*) * 3) AS pixel_mean
    FROM rgb
    GROUP BY doc_id, width, height
    ORDER BY doc_id
    """.replace("FROM rgb_src", "FROM ycc"),
    doc="L5 REAL color-JPEG decode: 3-component baseline JFIF payloads "
    "(interleaved MCUs, shared Huffman tables) from constant RGB "
    "blocks; the decode runs entropy decode + dequant + IDCT per "
    "component then the YCbCr->RGB matrix. Both colorspace conversions "
    "round HALF-UP explicitly (floor(v+0.5)) because Python round() is "
    "banker's while SQL ROUND is half-away — the one observable "
    "rounding-mode seam, closed by construction. Oracle replays "
    "generator -> encoder matrix -> decoder matrix arithmetic in SQL. "
    "operators/multimodal.py::attach_jpeg_color_media / _decode_jpeg_numpy.",
)
def multimodal_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_jpeg_color_media, decode_image

    docs = _t(spark, sf_dir, "documents")
    return decode_image(attach_jpeg_color_media(docs), fake=False).orderBy("doc_id")


@register(
    "incremental_rollup_orders_by_month",
    """
    SELECT o_orderpriority,
           DATE_TRUNC('month', o_orderdate) AS month,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS price_sum,
           CAST(COUNT(o_totalprice) AS BIGINT)                                       AS price_count,
           CAST(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS price_min,
           CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS price_max
    FROM orders
    GROUP BY o_orderpriority, month
    ORDER BY o_orderpriority, month
    """,
    doc="Incremental-aggregation correctness under the driver hash "
    "check: orders arrive as three deterministic batches, each batch is "
    "partially rolled up (distributive sum/count/min/max, money in "
    "exact decimal), and the partials are MERGED — the oracle computes "
    "the same rollup in one pass, so the merge algebra (sum of sums, "
    "min of mins, ...) is value-checked, which is exactly the property "
    "that lets a 100 TB rollup absorb a new batch without recomputing "
    "history. operators/incremental.py::rollup_batch / merge_rollups.",
)
def incremental_rollup_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from etl_sample_spark.operators.incremental import merge_rollups, rollup_batch

    # to_date: DuckDB's DATE_TRUNC returns DATE while Spark's date_trunc
    # returns TIMESTAMP — pin both engines to DATE.
    orders = _t(spark, sf_dir, "orders").withColumn(
        "month", F.to_date(F.date_trunc("month", F.col("o_orderdate")))
    )
    keys = ["o_orderpriority", "month"]
    measures = {"price": "CAST(o_totalprice AS DECIMAL(18,2))"}
    partials = [
        rollup_batch(orders.where(F.col("o_orderkey") % 3 == i), keys, measures)
        for i in range(3)
    ]
    merged = reduce(lambda a, b: merge_rollups(a, b, keys), partials)
    bridge = lambda c: F.expr(f"CAST(CAST({c} AS STRING) AS DOUBLE)").alias(c)
    return merged.select(
        "o_orderpriority",
        "month",
        bridge("price_sum"),
        F.col("price_count").cast("bigint").alias("price_count"),
        bridge("price_min"),
        bridge("price_max"),
    ).orderBy("o_orderpriority", "month")


def _rebalance_oracle() -> str:
    from etl_sample_spark.operators.sampling import _BUCKETS, hash_sample_gate_sql

    gate = hash_sample_gate_sql("d.doc_id")
    return f"""
    WITH parts(source, part) AS (VALUES ('src1', 3), ('src2', 2), ('src3', 1)),
    n AS (
      SELECT source, COUNT(*) AS n FROM documents
      WHERE source IN ('src1', 'src2', 'src3') GROUP BY source),
    k AS (SELECT MIN(n.n // p.part) AS k FROM n JOIN parts p USING (source)),
    cut AS (
      SELECT n.source, (p.part * k.k * {_BUCKETS}) // n.n AS cutoff
      FROM n JOIN parts p USING (source) CROSS JOIN k)
    SELECT d.doc_id, d.source
    FROM documents d JOIN cut ON d.source = cut.source
    WHERE {gate} < cut.cutoff
    ORDER BY d.doc_id
    """


@register(
    "rebalance_source_mix_3_2_1",
    _rebalance_oracle(),
    doc="Training-mix re-weighting: downsample three sources to a 3:2:1 "
    "mixture with the hash gate. ALL rate math is integer arithmetic "
    "(K = min(n_s div part_s); cutoff = part*K*buckets div n_s), so "
    "the exact kept subset — not just its size — is reproduced in SQL. "
    "Map-side filter; per-source counts are the only aggregation "
    "(driver collect bounded at the source count). "
    "operators/sampling.py::rebalance_source_mix.",
)
def rebalance_source_mix_3_2_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.sampling import rebalance_source_mix

    docs = _t(spark, sf_dir, "documents")
    kept = rebalance_source_mix(
        docs, "source", "doc_id", {"src1": 3, "src2": 2, "src3": 1}
    )
    return kept.select("doc_id", "source").orderBy("doc_id")


@register(
    "line_dedup_boilerplate",
    """
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
    segs AS (
      SELECT doc_id,
             CAST(g.i AS INT) AS pos,
             ARRAY_TO_STRING(tk[(8 * g.i + 1):(8 * g.i + 8)], ' ') AS line
      FROM toks, UNNEST(RANGE(CAST(CEIL(LEN(tk) / 8.0) AS BIGINT))) AS g(i)),
    common AS (
      SELECT line FROM segs GROUP BY line HAVING COUNT(DISTINCT doc_id) > 1),
    kept AS (
      SELECT s.doc_id, s.pos, s.line FROM segs s ANTI JOIN common c USING (line)),
    rebuilt AS (
      SELECT doc_id,
             CAST(COUNT(*) AS INT)              AS n_kept,
             STRING_AGG(line, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id),
    base AS (
      SELECT doc_id, CAST(CEIL(LEN(tk) / 8.0) AS INT) AS n_lines FROM toks)
    SELECT b.doc_id,
           b.n_lines,
           CAST(b.n_lines - COALESCE(r.n_kept, 0) AS INT) AS n_removed,
           COALESCE(r.text_clean, '')                     AS text_clean
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY b.doc_id
    """,
    doc="CCNet-style line-level dedup: drop every 8-token segment that "
    "appears in more than one distinct document (cross-document "
    "boilerplate that survives document-level dedup), re-assembling each "
    "document from its kept segments in order. The full cleaned text is "
    "hash-checked, not just the counts. 100 TB shape: one "
    "map-side-combinable distinct-doc count per segment, one shuffle "
    "anti-join against the boilerplate set (NOT broadcast — boilerplate "
    "is unbounded on a real corpus), one groupBy(doc_id) re-assembly; "
    "linear in corpus size. operators/dedup.py::line_level_dedup.",
)
def line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.dedup import line_level_dedup

    docs = _t(spark, sf_dir, "documents")
    return line_level_dedup(docs, "text", "doc_id", line_tokens=8, max_docs=1).orderBy(
        "doc_id"
    )


@register(
    "fuzzy_join_part_names",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT p_name, STRING_SPLIT(p_name, ' ')[-1] AS block_key FROM names)
    SELECT a.p_name                              AS name_a,
           b.p_name                              AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM blocked a JOIN blocked b
      ON a.block_key = b.block_key
     AND a.p_name < b.p_name
     AND levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
    """,
    doc="Blocked fuzzy join (record linkage): near-identical part names "
    "by edit distance <= 3, candidate pairs generated ONLY inside "
    "blocks sharing the final token — the classic blocking-key "
    "containment that turns O(n^2) linkage into sum-of-block^2. The "
    "expensive levenshtein runs post-equi-join, never as a join "
    "condition on its own (no NLJ; registry plan guard applies). 100 TB "
    "shape: dictionary-first — DISTINCT collapses the fact table to its "
    "name vocabulary before any pairing, so join input is vocabulary- "
    "not row-count-sized; matched canonical pairs then broadcast back "
    "to facts for repair (same shape as semantic_dedup_keep_best).",
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    blocked = (
        part.select("p_name")
        .distinct()
        .select("p_name", F.element_at(F.split("p_name", " "), -1).alias("block_key"))
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist <= 3)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("int").alias("edit_dist"),
        )
        .orderBy("name_a", "name_b")
    )


# Linear quality-classifier weights (fasttext-style fixed model: the
# learned coefficients ship as literals; inference is a dot product).
# Squashing uses softsign 0.5*(1+z/(1+|z|)) rather than the logistic —
# rational arithmetic only (+ * / abs), so both engines produce the
# bit-identical double and the keep-threshold cannot flip cross-engine
# the way exp()'s libm ulp differences could.
_QC_W = {"log_len": 0.9, "stop_ratio": -2.0, "uniq_ratio": 1.5, "bias": -4.5}

# Single source of truth for the classifier's linear score: the raw z
# (Spark Column + DuckDB SELECT) and the 6dp-rounded softsign score are
# defined ONCE here and reused by quality_classifier_score and the
# model-evaluation queries (AUC, decile lift) — the evaluation queries'
# premise is byte-identity with the classifier's output, so the
# expression must not exist in hand-synced copies.


_QC_Z_SQL = f"""
      SELECT doc_id, lang,
             {_QC_W["log_len"]}::DOUBLE * LN(CAST(n_chars AS DOUBLE))
             + {_QC_W["stop_ratio"]}::DOUBLE
               * (LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_STOP_SQL}))
                  * 1.0 / LEN(STRING_SPLIT(text, ' ')))
             + {_QC_W["uniq_ratio"]}::DOUBLE
               * (LEN(LIST_DISTINCT(STRING_SPLIT(text, ' ')))
                  * 1.0 / LEN(STRING_SPLIT(text, ' ')))
             + {_QC_W["bias"]}::DOUBLE AS z
      FROM documents"""

_QC_SCORE_SQL = f"""
      SELECT doc_id, lang,
             ROUND(0.5::DOUBLE * (1.0::DOUBLE + z / (1.0::DOUBLE + ABS(z))), 6)
               AS score
      FROM ({_QC_Z_SQL})"""


def _qc_z_col():
    toks = F.split("text", " ")
    n = F.size(toks)
    return (
        F.lit(_QC_W["log_len"]) * F.log(F.col("n_chars").cast("double"))
        + F.lit(_QC_W["stop_ratio"])
        * (F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) * 1.0 / n)
        + F.lit(_QC_W["uniq_ratio"]) * (F.size(F.array_distinct(toks)) * 1.0 / n)
        + F.lit(_QC_W["bias"])
    )


def _qc_score_col():
    z = _qc_z_col()
    return F.round(F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z))), 6)


@register(
    "quality_classifier_score",
    f"""
    WITH scored AS ({_QC_Z_SQL})
    SELECT doc_id,
           ROUND(0.5::DOUBLE * (1.0::DOUBLE + z / (1.0::DOUBLE + ABS(z))), 6) AS score,
           CAST(z > 0 AS BOOLEAN) AS keep
    FROM scored
    ORDER BY doc_id
    """,
    doc="Quality-classifier inference: a fixed linear model (fasttext- "
    "style learned weights shipped as literals) over cheap text "
    "features, squashed with the rational softsign instead of the "
    "logistic so the score — and the keep decision at z>0 — is "
    "bit-identical cross-engine (no libm exp in the comparison path). "
    "This is the shape of every learned quality gate at 100 TB: "
    "map-only inference fused into the scan, no shuffle, no Python — "
    "model coefficients fold into the Catalyst expression tree.",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _qc_score_col().alias("score"),
        (_qc_z_col() > 0).alias("keep"),
    ).orderBy("doc_id")


@register(
    "doc_length_histogram",
    """
    SELECT CAST(n_chars // 50 AS BIGINT)      AS bucket,
           CAST(n_chars // 50 * 50 AS BIGINT) AS bucket_lo,
           COUNT(*)                           AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)       AS total_chars
    FROM documents
    GROUP BY 1, 2
    ORDER BY bucket
    """,
    doc="Corpus length histogram (fixed 50-char buckets, exact integer "
    "floor-division bucketing): the length-distribution diagnostic every "
    "dataset card carries. Map-side-combinable single groupBy; bucket "
    "count bounded by the value range, not the corpus.",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    b = F.floor(F.col("n_chars") / 50)
    return (
        docs.groupBy(
            b.cast("bigint").alias("bucket"),
            (b * 50).cast("bigint").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("bucket")
    )


@register(
    "heavy_hitters_tokens",
    f"""
    WITH tok AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    counts AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t)
    SELECT c.t AS token,
           CAST(c.cnt AS BIGINT) AS cnt,
           c.cnt * 1.0 / tt.n    AS share
    FROM counts c CROSS JOIN tot tt
    WHERE c.cnt * 200 > tt.n
    ORDER BY token
    """,
    doc="Exact heavy hitters: tokens exceeding 0.5% of the corpus token "
    "mass — the vocabulary-pollution diagnostic (a token this hot is "
    "usually boilerplate, markup, or a tokenizer bug). share is an "
    "exact integer ratio, emitted unrounded. 100 TB shape: one explode "
    "+ one map-side-combinable count; the threshold comparison uses "
    "integer cross-multiplication (cnt*200 > n), no division, and the "
    "1-row total broadcasts. The sketch twin for one-pass streaming "
    "settings is countmin_token_estimate.",
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t"))
    # UNPINNED r16 (was pinned r15): counts feeds the one-row total
    # AND the final projection, but the second derivation is a cheap
    # parallel re-explode while the pin's materialize barrier measured
    # slower at both tiers (sf0.1 0.45→0.60 s, 10× 0.88→1.17 s,
    # interleaved medians — SCALE.md r16). The total still derives
    # FROM counts (vocabulary-sized input), not from a third corpus
    # pass.
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * 200 > F.col("n"))
        .select(
            F.col("t").alias("token"),
            F.col("cnt").cast("bigint").alias("cnt"),
            (F.col("cnt") * 1.0 / F.col("n")).alias("share"),
        )
        .orderBy("token")
    )


# Count-min sketch geometry: d affine hash rows over w counters. The row
# hashes are affine variants of the portable token hash — NOT independent
# (which costs accuracy, documented), but the sketch's one-sided
# guarantee (estimate >= exact, always) holds for ANY hash family, and
# portability is what lets the oracle rebuild the sketch bit-for-bit.
_CM_W = 1024
_CM_ROWS = [(1, 0), (31, 7), (131, 13), (1000003, 29)]


def _cm_cell_sql(h: str, a: int, b: int) -> str:
    return f"((({h}) * {a} + {b}) % {_CM_W})"


@register(
    "countmin_token_estimate",
    f"""
    WITH tok AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    hashed AS (
      SELECT t, {_HASH_SQL.format(t="t")} AS h FROM tok),
    cells AS (
      {" UNION ALL ".join(
          f"SELECT {r} AS row_id, {_cm_cell_sql('h', a, b)} AS cell, COUNT(*) AS c "
          f"FROM hashed GROUP BY 1, 2"
          for r, (a, b) in enumerate(_CM_ROWS))}),
    exact AS (
      SELECT t, MIN(h) AS h, COUNT(*) AS cnt FROM hashed GROUP BY t
      ORDER BY cnt DESC, t LIMIT 20),
    probed AS (
      SELECT e.t, e.cnt,
             {", ".join(
                 f"MAX(CASE WHEN c.row_id = {r} AND c.cell = {_cm_cell_sql('e.h', a, b)} "
                 f"THEN c.c END) AS est_{r}"
                 for r, (a, b) in enumerate(_CM_ROWS))}
      FROM exact e CROSS JOIN cells c
      GROUP BY e.t, e.cnt, e.h)
    SELECT t AS token,
           CAST(cnt AS BIGINT) AS exact_cnt,
           CAST(LEAST(est_0, est_1, est_2, est_3) AS BIGINT) AS cm_estimate
    FROM probed
    ORDER BY exact_cnt DESC, token
    """,
    doc="Count-min sketch frequency estimation, rebuilt bit-for-bit in "
    "SQL: d=4 affine-hash rows x w=1024 counters over the corpus token "
    "stream; the 20 hottest tokens are probed and the estimate "
    "(min across rows) is emitted next to the exact count. The sketch's "
    "one-sided guarantee — estimate >= exact for EVERY token, any hash "
    "family — is pinned for all tokens in pytest "
    "(test_countmin_never_underestimates). 100 TB shape: the sketch is "
    "a fixed d*w-cell aggregate (map-side combinable, ~KBs per "
    "executor) — frequency estimates without a per-token shuffle; the "
    "probe side broadcasts.",
)
def countmin_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.dedup import _token_hash

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t"))
    hashed = tok.select("t", _token_hash(F.col("t")).alias("h"))
    # ONE corpus pass for all d sketch rows (r15 scan audit): explode
    # each token to its d (row, cell) addresses map-side and run a
    # single combinable groupBy — the per-row union of groupBys
    # re-scanned documents once per row (d+2 scans total). Same cell
    # multiset per row, identical counts; the sketch stays d×W-bounded
    # and is pinned for the probe join below.
    cells = pin(
        hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row_id"),
                            ((F.col("h") * a + b) % _CM_W).alias("cell"),
                        )
                        for r, (a, b) in enumerate(_CM_ROWS)
                    ]
                )
            ).alias("rc")
        )
        .groupBy(F.col("rc.row_id").alias("row_id"), F.col("rc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = pin(
        hashed.groupBy("t")
        .agg(F.min("h").alias("h"), F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "t")
        .limit(20)
    )
    # Probe = equi-join: explode each probe token to its d (row, cell)
    # addresses and join the (bounded, broadcastable) sketch table — no
    # cross join anywhere, and the shape stays a map-side hash probe no
    # matter how many tokens are queried.
    probe_cells = exact.select(
        "t",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row_id"),
                        ((F.col("h") * a + b) % _CM_W).alias("cell"),
                    )
                    for r, (a, b) in enumerate(_CM_ROWS)
                ]
            )
        ).alias("rc"),
    ).select("t", "cnt", "rc.row_id", "rc.cell")
    return (
        probe_cells.join(F.broadcast(cells), ["row_id", "cell"])
        .groupBy("t", "cnt")
        .agg(F.min("c").alias("est"))
        .select(
            F.col("t").alias("token"),
            F.col("cnt").cast("bigint").alias("exact_cnt"),
            F.col("est").cast("bigint").alias("cm_estimate"),
        )
        .orderBy(F.desc("exact_cnt"), "token")
    )


@register(
    "unigram_logprob_score",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t)
    SELECT k.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(LN(f.cnt * 1.0 / tt.n)) / COUNT(*), 6) AS avg_logprob
    FROM tok k
    JOIN freq f ON f.t = k.t
    CROSS JOIN tot tt
    GROUP BY k.doc_id
    ORDER BY k.doc_id
    """,
    doc="Unigram language-model scoring: each document's mean token "
    "log-probability under the corpus's own unigram model — the "
    "KenLM-perplexity-shaped quality signal (gibberish and rare-token "
    "spam score low; every probe token exists in the model by "
    "construction, so no smoothing term clouds the oracle). 100 TB "
    "shape: two passes — a map-side-combinable vocabulary count, then "
    "one token-stream join against it (at real vocabulary sizes a "
    "shuffle join; Spark's AQE broadcasts it when small) and a "
    "groupBy(doc_id). LN ulp noise sits far below ROUND(,6), the "
    "established convention.",
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    # pin the VOCABULARY-sized model (r15 scan audit) and derive the
    # total from it: unpinned, tot/freq/scoring each re-scanned
    # documents and re-exploded the token stream (6 scans); pinned,
    # two corpus passes (model build + scoring join).
    freq = pin(
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = freq.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"))
    return (
        tok.join(freq, "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.log(F.col("cnt") * 1.0 / F.col("n"))) / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def _fuzzy_pairs_oracle() -> str:
    return """
      SELECT a.p_name AS a_id, b.p_name AS b_id
      FROM (SELECT p_name, STRING_SPLIT(p_name, ' ')[-1] AS bk
            FROM (SELECT DISTINCT p_name FROM part)) a
      JOIN (SELECT p_name, STRING_SPLIT(p_name, ' ')[-1] AS bk
            FROM (SELECT DISTINCT p_name FROM part)) b
        ON a.bk = b.bk AND a.p_name < b.p_name
           AND levenshtein(a.p_name, b.p_name) <= 3"""


@register(
    "entity_resolution_part_names",
    f"""
    WITH RECURSIVE pairs AS ({_fuzzy_pairs_oracle()}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    nodes AS (SELECT DISTINCT u FROM edges),
    reach(name, r) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT r.name, e.v FROM reach r JOIN edges e ON r.r = e.u),
    canon AS (SELECT name, MIN(r) AS canonical FROM reach GROUP BY name)
    SELECT d.p_name                        AS name,
           COALESCE(c.canonical, d.p_name) AS canonical,
           CAST(COUNT(*) AS BIGINT)        AS n_parts
    FROM part d LEFT JOIN canon c ON c.name = d.p_name
    GROUP BY 1, 2
    ORDER BY canonical, name
    """,
    doc="Entity resolution end-to-end: blocked fuzzy pairs "
    "(fuzzy_join_part_names) -> connected components over the match "
    "graph -> canonical surface form (min name per component) -> "
    "repair-back join counting the fact rows each mapping touches. The "
    "full dirty-dimension cleanup a warehouse runs before conformed "
    "joins. Oracle = recursive-CTE transitive closure, an independent "
    "algorithm vs the label-propagation fixpoint. 100 TB shape: "
    "everything pairwise happens on the DISTINCT name vocabulary "
    "(dictionary-sized); the only fact-table touch is the final "
    "broadcastable canonical-map join.",
)
def entity_resolution_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.dedup import neardup_clusters

    part = _t(spark, sf_dir, "part")
    blocked = (
        part.select("p_name")
        .distinct()
        .select("p_name", F.element_at(F.split("p_name", " "), -1).alias("bk"))
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3)
        .select(F.col("a.p_name").alias("a_id"), F.col("b.p_name").alias("b_id"))
    )
    canon = neardup_clusters(pairs).select(
        F.col("doc_id").alias("name"), F.col("cluster_id").alias("canonical")
    )
    return (
        part.join(canon, part["p_name"] == canon["name"], "left")
        .groupBy(
            F.col("p_name").alias("name"),
            F.coalesce("canonical", "p_name").alias("canonical"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy("canonical", "name")
    )


@register(
    "multimodal_mjpeg_framesample",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 2) AS INT) AS w,
             CAST(8 * (1 + doc_id % 3) AS INT) AS h,
             CAST(2 + doc_id % 4 AS INT)       AS nf
      FROM documents),
    fr AS (
      SELECT doc_id, w, h, CAST(f.f AS INT) AS frame_idx
      FROM dims, UNNEST(RANGE(0, nf, 2)) AS f(f)),
    blocks AS (
      SELECT fr.doc_id, fr.frame_idx, fr.w, fr.h,
             ((fr.doc_id * 37 + fr.frame_idx * 19 + bx.bx * 11 + by.by * 23) % 256) AS v
      FROM fr,
           UNNEST(RANGE(fr.w // 8)) AS bx(bx),
           UNNEST(RANGE(fr.h // 8)) AS by(by))
    SELECT doc_id, frame_idx, w AS width, h AS height,
           SUM(v) / COUNT(*) AS frame_mean
    FROM blocks
    GROUP BY doc_id, frame_idx, w, h
    ORDER BY doc_id, frame_idx
    """,
    doc="L5 REAL compressed-video decode: genuine Motion-JPEG AVI "
    "payloads — each '00dc' chunk a real Huffman-coded baseline JFIF — "
    "container-walked AND per-frame entropy-decoded (Huffman + dequant "
    "+ IDCT) by the in-repo codecs through mapInPandas; every 2nd "
    "frame sampled. Constant 8x8 blocks + all-8s quant decode "
    "bit-exactly, so the oracle recomputes the sampled frame means in "
    "SQL and the whole compressed-video path is value-checked "
    "cross-engine. Closes the last stubbed video codec. "
    "operators/multimodal.py::attach_mjpeg_media / mjpeg_frame_stats.",
)
def multimodal_mjpeg_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_mjpeg_media, mjpeg_frame_stats

    docs = _t(spark, sf_dir, "documents")
    return mjpeg_frame_stats(attach_mjpeg_media(docs), every_nth=2).orderBy(
        "doc_id", "frame_idx"
    )


@register(
    "inverted_index_postings",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    tf AS (
      SELECT t, doc_id, COUNT(*) AS f FROM tok GROUP BY t, doc_id)
    SELECT t AS token,
           CAST(COUNT(*) AS BIGINT)  AS df,
           CAST(SUM(f) AS BIGINT)    AS cf,
           ARRAY_TO_STRING(list(doc_id ORDER BY doc_id) FILTER (WHERE rn <= 5), ',')
             AS top_postings
    FROM (SELECT t, doc_id, f,
                 ROW_NUMBER() OVER (PARTITION BY t ORDER BY f DESC, doc_id) AS rn
          FROM tf)
    GROUP BY t
    ORDER BY token
    """,
    doc="Inverted-index construction: per token, document frequency, "
    "collection frequency, and the head of the posting list (top-5 docs "
    "by term frequency, doc_id-tiebroken) — the index build behind "
    "BM25/ranked retrieval (bm25_score_query recomputes stats inline; "
    "this materializes them). 100 TB shape: explode + one "
    "map-side-combinable (token, doc) count + one token-partitioned "
    "window; posting heads are bounded per token so the output is "
    "vocabulary-sized (emitted ','-joined — driver-canonicalizable "
    "scalar). Full postings would partitionBy(token) to parquet "
    "instead of collecting into a row.",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t", "doc_id")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.partitionBy("t").orderBy(F.desc("f"), "doc_id")
    ranked = tf.select("t", "doc_id", "f", F.row_number().over(w).alias("rn"))
    return (
        ranked.groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("f").cast("bigint").alias("cf"),
            F.array_join(
                F.sort_array(
                    F.collect_list(F.when(F.col("rn") <= 5, F.col("doc_id")))
                ),
                ",",
            ).alias("top_postings"),
        )
        .select(F.col("t").alias("token"), "df", "cf", "top_postings")
        .orderBy("token")
    )


@register(
    "bigram_pmi_collocations",
    """
    WITH tok AS (
      SELECT doc_id, t, i FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t,
               UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) AS i
        FROM documents)),
    bi AS (
      SELECT a.t AS w1, b.t AS w2
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
    uni AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT COUNT(*) AS n_uni FROM tok),
    bic AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    btot AS (SELECT COUNT(*) AS n_bi FROM bi)
    SELECT b.w1, b.w2,
           CAST(b.c12 AS BIGINT) AS n_pair,
           ROUND(LN((b.c12 * 1.0 / bt.n_bi)
                    / ((u1.c * 1.0 / t.n_uni) * (u2.c * 1.0 / t.n_uni))), 6) AS pmi
    FROM bic b
    JOIN uni u1 ON u1.t = b.w1
    JOIN uni u2 ON u2.t = b.w2
    CROSS JOIN tot t CROSS JOIN btot bt
    WHERE b.c12 >= 20
    ORDER BY pmi DESC, b.w1, b.w2
    """,
    doc="Collocation mining: pointwise mutual information of adjacent "
    "token pairs (observed bigram probability vs independence), "
    "min-support 20 — the phrase detector behind tokenizer vocab "
    "construction and boilerplate discovery. Bigrams come from a "
    "positional self-join (equi on doc + adjacent index; at scale the "
    "map-side array-zip form avoids even that). Counts are exact; the "
    "single LN sits under ROUND(,6). One-row totals broadcast.",
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # Map-side bigram construction: zip the token array with its tail —
    # no positional self-join needed (the SQL oracle spells the join
    # form; same multiset either way).
    bi = docs.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # pin the two VOCABULARY-sized count tables (r15 scan audit): uni
    # feeds tot + u1 + u2 and bic feeds btot + the result — unpinned,
    # each branch re-scanned documents and re-exploded the token/bigram
    # stream (8 scans). Pinned: two corpus passes total.
    uni = pin(
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_uni"))
    bic = pin(
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    btot = bic.agg(F.sum("c12").alias("n_bi"))
    u1 = uni.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c12") * 1.0 / F.col("n_bi"))
        / ((F.col("c1") * 1.0 / F.col("n_uni")) * (F.col("c2") * 1.0 / F.col("n_uni")))
    )
    return (
        bic.where(F.col("c12") >= 20)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
    )


@register(
    "markov_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events),
    trans AS (
      SELECT event_type AS src, nxt AS dst, COUNT(*) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT src, SUM(c) AS n FROM trans GROUP BY src)
    SELECT t.src, t.dst,
           CAST(t.c AS BIGINT) AS n,
           t.c * 1.0 / tt.n    AS p
    FROM trans t JOIN tot tt ON tt.src = t.src
    ORDER BY t.src, t.dst
    """,
    doc="First-order Markov transition matrix over user event streams: "
    "P(next event type | current), from one LEAD window + two tiny "
    "grouped counts — the session-dynamics model behind journey "
    "analysis and synthetic-sequence generation. p is an exact integer "
    "ratio (unrounded, bit-identical). 100 TB shape: one user_id "
    "shuffle; the transition matrix is |types|^2-bounded.",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type", F.lead("event_type").over(w).alias("nxt"))
    trans = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = trans.groupBy("src").agg(F.sum("c").alias("n"))
    return (
        trans.join(tot, "src")
        .select(
            "src",
            "dst",
            F.col("c").cast("bigint").alias("n"),
            (F.col("c") * 1.0 / F.col("n")).alias("p"),
        )
        .orderBy("src", "dst")
    )


from etl_sample_spark.operators.sampling import hash_sample_gate_sql as _hsg  # noqa: E402
_ws_gate = _hsg("doc_id")


@register(
    "weighted_sample_by_length",
    f"""
    WITH gated AS (
      SELECT doc_id, n_chars, lang,
             {_ws_gate} AS gate
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           lang
    FROM gated
    WHERE gate < LEAST(n_chars * 20, 10000)
    ORDER BY doc_id
    """,
    doc="Importance-weighted deterministic sampling: keep probability "
    "proportional to document length (weight = min(n_chars*20, cap) on "
    "the 10000-bucket hash gate), with ZERO randomness — the kept "
    "subset is a pure function of (doc_id, n_chars), so retries and "
    "other engines reproduce it exactly (the same hash-gate discipline "
    "as hash_stratified_sample, extended to per-row weights). The "
    "quality-weighted downsampling shape used to skew a training mix "
    "toward long/high-quality documents. Map-side filter, no shuffle. "
    "operators/sampling.py::weighted_sample_integer.",
)
def weighted_sample_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.sampling import weighted_sample_integer

    docs = _t(spark, sf_dir, "documents")
    kept = weighted_sample_integer(
        docs, "doc_id", F.col("n_chars") * 20, weight_cap=10000
    )
    return kept.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "lang",
    ).orderBy("doc_id")


@register(
    "embedding_int8_quantization",
    """
    WITH scaled AS (
      SELECT vec_id, embedding,
             (SELECT MAX(ABS(CAST(x AS DOUBLE))) FROM UNNEST(embedding) AS t(x)) AS max_abs
      FROM embeddings),
    q AS (
      SELECT vec_id, max_abs,
             [LEAST(127, GREATEST(-127,
                CAST(FLOOR(CAST(x AS DOUBLE) * 127.0::DOUBLE / max_abs + 0.5::DOUBLE) AS INT)))
              FOR x IN embedding] AS qvec,
             embedding
      FROM scaled WHERE max_abs > 0)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           ROUND(max_abs, 6)      AS max_abs,
           ARRAY_TO_STRING(qvec, ',') AS qvec,
           CAST(LEN(qvec) AS INT) AS dim,
           ROUND(list_max([ABS(CAST(embedding[i] AS DOUBLE) - qvec[i] * max_abs / 127.0::DOUBLE)
                           FOR i IN range(1, LEN(embedding) + 1)]), 6) AS max_err
    FROM q
    ORDER BY vec_id
    """,
    doc="Int8 embedding quantization (max-abs symmetric, the ANN-index "
    "compression standard: 4x smaller vectors, SIMD-friendly dot "
    "products): per-vector scale = 127/max_abs, half-up rounding "
    "(FLOOR(x+0.5), the portable convention), clamp to [-127, 127], "
    "plus the max reconstruction error every index build logs. All "
    "array higher-order functions — map-side, no shuffle, no Python. "
    "The error bound max_err <= max_abs/254 + ulp is pinned in pytest.",
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    qv = F.transform(
        x,
        lambda v: F.least(
            F.lit(127),
            F.greatest(
                F.lit(-127),
                F.floor(v * 127.0 / F.col("max_abs") + 0.5).cast("int"),
            ),
        ),
    )
    err = F.round(
        F.array_max(
            F.zip_with(
                x,
                F.col("qvec"),
                lambda v, q: F.abs(v - q.cast("double") * F.col("max_abs") / 127.0),
            )
        ),
        6,
    )
    return (
        emb.select("vec_id", "embedding", max_abs.alias("max_abs"))
        .where(F.col("max_abs") > 0)
        .withColumn("qvec", qv)
        # err computed in its OWN stage: putting it in the same select as
        # round(max_abs).alias("max_abs") lets the collapsed projection
        # resolve err's max_abs reference to the ROUNDED alias (observed:
        # a 2.7e-7 shift that crossed the 6dp grid on one vector).
        .withColumn("max_err", err)
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.round("max_abs", 6).alias("max_abs"),
            # ','-joined scalar emit: int8 codes render identically in
            # both engines, and the driver's pandas canonicalizer needs
            # hashable (non-list) cells.
            F.array_join(
                F.transform(F.col("qvec"), lambda q: q.cast("string")), ","
            ).alias("qvec"),
            F.size("qvec").cast("int").alias("dim"),
            "max_err",
        )
        .orderBy("vec_id")
    )


@register(
    "multimodal_gif_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(5 + doc_id % 4 AS INT) AS width,
             CAST(4 + doc_id % 5 AS INT) AS height
      FROM documents),
    px AS (
      SELECT d.doc_id, d.width, d.height,
             ((d.doc_id * 29 + x.x * 11 + y.y * 17) % 256) AS v
      FROM dims d,
           UNNEST(RANGE(d.width))  AS x(x),
           UNNEST(RANGE(d.height)) AS y(y))
    SELECT doc_id,
           width,
           height,
           CAST(width * height AS INT) AS n_pixels,
           SUM(v) / COUNT(*)           AS pixel_mean
    FROM px
    GROUP BY doc_id, width, height
    ORDER BY doc_id
    """,
    doc="L5 REAL palette-image decode: genuine GIF87a payloads "
    "(256-entry grayscale color table + LZW-compressed index stream) "
    "decoded by the pure-Python codec through mapInPandas — the "
    "decoder implements COMPLETE variable-code-width LZW (dictionary "
    "growth, width bumps, CLEAR resets, the copy-ahead rule), so the "
    "lossless pixel stats are value-checked cross-engine like "
    "PNG/BMP. Closes the LZW family alongside zlib (PNG) and Huffman "
    "(JPEG). operators/multimodal.py::attach_gif_media / _decode_gif.",
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import attach_gif_media, decode_image

    docs = _t(spark, sf_dir, "documents")
    return decode_image(attach_gif_media(docs), fake=False).orderBy("doc_id")


_ga_gate = _hsg("user_id")


@register(
    "group_aware_split_events",
    f"""
    WITH tagged AS (
      SELECT user_id, event_id,
             CASE WHEN {_ga_gate} < 8000 THEN 'train'
                  WHEN {_ga_gate} < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM events)
    SELECT split,
           CAST(COUNT(*) AS BIGINT)                 AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)  AS n_users
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
    doc="Group-aware train/val/test split: the gate hashes the USER, "
    "not the row, so every event of a user lands in one split — the "
    "leakage guard sequence/session models need (row-level splits put "
    "a user's history in train and their future in test, inflating "
    "eval). The complement of train_val_test_split's content-hash "
    "document split. Deterministic hash gate; map-side tag + one tiny "
    "groupBy. The per-split event/user counts are the dataset-card "
    "numbers; the tag itself joins back map-side for the actual "
    "export.",
)
def group_aware_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.sampling import hash_position

    ev = _t(spark, sf_dir, "events")
    gate = hash_position(F.col("user_id")) % 10000
    split = (
        F.when(gate < 8000, "train").when(gate < 9000, "val").otherwise("test")
    )
    return (
        ev.select(split.alias("split"), "user_id", "event_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("split")
    )


@register(
    "per_group_k_sample_docs",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_hsg("doc_id")}, doc_id) AS rn
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source
    FROM ranked WHERE rn <= 20
    ORDER BY doc_id
    """,
    doc="Per-group uniform k-sample: exactly min(k, |group|) documents "
    "per source, chosen by ranking on the deterministic hash gate "
    "(doc_id tiebreak) — the eyeball-sample/debug-extract primitive "
    "(k per tenant, k per day) with reproducible membership, unlike "
    "RNG sampling. One window shuffle on the group key; at 100 TB "
    "combine with WindowGroupLimit (pinned in "
    "tests/test_partition_pruning.py), which keeps only k rows per "
    "partition before the exchange.",
)
def per_group_k_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_sample_spark.operators.sampling import hash_position

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hash_position(F.col("doc_id")) % 10000, "doc_id"
    )
    return (
        docs.select("doc_id", "lang", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 20)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "lang_confusion_matrix",
    f"""
    WITH pred AS (
      SELECT lang AS actual,
             CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_STOP_SQL}))
                       * 1.0 / LEN(STRING_SPLIT(text, ' ')) > 0.08 THEN 'en'
                  WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                           t -> t IN ('spark','vector','hash','query')))
                       * 1.0 / LEN(STRING_SPLIT(text, ' ')) > 0.12 THEN 'tech'
                  ELSE 'unknown' END AS predicted
      FROM documents)
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred
    GROUP BY actual, predicted
    ORDER BY actual, predicted
    """,
    doc="Classifier evaluation: confusion matrix of the language-ID "
    "heuristic against the corpus's labeled lang column — the "
    "quality-gate calibration every heuristic classifier needs before "
    "its threshold gates a corpus. One map pass + a "
    "|labels|x|labels|-bounded groupBy.",
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("actual"),
            lang_id_heuristic(F.col("text")).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("actual", "predicted")
    )


@register(
    "kmv_distinct_sketch_custkeys",
    """
    WITH h AS (
      SELECT DISTINCT (o_custkey * 2654435761 + 40503) % 2147483647 AS hv
      FROM orders),
    k AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
    kth AS (SELECT MAX(hv) AS h_k, COUNT(*) AS k FROM k),
    ex AS (SELECT COUNT(DISTINCT o_custkey) AS exact_d FROM orders)
    SELECT CAST(k AS INT)            AS k,
           CAST(h_k AS BIGINT)       AS kth_min_hash,
           CAST((k - 1) * 2147483647 // h_k AS BIGINT) AS est_distinct,
           CAST(exact_d AS BIGINT)   AS exact_distinct,
           ABS((k - 1) * 2147483647 // h_k - exact_d) * 1.0 / exact_d AS rel_err
    FROM kth CROSS JOIN ex
    """,
    doc="KMV (k-minimum-values) distinct-count sketch, k=64: keep the k "
    "smallest values of a uniform integer hash of the key; the k-th "
    "minimum R estimates D = (k-1)*M/R. Unlike HLL (engine-specific "
    "registers, rows-only check), the KMV estimator is pure integer "
    "arithmetic over an engine-portable affine hash mod a prime — an "
    "APPROXIMATE-distinct sketch with an EXACT cross-engine hash "
    "oracle, the exact count and relative error emitted beside it. "
    "100 TB shape: distinct-of-hashes is map-side-combinable (the "
    "shuffle carries unique hashes only) and the k-smallest selection "
    "is TakeOrdered (per-partition top-k, driver merges k rows); a "
    "production sketch would fold the top-k into the partial aggregate "
    "itself — the estimator and its guarantees are identical.",
)
def kmv_distinct_sketch_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    M = 2147483647
    h = orders.select(
        ((F.col("o_custkey") * 2654435761 + 40503) % M).alias("hv")
    ).distinct()
    kth = h.orderBy("hv").limit(64).agg(
        F.max("hv").alias("h_k"), F.count(F.lit(1)).alias("k")
    )
    ex = orders.agg(F.countDistinct("o_custkey").alias("exact_d"))
    est = F.expr(f"(k - 1) * {M} div h_k")
    return kth.crossJoin(F.broadcast(ex)).select(
        F.col("k").cast("int").alias("k"),
        F.col("h_k").cast("bigint").alias("kth_min_hash"),
        est.cast("bigint").alias("est_distinct"),
        F.col("exact_d").cast("bigint").alias("exact_distinct"),
        (F.abs(est - F.col("exact_d")) * 1.0 / F.col("exact_d")).alias("rel_err"),
    )


@register(
    "temperature_mix_weights",
    """
    WITH s AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    z AS (SELECT SUM(SQRT(n)) AS z FROM s)
    SELECT s.source,
           CAST(s.n AS BIGINT)           AS n_docs,
           ROUND(SQRT(s.n) / z.z, 6)     AS mix_weight
    FROM s CROSS JOIN z
    ORDER BY s.source
    """,
    doc="Temperature-based source mixing (T=2): sampling weight per "
    "source ∝ n^(1/T) = sqrt(n) — the standard flattening that keeps "
    "small high-quality sources from being drowned by bulk crawl data "
    "when composing a training mix. SQRT is correctly rounded under "
    "IEEE 754 (identical in both engines, unlike POW/EXP), and the "
    "weight is 6dp-rounded because the normalizing SUM of doubles is "
    "order-dependent (the established noisy-sum convention). 100 TB "
    "shape: one map-side-combinable groupBy(source) + a 1-row "
    "broadcast normalizer; the mix table is |sources|-sized.",
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    z = s.agg(F.sum(F.sqrt("n")).alias("z"))
    return (
        s.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round(F.sqrt("n") / F.col("z"), 6).alias("mix_weight"),
        )
        .orderBy("source")
    )


@register(
    "bigram_lm_interpolated_score",
    """
    WITH tok AS (
      SELECT doc_id, t, i FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t,
               UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) AS i
        FROM documents)),
    bi AS (
      SELECT a.doc_id, a.t AS w1, b.t AS w2
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
    c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
    cu AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(SUM(LN(0.75::DOUBLE * c2.c12 / c1.c1
                        + 0.25::DOUBLE * cu.c / tt.n)) / COUNT(*), 6)
             AS avg_logprob
    FROM bi b
    JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
    JOIN c1 ON c1.w1 = b.w1
    JOIN cu ON cu.t = b.w2
    CROSS JOIN tot tt
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    doc="Interpolated bigram language-model scoring: each document's "
    "mean bigram log-probability under the corpus's own model, "
    "P(w2|w1) = 0.75·c(w1,w2)/c(w1·) + 0.25·c(w2)/N — the "
    "KenLM-backoff-shaped fluency signal one tier above the unigram "
    "score (token-salad text that passes unigram frequency checks "
    "scores low here). Interpolation constants are exact binary "
    "fractions; LN ulp noise sits far below ROUND(,6). 100 TB shape: "
    "bigrams are built MAP-SIDE with zip_with over the token array "
    "(no position self-join); the count models are "
    "map-side-combinable groupBys the token stream then joins (AQE "
    "broadcasts them when small) before one groupBy(doc_id).",
)
def bigram_lm_interpolated_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bi = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    tok = docs.select(F.explode(toks).alias("t"))
    # pin the VOCABULARY-sized count models (r15 scan audit): c2 feeds
    # the scoring join, c1 a second branch of the same bigram stream,
    # cu/tot the unigram stream — unpinned, the executed plan
    # re-scanned documents and re-exploded per branch (10 scans).
    # c1 and tot now derive FROM the pinned models (same sums); the
    # corpus is scanned twice (bigram + unigram model builds) plus once
    # for the scoring join.
    c2 = pin(
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    cu = pin(
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cu.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n"))
    p = 0.75 * F.col("c12") / F.col("c1") + 0.25 * F.col("c") / F.col("n")
    return (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(cu, cu["t"] == bi["w2"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.log(p)) / F.count(F.lit(1)), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def _pq_oracle(m: int = 8, ksub: int = 16, n_iters: int = 1, k: int = 10,
               rerank_shortlist: int | None = None) -> str:
    """DuckDB twin of the FULL PQ pipeline (train_pq_codebooks +
    pq_assign_codes + ADC ranking), one generated CTE chain:

    - init: the same engine-portable arithmetic-hash sample as the IVF
      oracle (INIT_MOD/INIT_MULT ordering, identical rows for every
      subspace), sliced per subspace via (i-1)//ds;
    - each Lloyd iteration: squared-L2 argmin per (vector, subspace)
      with the (dsq ASC, code ASC) tie-break matching Spark's
      array_position(array_min) first-min, then per-(subspace, code,
      dim) means with COALESCE keeping empty codes' previous centroids;
    - encode with the final codebooks, build the query's per-(subspace,
      code) distance table, and rank by the table-lookup sum.

    Float convention follows every green similarity oracle: ulp-level
    aggregation-order noise is absorbed by ROUND(..., 6) on output and
    no comparison (argmin, top-k cut) sits at an ulp tie on this data.
    """
    from etl_sample_spark.operators.similarity import INIT_MOD, INIT_MULT

    iters = []
    prev = "cb0"
    for it in range(1, n_iters + 1):
        iters.append(f"""
    dist{it} AS (
      SELECT s.vec_id, s.j, c.code, SUM((s.x - c.cx) * (s.x - c.cx)) AS dsq
      FROM sub s JOIN {prev} c ON c.j = s.j AND c.d = s.d
      GROUP BY 1, 2, 3),
    asg{it} AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dsq, code) AS rn
        FROM dist{it}) WHERE rn = 1),
    cb{it} AS (
      SELECT c0.j, c0.code, c0.d, COALESCE(mn.cx, c0.cx) AS cx
      FROM {prev} c0 LEFT JOIN (
        SELECT a.j, a.code, s.d, SUM(s.x) / COUNT(*) AS cx
        FROM asg{it} a JOIN sub s ON s.vec_id = a.vec_id AND s.j = a.j
        GROUP BY 1, 2, 3) mn
      ON mn.j = c0.j AND mn.code = c0.code AND mn.d = c0.d)""")
        prev = f"cb{it}"
    if rerank_shortlist:
        rerank_ctes = f""",
    sl AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT {rerank_shortlist}),
    qe AS (SELECT i, x AS qx FROM e WHERE vec_id = 0),
    ex AS (
      SELECT e.vec_id, SUM((e.x - qe.qx) * (e.x - qe.qx)) AS l2
      FROM e JOIN qe USING (i)
      WHERE e.vec_id IN (SELECT vec_id FROM sl)
      GROUP BY 1)"""
        final_select = (
            f"SELECT vec_id, ROUND(l2, 6) AS l2_dist FROM ex "
            f"ORDER BY l2, vec_id LIMIT {k}"
        )
    else:
        rerank_ctes = ""
        final_select = (
            f"SELECT vec_id, ROUND(dist, 6) AS adc_dist "
            f"FROM adc ORDER BY dist, vec_id LIMIT {k}"
        )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
             GENERATE_SUBSCRIPTS(embedding, 1) AS i
      FROM embeddings),
    sub AS (
      SELECT vec_id, CAST((i - 1) // (len_sub.ds) AS INT) AS j,
             (i - 1) % (len_sub.ds) AS d, x
      FROM e, (SELECT MAX(i) // {m} AS ds FROM e) len_sub),
    init AS (
      SELECT code, vec_id FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY ((vec_id % {INIT_MOD}) * {INIT_MULT}) % {INIT_MOD}, vec_id
               ) - 1 AS code,
               vec_id
        FROM embeddings) WHERE code < {ksub}),
    cb0 AS (
      SELECT s.j, init.code, s.d, s.x AS cx
      FROM init JOIN sub s USING (vec_id)),
    {",".join(iters)},
    fdist AS (
      SELECT s.vec_id, s.j, c.code, SUM((s.x - c.cx) * (s.x - c.cx)) AS dsq
      FROM sub s JOIN {prev} c ON c.j = s.j AND c.d = s.d
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dsq, code) AS rn
        FROM fdist) WHERE rn = 1),
    q AS (SELECT j, d, x AS qx FROM sub WHERE vec_id = 0),
    dtab AS (
      SELECT c.j, c.code, SUM((q.qx - c.cx) * (q.qx - c.cx)) AS dsq
      FROM q JOIN {prev} c ON c.j = q.j AND c.d = q.d
      GROUP BY 1, 2),
    adc AS (
      SELECT a.vec_id, SUM(t.dsq) AS dist
      FROM codes a JOIN dtab t ON t.j = a.j AND t.code = a.code
      GROUP BY 1){rerank_ctes}
    {final_select}
    """


@register(
    "similarity_pq_adc_top10",
    _pq_oracle(),
    doc="L3 scale path #3: product quantization + asymmetric distance. "
    "The 64-dim vector splits into 8 subspaces, each L2-k-means'd into "
    "a 16-code codebook (engine-portable hash init, one exploded-"
    "subspace shuffle per Lloyd iteration), so the resident index is 8 "
    "small ints per vector - 32x smaller than the raw doubles, the "
    "memory story that complements IVF's partition pruning at 100 TB. "
    "Queries never touch vectors: a driver-built m*ksub distance table "
    "turns ranking into integer lookups + 8 adds per row. FULL hash "
    "oracle (_pq_oracle) reproduces train->encode->ADC in SQL. "
    "operators/similarity.py::train_pq_codebooks/pq_adc_topk.",
)
def similarity_pq_adc_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return pq_adc_topk(emb, [float(x) for x in qvec], k=10, m=8, ksub=16, n_iters=1)


@register(
    "similarity_pq_rerank_top10",
    _pq_oracle(rerank_shortlist=100),
    doc="The production PQ serving pipeline: ADC ranks the whole corpus "
    "from codes alone, keeps a 100-candidate shortlist (10x the final "
    "k - the recall knob; raw ADC@10 on these near-uniform synthetic "
    "vectors recalls ~4/10, the shortlist recovers all 10), then "
    "broadcast-joins ONLY the shortlist back to raw vectors for exact "
    "squared-L2 re-ranking. At 100 TB the vector fetch is a keyed "
    "lookup of 100 rows, not a scan. FULL hash oracle extends "
    "_pq_oracle with the shortlist + re-rank CTEs. "
    "operators/similarity.py::pq_rerank_topk.",
)
def similarity_pq_rerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.similarity import pq_rerank_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return pq_rerank_topk(
        emb, [float(x) for x in qvec], k=10, shortlist=100, m=8, ksub=16, n_iters=1
    )


@register(
    "cdc_upsert_apply_customers",
    """
    WITH base AS (
      SELECT c_custkey, c_acctbal AS balance FROM customer
      WHERE c_custkey % 3 <> 0),
    log AS (
      SELECT o_custkey AS c_custkey, o_orderkey AS seq,
             CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS balance
      FROM orders),
    last AS (
      SELECT c_custkey, op, balance, n_ops FROM (
        SELECT c_custkey, op, balance,
               ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn,
               COUNT(*) OVER (PARTITION BY c_custkey) AS n_ops
        FROM log) WHERE rn = 1)
    SELECT COALESCE(b.c_custkey, l.c_custkey) AS c_custkey,
           CASE WHEN l.op IS NOT NULL THEN l.balance ELSE b.balance END AS balance,
           CASE WHEN l.op IS NOT NULL THEN 'upsert' ELSE 'base' END AS src,
           CAST(COALESCE(l.n_ops, 0) AS BIGINT) AS n_ops
    FROM base b FULL OUTER JOIN last l USING (c_custkey)
    WHERE l.op IS NULL OR l.op <> 'D'
    ORDER BY c_custkey
    """,
    doc="CDC change-log materialization (the batch form of a Debezium/"
    "binlog apply): orders become a deterministic op stream per "
    "customer (o_orderkey as the total-order sequence; every 13th op a "
    "delete), applied latest-wins onto a customer snapshot that "
    "deliberately excludes custkey%3==0 — so the log exercises all "
    "three paths: update (key in base), insert (key absent), delete. "
    "Untouched keys carry through. Balances are 2dp money doubles — "
    "exact, no rounding needed. 100 TB shape: one shuffle on the key "
    "(latest-op window + base join reuse the partitioning); the log "
    "compacts to distinct keys BEFORE joining the base. "
    "operators/incremental.py::cdc_apply.",
)
def cdc_upsert_apply_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.incremental import cdc_apply

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    base = cust.where(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", F.col("c_acctbal").alias("balance")
    )
    log = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("o_totalprice").alias("balance"),
    )
    return cdc_apply(base, log, key="c_custkey", seq="seq").orderBy("c_custkey")


@register(
    "cross_doc_span_audit",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    spans AS (
      SELECT doc_id, array_to_string(t[i:i+7], ' ') AS span
      FROM toks, LATERAL UNNEST(generate_series(1, len(t) - 7)) AS g(i)
      WHERE len(t) >= 8),
    shared AS (
      SELECT span FROM spans GROUP BY span
      HAVING COUNT(DISTINCT doc_id) > 1)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(sh.span) AS BIGINT) AS n_shared,
           COUNT(sh.span) * 1.0 / COUNT(*) AS shared_ratio
    FROM spans s LEFT JOIN shared sh ON sh.span = s.span
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="Cross-document repeated-substring audit (the Lee-et-al exact "
    "substring-dedup diagnostic): every 8-token span of every document, "
    "flagged when the identical span also appears in ANOTHER document; "
    "per doc, the span count, shared-span count, and exact ratio — the "
    "memorization-risk screen run before training. Counts are exact "
    "integers; the ratio ships unrounded. 100 TB shape: one explode -> "
    "span GROUP BY with map-side combine (the same corpus-sized-but-"
    "combinable shuffle class as line_dedup_boilerplate; production "
    "shuffles xxhash64(span) instead of the string to cut shuffle "
    "bytes ~10x — kept as strings here for the cross-engine oracle), "
    "then the shared-span dictionary joins back against spans on the "
    "span key. Short docs (<8 tokens) drop out identically on both "
    "sides.",
)
def cross_doc_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n = F.size("t")
    idx = F.when(n >= 8, F.sequence(F.lit(1), n - 7)).otherwise(
        F.array().cast("array<int>")
    )
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.array_join(F.slice("t", i, 8), " "))
        ).alias("span"),
    )
    shared = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("span", F.lit(1).alias("is_shared"))
    )
    marked = spans.join(shared, "span", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("is_shared").alias("n_shared"),
            (F.count("is_shared") * F.lit(1.0) / F.count(F.lit(1))).alias(
                "shared_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_video_delta_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(4 + doc_id % 3 AS INT) AS w,
             CAST(3 + doc_id % 3 AS INT) AS h,
             CAST(2 + doc_id % 5 AS INT) AS nf
      FROM documents),
    px AS (
      SELECT d.doc_id, d.w, d.h, d.nf,
             ((d.doc_id * 31 + x.x * 7 + y.y * 13 + f.f * 17 + c.c * 97) % 256) AS v
      FROM dims d,
           UNNEST(RANGE(d.nf)) AS f(f),
           UNNEST(RANGE(d.w)) AS x(x),
           UNNEST(RANGE(d.h)) AS y(y),
           UNNEST(RANGE(3))    AS c(c))
    SELECT doc_id, w AS width, h AS height, CAST(nf AS INT) AS n_frames,
           CAST(SUM(v) AS BIGINT) AS pixel_sum
    FROM px
    GROUP BY doc_id, w, h, nf
    ORDER BY doc_id
    """,
    doc="L5 INTER-FRAME compressed video (closes the one L5 gap the "
    "container-level AVI/MJPEG paths left): genuine AVI payloads are "
    "transcoded to the IPDV I/P delta codec — per-4x4-block motion "
    "vectors from an exhaustive ±2 SAD search over the previous "
    "RECONSTRUCTED frame (deterministic smallest-(dy,dx) tie-break), "
    "mod-256 residuals, RLE entropy coding, gop-4 keyframes — then "
    "decoded by exact state replay and REQUIRED bit-equal. pixel_sum "
    "is summed over the DECODED frames, so the driver hash gates "
    "AVI-parse -> motion-compensated encode -> replay decode "
    "end-to-end. operators/multimodal.py::encode_ipdv/decode_ipdv/"
    "video_delta_transcode_stats.",
)
def multimodal_video_delta_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.multimodal import (
        attach_avi_media,
        video_delta_transcode_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        video_delta_transcode_stats(attach_avi_media(docs))
        .select("doc_id", "width", "height", "n_frames", "pixel_sum")
        .orderBy("doc_id")
    )


@register(
    "classifier_auc_mann_whitney",
    f"""
    WITH scored AS ({_QC_SCORE_SQL}),
    ranked AS (
      SELECT (lang = 'en') AS pos,
             RANK() OVER (ORDER BY score)
               + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS avg_rank
      FROM scored)
    SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
           (SUM(CASE WHEN pos THEN avg_rank ELSE 0 END)
             - SUM(CASE WHEN pos THEN 1 ELSE 0 END)
               * (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) / 2.0)
           / (SUM(CASE WHEN pos THEN 1 ELSE 0 END)
              * SUM(CASE WHEN pos THEN 0 ELSE 1 END)) AS auc
    FROM ranked
    """,
    doc="Model-evaluation AUC via the Mann-Whitney rank-sum identity, "
    "with the proper tie correction (average ranks — RANK() plus half "
    "the tie-group size, exact on the .5 grid because ranks and tie "
    "counts are integers): AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2)/(n⁺ n⁻). "
    "Scores are the classifier's 6dp-ROUNDED outputs, so the ranking "
    "(and every tie group) is identical cross-engine despite the LN "
    "feature's libm ulps; the final AUC is a ratio of exact .5-grid "
    "sums and ships unrounded. Pseudo-label: lang='en'. 100 TB shape "
    "(and the shape implemented here, r11): the corpus is first "
    "reduced to per-score (count, pos_count) rows — scores live on a "
    "1e-6 grid, so that table is bounded regardless of corpus size — "
    "then the tie-corrected average rank is reconstructed per GRID "
    "row (preceding-count + (tie_size+1)/2, algebraically identical "
    "to RANK()+(ties-1)/2 per doc) and the rank-sum is "
    "Σ pos_cnt·avg_rank. The only ordered window runs over the "
    "bounded grid, never the corpus; every avg_rank is on the exact "
    ".5 grid and every partial product is an exact small double, so "
    "the corpus-window and grid forms are bit-identical (the oracle "
    "deliberately keeps the per-doc RANK() form as an independent "
    "derivation).",
)
def classifier_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        (F.col("lang") == "en").alias("pos"), _qc_score_col().alias("score")
    )
    grid = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("pos_cnt"),
    )
    # asc_nulls_last: Spark's bare ASC is nulls-FIRST while DuckDB's is
    # nulls-LAST — a null score (only possible with null text) would
    # shift every cum count by one. Unreachable in the driver data, but
    # the ordering is pinned explicitly to the oracle's semantics.
    w_before = Window.orderBy(F.asc_nulls_last("score")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    g = grid.select(
        "cnt",
        "pos_cnt",
        (
            F.coalesce(F.sum("cnt").over(w_before), F.lit(0))
            + (F.col("cnt") + 1) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    n_pos = F.sum("pos_cnt")
    n_neg = F.sum(F.col("cnt") - F.col("pos_cnt"))
    rank_sum = F.sum(F.col("pos_cnt") * F.col("avg_rank"))
    return g.agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        ((rank_sum - n_pos * (n_pos + 1) / F.lit(2.0)) / (n_pos * n_neg)).alias(
            "auc"
        ),
    )


@register(
    "classifier_decile_lift",
    f"""
    WITH scored AS ({_QC_SCORE_SQL}),
    deciled AS (
      SELECT (lang = 'en') AS pos,
             NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM scored),
    per AS (
      SELECT decile, COUNT(*) AS n_docs,
             SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos
      FROM deciled GROUP BY decile)
    SELECT decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pos AS BIGINT)  AS n_pos,
           n_pos * 1.0 / n_docs   AS pos_rate,
           (SUM(n_pos) OVER w * 1.0 * SUM(n_docs) OVER ())
             / (SUM(n_docs) OVER w * 1.0 * SUM(n_pos) OVER ()) AS cum_lift
    FROM per
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile
    """,
    doc="Decile lift (gains) chart for the quality classifier against "
    "the lang='en' pseudo-label: docs ranked by the 6dp-rounded score "
    "(doc_id tiebreak makes the assignment exactly deterministic), "
    "per-decile response rate, and cumulative lift = cumulative "
    "positive share / cumulative document share — every number an "
    "unrounded ratio of exact integers. 100 TB shape (implemented, "
    "r11): no corpus-global NTILE — each doc's global position is "
    "reconstructed as (docs with a strictly higher score, from the "
    "bounded 1e-6 score grid's cumulative counts, broadcast) + "
    "(row_number over doc_id WITHIN its score group, a keyed window "
    "that shuffles by score instead of collapsing to one partition), "
    "then mapped to its decile with NTILE's exact bucket arithmetic "
    "(first n%10 buckets get one extra row). Bit-identical to "
    "NTILE(10) OVER (ORDER BY score DESC, doc_id) by construction — "
    "the oracle keeps the NTILE form as the independent derivation. "
    "The only remaining ordered window is over the bounded grid.",
)
def classifier_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # pin (r15 scan audit): the narrow scored projection (id, bool,
    # double — no text) feeds the score grid, the tie-break window, and
    # the total — unpinned, each branch re-scanned documents and re-ran
    # the quality-score expression (6 scans); pinned, one corpus pass.
    scored = pin(docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("pos"),
        _qc_score_col().alias("score"),
    ))
    grid = scored.groupBy("score").agg(F.count(F.lit(1)).alias("cnt"))
    w_before = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = grid.select(
        "score", F.coalesce(F.sum("cnt").over(w_before), F.lit(0)).alias("n_before")
    )
    w_tie = Window.partitionBy("score").orderBy("doc_id")
    # eqNullSafe: the grid carries a NULL-score group (groupBy keeps the
    # null key, DESC orders it last on both engines, matching NTILE);
    # a plain equi-join would silently drop those docs from the deciles.
    off = F.broadcast(offsets).select(
        F.col("score").alias("__gscore"), "n_before"
    )
    placed = (
        scored.withColumn("r_in", F.row_number().over(w_tie))
        .join(off, F.col("score").eqNullSafe(F.col("__gscore")))
        .select("pos", (F.col("n_before") + F.col("r_in")).alias("p"))
    )
    total = scored.agg(F.count(F.lit(1)).alias("n"))
    # NTILE(10) over n rows: the first n%10 buckets hold n div 10 + 1
    # rows, the rest n div 10. greatest(,1) keeps the never-taken ELSE
    # branch safe under ANSI when n < 10.
    deciled = placed.crossJoin(F.broadcast(total)).select(
        "pos",
        F.expr(
            """
            CAST(CASE
              WHEN p <= (n % 10) * (n div 10 + 1)
              THEN (p - 1) div (n div 10 + 1) + 1
              ELSE (n % 10)
                   + (p - 1 - (n % 10) * (n div 10 + 1)) div greatest(n div 10, 1)
                   + 1
            END AS INT)
            """
        ).alias("decile"),
    )
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return per.select(
        "decile",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        (F.col("n_pos") * F.lit(1.0) / F.col("n_docs")).alias("pos_rate"),
        (
            (F.sum("n_pos").over(w) * F.lit(1.0) * F.sum("n_docs").over(wall))
            / (F.sum("n_docs").over(w) * F.lit(1.0) * F.sum("n_pos").over(wall))
        ).alias("cum_lift"),
    ).orderBy("decile")


@register(
    "dsir_importance_weights",
    """
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM documents),
    vocab AS (SELECT COUNT(DISTINCT t) AS v FROM tok),
    tgt AS (
      SELECT t, COUNT(*) AS cnt FROM tok WHERE lang = 'en' GROUP BY t),
    tgt_n AS (SELECT COUNT(*) AS n FROM tok WHERE lang = 'en'),
    raw AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
    raw_n AS (SELECT COUNT(*) AS n FROM tok),
    scored AS (
      SELECT k.doc_id,
             COUNT(*) AS n_tokens,
             -- + 0.0 normalizes IEEE negative zero: near-boundary docs
             -- round to -0.0 on one engine and +0.0 on the other (the
             -- sign of a ~1e-12 sum is summation-order noise), and the
             -- driver's string normalizer distinguishes them
             ROUND(SUM(LN(((COALESCE(g.cnt, 0) + 1) * 1.0 / (tn.n + vb.v))
                          / ((r.cnt + 1) * 1.0 / (rn.n + vb.v))))
                   / COUNT(*), 6) + 0.0 AS avg_llr
      FROM tok k
      JOIN raw r ON r.t = k.t
      LEFT JOIN tgt g ON g.t = k.t
      CROSS JOIN tgt_n tn CROSS JOIN raw_n rn CROSS JOIN vocab vb
      GROUP BY k.doc_id)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           avg_llr,
           CAST(avg_llr > 0 AS BOOLEAN) AS keep
    FROM scored
    ORDER BY doc_id
    """,
    doc="DSIR-style importance weighting (Data Selection via Importance "
    "Resampling): each document scored by its mean per-token "
    "log-likelihood ratio between a TARGET distribution (the lang='en' "
    "slice's Laplace-smoothed unigram model) and the raw-corpus model; "
    "keep = target-likelier-than-raw, decided on the ROUNDED score so "
    "the gate is deterministic. This is the modern pretraining-data "
    "selection shape (hash-gated resampling by importance weight at "
    "scale; here the weight itself plus the threshold gate). All "
    "probabilities are Laplace ratios of exact integer counts; LN ulp "
    "noise sits far below ROUND(,6) per the unigram-LM convention. "
    "100 TB shape: two vocabulary-sized combinable counts (target + "
    "raw models), one token-stream join against the broadcast-or-"
    "shuffled vocabulary, one groupBy(doc_id) — identical topology to "
    "unigram_logprob_score, which has been green since r5.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("t")
    )
    # pin the two VOCABULARY-sized models (r15 scan audit) and derive
    # every scalar from them instead of from tok: vocab = |raw| (raw
    # groups ALL tokens by term, so its row count IS the distinct-term
    # count), tgt_n/raw_n = the models' count sums. Unpinned, the six
    # branches re-scanned documents 12 times and re-ran the token
    # explode per branch; pinned, the corpus is scanned twice (target +
    # raw model builds) plus once for the scoring join, and nothing
    # token-stream-sized is materialized.
    tgt = pin(
        tok.where(F.col("lang") == "en")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("tcnt"))
    )
    raw = pin(
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("rcnt"))
    )
    vocab = raw.agg(F.count(F.lit(1)).alias("v"))
    # coalesce: SUM over an empty model is NULL where the old COUNT(*)
    # over tok was 0 (an all-non-en or empty corpus must not NULL the
    # smoothing denominators)
    tgt_n = tgt.agg(F.coalesce(F.sum("tcnt"), F.lit(0)).alias("tn"))
    raw_n = raw.agg(F.coalesce(F.sum("rcnt"), F.lit(0)).alias("rn"))
    p_t = (F.coalesce(F.col("tcnt"), F.lit(0)) + 1) * 1.0 / (F.col("tn") + F.col("v"))
    p_r = (F.col("rcnt") + 1) * 1.0 / (F.col("rn") + F.col("v"))
    scored = (
        tok.join(raw, "t")
        .join(tgt, "t", "left")
        .crossJoin(F.broadcast(tgt_n))
        .crossJoin(F.broadcast(raw_n))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (F.round(F.sum(F.log(p_t / p_r)) / F.count(F.lit(1)), 6) + F.lit(0.0)).alias(
                "avg_llr"
            ),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", "avg_llr", (F.col("avg_llr") > 0).alias("keep")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Continuous-ingestion / training-run plumbing (r10)
# --------------------------------------------------------------------------


def _incremental_dedup_oracle() -> str:
    from etl_sample_spark.operators.sampling import hash_position_sql

    h = _HASH_SQL.format(t="sh.s")
    sig_cols = ",\n             ".join(
        f"CAST(MIN(({h} * {a} + {b}) % 2147483647) AS BIGINT) AS h{j}"
        for j, (a, b) in enumerate(((7, 3), (13, 17), (31, 29), (61, 47)))
    )
    split = f"(({hash_position_sql('doc_id')} % 5) = 0)"
    return f"""
    WITH tagged AS (SELECT doc_id, text, {split} AS is_new FROM documents),
    docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents),
    sh AS (
      SELECT d.doc_id, d.l[r.i + 1] || ' ' || d.l[r.i + 2] || ' ' || d.l[r.i + 3] AS s
      FROM docs d, UNNEST(RANGE(GREATEST(LEN(d.l) - 2, 0))) AS r(i)),
    sig AS (
      SELECT sh.doc_id,
             {sig_cols}
      FROM sh GROUP BY sh.doc_id),
    fullsig AS (
      SELECT d.doc_id, COALESCE(h0, -1) AS h0, COALESCE(h1, -1) AS h1,
             COALESCE(h2, -1) AS h2, COALESCE(h3, -1) AS h3
      FROM documents d LEFT JOIN sig USING (doc_id)),
    bands AS (
      SELECT doc_id, 0 AS band, CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR) AS key FROM fullsig
      UNION ALL
      SELECT doc_id, 1 AS band, CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR) AS key FROM fullsig),
    exact AS (
      SELECT DISTINCT n.doc_id
      FROM tagged n JOIN tagged c ON c.is_new = FALSE AND n.text = c.text
      WHERE n.is_new),
    near AS (
      -- '-1:-1' is the no-shingle sentinel: excluded from the probe on
      -- both sides, mirroring incremental_dedup_verdicts.
      SELECT DISTINCT a.doc_id
      FROM bands a
      JOIN tagged ta ON ta.doc_id = a.doc_id AND ta.is_new
      JOIN bands b ON a.band = b.band AND a.key = b.key
      JOIN tagged tb ON tb.doc_id = b.doc_id AND tb.is_new = FALSE
      WHERE a.key <> '-1:-1')
    SELECT t.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS verdict
    FROM tagged t
    LEFT JOIN exact e ON e.doc_id = t.doc_id
    LEFT JOIN near nr ON nr.doc_id = t.doc_id
    WHERE t.is_new
    ORDER BY t.doc_id
    """


@register(
    "incremental_dedup_new_vs_corpus",
    _incremental_dedup_oracle(),
    doc="L1+L2 for CONTINUOUS ingestion: the documents table is split "
    "deterministically (portable hash of doc_id, ~20% 'new batch' / 80% "
    "'existing corpus') and every new doc gets a verdict against the "
    "corpus snapshot: exact_dup (byte-identical text already present — "
    "probed as a 256-bit-digest semi join, text never shuffles), "
    "near_dup (MinHash LSH band collision with any corpus doc — "
    "equi-join of the batch's band keys against the corpus band index, "
    "the corpus is never self-joined), else kept. This is the missing "
    "tier above within-corpus dedup: a crawl pipeline deduping each "
    "incoming batch against 100 TB of already-kept data probes a "
    "persisted band index instead of re-clustering the corpus. Full "
    "oracle: the portable MinHash makes the banding bit-reproducible in "
    "SQL, so the exact verdict per new doc is checked cross-engine. "
    "operators/dedup.py::incremental_dedup_verdicts.",
)
def incremental_dedup_new_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_sample_spark.operators.dedup import incremental_dedup_verdicts
    from etl_sample_spark.operators.sampling import hash_position

    docs = _t(spark, sf_dir, "documents")
    tagged = docs.withColumn("__is_new", (hash_position(F.col("doc_id")) % 5) == 0)
    new = tagged.filter(F.col("__is_new")).drop("__is_new")
    corpus = tagged.filter(~F.col("__is_new")).drop("__is_new")
    return incremental_dedup_verdicts(new, corpus).orderBy("doc_id")


def _epoch_shuffle_oracle() -> str:
    from etl_sample_spark.operators.sampling import hash_position_sql

    pos = hash_position_sql("doc_id + epoch * 1000003")
    return f"""
    WITH e AS (SELECT doc_id, CAST(r.e AS INT) AS epoch
               FROM documents, UNNEST([0, 1]) AS r(e)),
    p AS (SELECT doc_id, epoch, CAST({pos} AS BIGINT) AS pos FROM e)
    SELECT epoch,
           CAST(pos % 8 AS INT) AS shard,
           doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch, pos % 8
                                   ORDER BY pos, doc_id) AS INT) AS shard_pos
    FROM p
    ORDER BY epoch, shard, shard_pos
    """


@register(
    "epoch_shuffle_assignments",
    _epoch_shuffle_oracle(),
    doc="Training-run data ordering: DETERMINISTIC per-epoch global "
    "shuffle — each (doc, epoch) gets a position from the portable hash "
    "of (doc_id + epoch * large-prime), docs land in 8 shards by "
    "position, and shard_pos is the within-shard read order. Two epochs "
    "are emitted so the oracle checks that the permutation is (a) fully "
    "reproducible — same seed, same order, on any engine, any executor "
    "count, any partitioning, which Spark's rand()/shuffle cannot "
    "promise — and (b) genuinely different across epochs. At 100 TB "
    "this is one map stage + one window per epoch: no RNG state, no "
    "driver coordination, restartable mid-epoch because position is a "
    "pure function of (doc_id, epoch). "
    "operators/sampling.py::hash_position.",
)
def epoch_shuffle_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_sample_spark.operators.sampling import hash_position

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    e = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch")
    )
    p = e.withColumn(
        "pos", hash_position(F.col("doc_id") + F.col("epoch") * F.lit(1_000_003))
    )
    w = Window.partitionBy("epoch", "shard").orderBy("pos", "doc_id")
    return (
        p.withColumn("shard", (F.col("pos") % 8).cast("int"))
        .select(
            "epoch",
            "shard",
            "doc_id",
            F.row_number().over(w).alias("shard_pos"),
        )
        .orderBy("epoch", "shard", "shard_pos")
    )


_BIGRAMS_EXPR = (
    "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), "
    "(a, b) -> concat(a, ' ', b))"
)


@register(
    "phrase_search_top_bigram",
    """
    WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents),
    bg AS (
      SELECT doc_id, CAST(r.i AS INT) AS pos, l[r.i + 1] || ' ' || l[r.i + 2] AS ph
      FROM tok, UNNEST(RANGE(GREATEST(LEN(l) - 1, 0))) AS r(i)),
    top AS (SELECT ph FROM bg GROUP BY ph ORDER BY COUNT(*) DESC, ph LIMIT 1)
    SELECT b.doc_id,
           b.ph AS phrase,
           COUNT(*) AS n_occ,
           CAST(MIN(b.pos) AS INT) AS first_pos
    FROM bg b JOIN top t ON b.ph = t.ph
    GROUP BY b.doc_id, b.ph
    ORDER BY b.doc_id
    """,
    doc="PHRASE retrieval over a positional index — the tier above "
    "bag-of-words BM25: adjacent-token pairs are materialized map-only "
    "with zip_with over the token array and its own tail (no "
    "positional self-join, no shuffle to build), the corpus-wide top "
    "bigram is selected deterministically (count desc, phrase asc — "
    "the 'query' is derived from the data so the test is "
    "self-contained), and every document containing it is returned "
    "with occurrence count and first 0-based position. At 100 TB the "
    "phrase probe is one broadcast of the query phrase against the "
    "(token-pair, doc, pos) postings — an equi-join, never a "
    "position-arithmetic theta join. Oracle rebuilds the identical "
    "positional postings with UNNEST(RANGE(...)). Reference analog: "
    "none ([EXT] positional inverted index).",
)
def phrase_search_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select("doc_id", F.posexplode(F.expr(_BIGRAMS_EXPR)).alias("pos", "ph"))
    top = (
        bg.groupBy("ph")
        .count()
        .orderBy(F.desc("count"), "ph")
        .limit(1)
        .select("ph")
    )
    return (
        bg.join(F.broadcast(top), "ph")
        .groupBy("doc_id", "ph")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min("pos").cast("int").alias("first_pos"),
        )
        .select("doc_id", F.col("ph").alias("phrase"), "n_occ", "first_pos")
        .orderBy("doc_id")
    )


@register(
    "token_entropy_per_doc",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
    n AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(MAX(n.n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(-SUM((c.c * 1.0 / n.n) * LN(c.c * 1.0 / n.n)), 6) AS entropy
    FROM cnt c JOIN n ON n.doc_id = c.doc_id
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
    doc="Shannon token entropy per document — the information-theoretic "
    "repetitiveness signal for corpus curation (keyword-stuffed or "
    "template spam has LOW entropy even when its token counts look "
    "normal; the repetition-ratio heuristic catches adjacent repeats, "
    "entropy catches distributional collapse anywhere in the doc). "
    "H = -Σ (c/n) ln(c/n) over the doc's own token counts: c and n are "
    "exact integers, each term is a pure function of an exact ratio, "
    "and the per-doc sum is over that doc's distinct tokens only — "
    "ROUND(,6) absorbs LN ulp, the established discipline. Map-shaped "
    "at 100 TB: one (doc, token) count + one per-doc agg, no corpus-"
    "wide state. Reference analog: none ([EXT] entropy filtering).",
)
def token_entropy_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    return (
        cnt.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
        .orderBy("doc_id")
    )
