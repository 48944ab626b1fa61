"""Similarity-search battery over the embeddings table (ANN over
array<float>). Implementations in bodo_spark.operators.similarity.

Cosines are computed as sequential-fold double dot products in both
engines and rounded to 6 digits before any ranking/thresholding, so
ordering is stable across float low-bit differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..rowframe import local_df
from ._util import QueryDef, tbl

_SQL_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)

# unrounded variant for call sites that apply their own rounding
# (cell-assignment ranking rounds at 9dp, round(-cos, 9))
_SQL_COS9 = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)  # parens: a/(sqrt(ldp(a,a)) * sqrt(ldp(b,b)))


def ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force exact cosine top-5 for 5 query vectors (vec_id < 5).
    The oracle baseline every ANN variant is measured against."""
    emb = tbl(spark, sf, "embeddings")
    queries = (emb.where(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (S.brute_force_topk(emb, queries, k=5)
            .orderBy("q_id", "rn"))


_ANN_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id,
         {_SQL_COS.format(a='e.embedding', b='q.q_vec')} AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id)
SELECT q_id, vec_id, cos,
       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
FROM scored
QUALIFY rn <= 5
ORDER BY q_id, rn
"""


def ann_blocked_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Sign-bucket pruned ANN (LSH-style): same queries, but candidates
    limited to vectors sharing the 3-bit sign bucket."""
    emb = tbl(spark, sf, "embeddings")
    queries = (emb.where(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (S.blocked_topk(emb, queries, k=5, bits=3)
            .orderBy("q_id", "rn"))


def _sql_bucket(vec: str, bits: int = 3) -> str:
    terms = " + ".join(
        f"(CASE WHEN ({vec})[{j + 1}] >= 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(bits))
    return f"({terms})"


# DuckDB twin of operators.similarity.auto_block_bits(COUNT(*)): verified
# equal for n in {2..2^22} incl. the clamp edges. Keeping the oracle's
# bit width DATA-DERIVED (not hardcoded) means the gate stays honest on
# scaled corpora from tools/scale_testdata.py, where "auto" > 4 bits.
_SQL_AUTO_BITS = (
    "GREATEST(4, LEAST(16, CAST(CEIL(LOG2(COUNT(*) / 128.0)) AS INT)))")


def _sql_bucket_dyn(vec: str, bits_expr: str) -> str:
    """Sign bucket whose width is a runtime scalar (matches
    operators.similarity.sign_bucket for the same bits)."""
    return (f"CAST(list_sum(list_transform(range(1, ({bits_expr}) + 1), "
            f"j -> CASE WHEN ({vec})[j] >= 0 THEN 2 ** (j - 1) "
            f"ELSE 0 END)) AS INT)")


_ANN_BLOCKED_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec,
                  {_sql_bucket('embedding')} AS qb
           FROM embeddings WHERE vec_id < 5),
v AS (SELECT vec_id, embedding, {_sql_bucket('embedding')} AS vb FROM embeddings),
scored AS (
  SELECT q.q_id, v.vec_id,
         {_SQL_COS.format(a='v.embedding', b='q.q_vec')} AS cos
  FROM v JOIN q ON v.vb = q.qb
  WHERE v.vec_id <> q.q_id)
SELECT q_id, vec_id, cos,
       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
FROM scored
QUALIFY rn <= 5
ORDER BY q_id, rn
"""


def emb_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.9), blocked on the
    vector's own 4-bit sign-bucket LSH: block count (2^bits) grows with
    chosen bits, so per-block pair counts stay bounded as the corpus
    scales -- unlike a semantic label, whose blocks grow O(n).

    The synthetic embeddings are near-orthogonal (max natural cosine
    ~0.51), so the input is salted with exact copies of vec_id < 3 at
    vec_id+10000: the operator must surface exactly those planted pairs,
    making a drop-everything bug visible (the unsalted variant passed
    vacuously as 0 rows == 0 rows)."""
    emb = tbl(spark, sf, "embeddings")
    planted = (emb.where(F.col("vec_id") < 3)
               .withColumn("vec_id", F.col("vec_id") + F.lit(10000)))
    return (S.embedding_neardup_pairs(emb.unionByName(planted),
                                      threshold=0.9, block_bits="auto",
                                      scorer="auto")
            .orderBy("id_a", "id_b"))


_EMB_NEARDUP_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 3),
bits AS (SELECT {_SQL_AUTO_BITS} AS b FROM base),
v AS (SELECT vec_id, embedding,
             {_sql_bucket_dyn('embedding', '(SELECT b FROM bits)')} AS blk
      FROM base)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_SQL_COS.format(a='a.embedding', b='b.embedding')} AS cos
FROM v a JOIN v b
  ON a.blk = b.blk AND a.vec_id < b.vec_id
WHERE {_SQL_COS.format(a='a.embedding', b='b.embedding')} >= 0.9
ORDER BY id_a, id_b
"""


def emb_norm_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Vector norms / dimension stats per label (sanity surface for the
    embedding column plumbing)."""
    emb = tbl(spark, sf, "embeddings")
    norm = F.sqrt(S.dot(F.col("embedding"), F.col("embedding")))
    return (emb.groupBy("label").agg(
        F.round(F.avg(norm), 6).alias("avg_norm"),
        F.min(F.size("embedding")).cast("bigint").alias("dim"),
        F.count(F.lit(1)).alias("n"))
        .orderBy("label"))


_EMB_NORM_SQL = """
SELECT label,
       round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 6) AS avg_norm,
       CAST(MIN(len(embedding)) AS BIGINT) AS dim,
       COUNT(*) AS n
FROM embeddings GROUP BY label ORDER BY label
"""


def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-Flat ANN (operators/similarity.py ivf_topk): 8 deterministic
    centroids, 2-probe search, top-5 per query. The oracle re-derives
    the identical cell assignment (round-9 cosine, lower-cid ties)."""
    emb = tbl(spark, sf, "embeddings")
    queries = (emb.where(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (S.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=2)
            .orderBy("q_id", "rn"))


_ANN_IVF_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding[1:16] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8),
asg AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(-(list_dot_product(CAST(e.embedding[1:16] AS DOUBLE[]),
                                               CAST(c.cvec AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding[1:16] AS DOUBLE[]),
                                        CAST(e.embedding[1:16] AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]),
                                          CAST(c.cvec AS DOUBLE[]))))), 9),
                      c.cid) AS crn
  FROM embeddings e CROSS JOIN cents c),
cells AS (SELECT vec_id, embedding, cid AS cell FROM asg WHERE crn = 1),
qprobe AS (
  SELECT vec_id AS q_id, embedding AS q_vec, cid AS cell
  FROM asg WHERE vec_id < 5 AND crn <= 2),
scored AS (
  SELECT q.q_id, v.vec_id,
         {_SQL_COS.format(a='v.embedding', b='q.q_vec')} AS cos
  FROM cells v JOIN qprobe q ON v.cell = q.cell
  WHERE v.vec_id <> q.q_id)
SELECT q_id, vec_id, cos,
       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
FROM scored
QUALIFY rn <= 5
ORDER BY q_id, rn
"""


def emb_pipeline_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """The embedding half of a training-data pipeline in one plan:
    salt planted duplicates -> sign-bucket LSH blocking -> cosine
    near-dup pairs -> connected components (min-label propagation) ->
    one survivor per cluster -> per-label corpus budget. The oracle
    re-resolves the identical components with a recursive CTE."""
    from ..operators import dedup as D

    emb = tbl(spark, sf, "embeddings")
    planted = (emb.where(F.col("vec_id") < 3)
               .withColumn("vec_id", F.col("vec_id") + F.lit(10000)))
    corpus = emb.unionByName(planted)
    pairs = (S.embedding_neardup_pairs(corpus, threshold=0.9,
                                      block_bits="auto", scorer="auto")
             .select(F.col("id_a"), F.col("id_b")))
    surv = D.dedup_survivors(corpus, pairs, id_col="vec_id")
    return (surv.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.min("vec_id").alias("min_vec"),
                 F.max("vec_id").alias("max_vec"))
            .orderBy("label"))


_EMB_PIPELINE_SQL = f"""
WITH RECURSIVE base AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, label, embedding
  FROM embeddings WHERE vec_id < 3),
bits AS (SELECT {_SQL_AUTO_BITS} AS b FROM base),
v AS (SELECT vec_id, label, embedding,
             {_sql_bucket_dyn('embedding', '(SELECT b FROM bits)')} AS blk
      FROM base),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.blk = b.blk AND a.vec_id < b.vec_id
  WHERE {_SQL_COS.format(a='a.embedding', b='b.embedding')} >= 0.9),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(u, comp) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.u),
lbl AS (SELECT u, MIN(comp) AS comp FROM reach GROUP BY u),
keep AS (SELECT comp, MIN(u) AS keep_id FROM lbl GROUP BY comp),
drops AS (SELECT u FROM lbl JOIN keep USING (comp) WHERE u <> keep_id)
SELECT label, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec,
       MAX(vec_id) AS max_vec
FROM base
WHERE vec_id NOT IN (SELECT u FROM drops)
GROUP BY label ORDER BY label
"""


_DIM = 64


def emb_gram_slice(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed gram-matrix reduction (operators/embeddings.py
    gram_stats: per-Arrow-batch numpy X^T X partials, one index-keyed
    sum, d^2+d+1 doubles collected): report the upper-left 8x8 slice of
    X^T X plus per-dim sums, rounded to 4 digits (float64 partials drift
    only in summation order). The oracle recomputes every entry as
    SUM(e[i]*e[j]) -- a hash match proves the whole mapInPandas
    reduction path, not just the slice."""
    from ..operators.embeddings import gram_stats
    emb = tbl(spark, sf, "embeddings")
    gram, sums, n = gram_stats(emb, "embedding", dim=_DIM)
    rows = [(i, j, round(float(gram[i, j]), 4), round(float(sums[i]), 4), n)
            for i in range(8) for j in range(8)]
    return (local_df(
            spark,
        rows, "i int, j int, g double, s_i double, n long")
        .orderBy("i", "j"))


_EMB_GRAM_SQL = """
WITH idx AS (SELECT unnest(range(0, 8)) AS k),
cells AS (SELECT a.k AS i, b.k AS j FROM idx a CROSS JOIN idx b),
vals AS (
  SELECT c.i, c.j,
         SUM(CAST(e.embedding[c.i + 1] AS DOUBLE) * e.embedding[c.j + 1])
           AS g,
         SUM(CAST(e.embedding[c.i + 1] AS DOUBLE)) AS s_i,
         COUNT(*) AS n
  FROM cells c CROSS JOIN embeddings e GROUP BY c.i, c.j)
SELECT i, j, round(g, 4) AS g, round(s_i, 4) AS s_i, n
FROM vals ORDER BY i, j
"""


def emb_pca_trace(spark: SparkSession, sf: str) -> DataFrame:
    """Full-rank PCA fit over the distributed covariance: the eigenvalue
    sum must equal the covariance trace, which the oracle computes
    directly as the sum of per-dimension variances. Cross-checks the
    centering arithmetic AND the eigendecomposition in one scalar."""
    from ..operators.embeddings import pca_fit
    emb = tbl(spark, sf, "embeddings")
    model = pca_fit(emb, "embedding", dim=_DIM, k=_DIM)
    return local_df(
            spark,
        [(int(model["n"]),
          round(float(model["explained_variance"].sum()), 4))],
        "n long, trace double")


_EMB_TRACE_SQL = """
WITH per AS (
  SELECT unnest(range(0, 64)) AS i,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings),
dims AS (SELECT i, SUM(v) AS s, SUM(v * v) AS sq FROM per GROUP BY i),
n AS (SELECT COUNT(*) AS n FROM embeddings)
SELECT n.n AS n, round(SUM(sq / n.n - (s / n.n) * (s / n.n)), 4) AS trace
FROM dims, n GROUP BY n.n
"""


def emb_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (operators/similarity.py semantic_dedup): k-means cells
    + within-cell cosine keep-first. Salted with exact copies of
    vec_id < 3 at +10000 (the synthetic corpus' natural max cosine is
    ~0.51) and run at eps=0.5, so BOTH planted exact duplicates AND
    real same-cell semantic neighbours are dropped -- the gate pins the
    surviving id set per label (count + bit_xor), not just counts."""
    emb = tbl(spark, sf, "embeddings")
    planted = (emb.where(F.col("vec_id") < 3)
               .withColumn("vec_id", F.col("vec_id") + F.lit(10000)))
    keep = S.semantic_dedup(emb.unionByName(planted), n_cells=8, eps=0.5)
    return (keep.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.bit_xor("vec_id").alias("id_xor"))
        .orderBy("label"))


_SEMDEDUP_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id < 3),
cents AS (
  SELECT vec_id AS cid, embedding[1:16] AS cvec
  FROM base ORDER BY vec_id LIMIT 8),
asg AS (
  SELECT b.vec_id, b.embedding, b.label, c.cid,
         row_number() OVER (PARTITION BY b.vec_id
             ORDER BY round(-(list_dot_product(CAST(b.embedding[1:16] AS DOUBLE[]),
                                               CAST(c.cvec AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(b.embedding[1:16] AS DOUBLE[]),
                                        CAST(b.embedding[1:16] AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]),
                                          CAST(c.cvec AS DOUBLE[]))))), 9),
                      c.cid) AS crn
  FROM base b CROSS JOIN cents c),
cells AS (SELECT vec_id, embedding, label, cid AS cell
          FROM asg WHERE crn = 1),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE {_SQL_COS.format(a='a.embedding', b='b.embedding')} >= 0.5)
SELECT label, COUNT(*) AS n_kept, bit_xor(vec_id) AS id_xor
FROM cells WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
GROUP BY label ORDER BY label
"""


def ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ADC top-5 (operators/pq.py): deterministic
    m=4 x k=16 lowest-id codebooks, every vector encoded to 4 code
    ids (64 floats -> 4 ints, the compression artifact), queries
    scored via the per-query LUT against the CODES only. The oracle
    re-derives the identical codebooks, codes, LUTs and ranking.
    Dispatch: pq_search -- exact mode takes the JVM encode+LUT path
    the oracle replays bit-for-bit; fast/bench mode with this tiny
    query set takes the fused Arrow pass (one corpus scan, driver
    LUTs -- the small-shape serving plan, rank-equal by test)."""
    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (PQ.pq_search(emb, cbs, queries, k=5)
            .where(F.col("vec_id") != F.col("q_id"))
            .orderBy("q_id", "rn"))


# two-dot distance key: round(dot(cw,cw) - 2*dot(sub, cw), 9) -- the
# identical fold shape the engine uses (pq.py module docstring)
_PQ_SQL = """
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding
  FROM embeddings ORDER BY vec_id LIMIT 16),
cwn AS (
  SELECT j.j, s.cid,
         CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]) AS cw,
         list_dot_product(CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]),
                          CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]))
           AS cc
  FROM seeds s CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
enc AS (
  SELECT e.vec_id, c.j, c.cid,
         round(c.cc - 2 * list_dot_product(
             CAST(e.embedding[c.j*16+1 : c.j*16+16] AS DOUBLE[]), c.cw), 9)
           AS d
  FROM embeddings e CROSS JOIN cwn c),
code AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
    FROM enc) WHERE rn = 1),
q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
      WHERE vec_id < 3),
lut AS (
  SELECT q.q_id, c.j, c.cid,
         round(c.cc - 2 * list_dot_product(
             CAST(q.q_vec[c.j*16+1 : c.j*16+16] AS DOUBLE[]), c.cw), 9)
           AS lv
  FROM q CROSS JOIN cwn c),
scored AS (
  SELECT l.q_id, co.vec_id,
         round(CAST(SUM(CAST(l.lv AS DECIMAL(28,9))) AS DOUBLE), 6)
           AS adist
  FROM code co JOIN lut l ON co.j = l.j AND co.cid = l.cid
  GROUP BY l.q_id, co.vec_id)
SELECT q_id, vec_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
FROM scored
QUALIFY rn <= 5 AND vec_id <> q_id
ORDER BY q_id, rn
"""


def _semdedup_corpus_batch(spark, sf):
    """Shared construction for the incremental-SemDeDup gates: corpus =
    nine tenths of embeddings (the index side), batch = the held-out
    tenth PLUS exact replays of three corpus vectors at +20000 (must
    drop at any eps), centroids = the 8 lowest-id CORPUS vectors."""
    emb = tbl(spark, sf, "embeddings")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    planted = (corpus.where(F.col("vec_id") < 4)
               .withColumn("vec_id", F.col("vec_id") + F.lit(20000)))
    batch = emb.where(F.col("vec_id") % 10 == 0).unionByName(planted)
    cents = [list(r["embedding"])[:16] for r in
             corpus.select("vec_id", "embedding")
             .orderBy("vec_id").limit(8).collect()]
    return corpus, batch, cents


def emb_semdedup_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental SemDeDup (operators/similarity.py
    semantic_cell_index + semantic_dedup_between): the corpus is
    assigned to cells ONCE (the durable index artifact); the batch
    keeps only rows with no same-cell corpus member at cosine >=
    0.5. Work ∝ batch x cell occupancy -- the corpus is never
    self-joined. Pins WHICH batch rows survive (per-label count +
    id_xor)."""
    corpus, batch, cents = _semdedup_corpus_batch(spark, sf)
    idx = S.semantic_cell_index(corpus, cents)
    kept = S.semantic_dedup_between(batch, idx, cents, eps=0.5)
    return (kept.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.bit_xor("vec_id").alias("id_xor"))
        .orderBy("label"))


_SEMDEDUP_BETWEEN_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 10 <> 0),
batchq AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id + 20000 AS vec_id, embedding, label
  FROM corpus WHERE vec_id < 4),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         embedding[1:16] AS cvec
  FROM corpus ORDER BY vec_id LIMIT 8),
asg_c AS (
  SELECT b.vec_id, b.embedding, c.cid,
         row_number() OVER (PARTITION BY b.vec_id
             ORDER BY round(-({_SQL_COS9.format(a='b.embedding[1:16]',
                                                b='c.cvec')}), 9),
                      c.cid) AS crn
  FROM corpus b CROSS JOIN cents c),
icells AS (SELECT vec_id, embedding, cid AS cell
           FROM asg_c WHERE crn = 1),
asg_b AS (
  SELECT b.vec_id, b.embedding, b.label, c.cid,
         row_number() OVER (PARTITION BY b.vec_id
             ORDER BY round(-({_SQL_COS9.format(a='b.embedding[1:16]',
                                                b='c.cvec')}), 9),
                      c.cid) AS crn
  FROM batchq b CROSS JOIN cents c),
bcells AS (SELECT vec_id, embedding, label, cid AS cell
           FROM asg_b WHERE crn = 1),
kept AS (
  SELECT b.* FROM bcells b
  WHERE NOT EXISTS (
    SELECT 1 FROM icells i
    WHERE i.cell = b.cell
      AND {_SQL_COS.format(a='i.embedding', b='b.embedding')} >= 0.5))
SELECT label, COUNT(*) AS n_kept, bit_xor(vec_id) AS id_xor
FROM kept GROUP BY label ORDER BY label
"""


def ann_pq_refine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ shortlist -> exact re-rank (operators/pq.py pq_topk refine
    mode): ADC picks 20 candidates per query from the codes, only
    those rows' raw vectors are re-scored exactly. The oracle
    re-derives shortlist AND re-rank."""
    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    codes = PQ.pq_encode(emb, cbs)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (PQ.pq_topk(codes, queries, cbs, k=5, shortlist=20,
                       refine=emb.select("vec_id", "embedding"))
            .where(F.col("vec_id") != F.col("q_id"))
            .orderBy("q_id", "rn"))


_PQ_BODY = _PQ_SQL[:_PQ_SQL.index("SELECT q_id, vec_id, adist")]

_PQ_REFINE_SQL = _PQ_BODY + """,
short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY adist, vec_id) AS srn
    FROM scored) WHERE srn <= 20),
rescored AS (
  SELECT s.q_id, s.vec_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[]))
               - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.q_vec AS DOUBLE[])), 6)
           AS adist
  FROM short s
  JOIN embeddings e ON s.vec_id = e.vec_id
  JOIN q ON s.q_id = q.q_id)
SELECT q_id, vec_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
FROM rescored
QUALIFY rn <= 5 AND vec_id <> q_id
ORDER BY q_id, rn
"""


def ann_ivf_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ (operators/pq.py ivf_pq_index + ivf_pq_topk): the
    FAISS-style inverted file -- 8 deterministic coarse cells x
    m=4/k=16 PQ codes -- searched with 2-probe ADC. The scored pass
    reads only the probed cells' code rows (cell pruning x 16x
    compression multiply); raw vectors are never touched at search
    time. The oracle re-derives cells, codes, probe lists, LUTs and
    the ranking."""
    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    idx = PQ.ivf_pq_index(emb, cbs, n_cells=8)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (PQ.ivf_pq_topk(idx, queries, emb, cbs, k=5, n_probe=2,
                           n_cells=8)
            .where(F.col("vec_id") != F.col("q_id"))
            .orderBy("q_id", "rn"))


_IVF_PQ_SQL = _PQ_BODY.replace("q AS (", """cents8 AS (
  SELECT vec_id AS ccid, embedding[1:16] AS ccvec
  FROM embeddings ORDER BY vec_id LIMIT 8),
asg AS (
  SELECT e.vec_id, c.ccid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(-(list_dot_product(CAST(e.embedding[1:16]
                                                    AS DOUBLE[]),
                                               CAST(c.ccvec AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding[1:16]
                                             AS DOUBLE[]),
                                        CAST(e.embedding[1:16]
                                             AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.ccvec AS DOUBLE[]),
                                          CAST(c.ccvec AS DOUBLE[]))))),
                      9), c.ccid) AS crn
  FROM embeddings e CROSS JOIN cents8 c),
cells AS (SELECT vec_id, ccid AS cell FROM asg WHERE crn = 1),
qprobe AS (SELECT vec_id AS q_id, ccid AS cell
           FROM asg WHERE vec_id < 3 AND crn <= 2),
q AS (""") + """,
short AS (
  SELECT l.q_id, co.vec_id,
         round(CAST(SUM(CAST(l.lv AS DECIMAL(28,9))) AS DOUBLE), 6)
           AS adist
  FROM code co
  JOIN cells ce ON co.vec_id = ce.vec_id
  JOIN qprobe p ON ce.cell = p.cell
  JOIN lut l ON l.q_id = p.q_id AND co.j = l.j AND co.cid = l.cid
  GROUP BY l.q_id, co.vec_id)
SELECT q_id, vec_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
FROM short
QUALIFY rn <= 5 AND vec_id <> q_id
ORDER BY q_id, rn
"""


def ann_index_append(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ index lifecycle, append path (operators/pq.py pq_append):
    the inverted file is built as TWO disjoint batches (even ids, then
    odd ids appended) with pinned codebooks and a pinned centroid seed
    frame, then searched. The oracle is the ONE-SHOT build's full
    re-derivation -- a hash match proves staged construction is
    row-identical to fresh construction, the invariant that lets a
    100-TB index ingest batches without ever re-encoding the corpus."""
    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    idx = PQ.pq_append(
        PQ.ivf_pq_index(b1, cbs, n_cells=8, seed_vectors=emb),
        b2, cbs, n_cells=8, seed_vectors=emb)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (PQ.ivf_pq_topk(idx, queries, emb, cbs, k=5, n_probe=2,
                           n_cells=8)
            .where(F.col("vec_id") != F.col("q_id"))
            .orderBy("q_id", "rn"))


def ann_index_compact(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ staleness + compaction (operators/pq.py
    pq_reconstruction_mse + pq_compact): a drifted batch (vectors
    doubled, new low ids) is appended under the STALE codebooks; the
    gate pins the reconstruction MSE of the stale index AND of the
    compacted (re-derived codebooks + re-encoded) index -- the two
    numbers the maintenance loop compares to decide when re-encoding
    pays. The oracle re-derives both codebook sets, both encodings and
    both exact decimal-summed error totals."""
    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 10 != 9)
    drift = (emb.where(F.col("vec_id") % 10 == 9)
             .select((F.col("vec_id") - F.lit(1000000)).alias("vec_id"),
                     F.transform("embedding",
                                 lambda x: (x * F.lit(2.0)).cast("float"))
                     .alias("embedding")))
    union = base.unionByName(drift)
    cbs0 = PQ.lowest_id_pq_codebooks(base, m=4, k=16)
    idx0 = PQ.pq_append(PQ.ivf_pq_index(base, cbs0, n_cells=8),
                        drift, cbs0, n_cells=8, seed_vectors=base)
    stale = (PQ.pq_reconstruction_mse(union, idx0, cbs0)
             .select(F.lit("stale").alias("phase"), "n", "mse"))
    idx1, cbs1 = PQ.pq_compact(union, m=4, k=16, n_cells=8)
    fresh = (PQ.pq_reconstruction_mse(union, idx1, cbs1)
             .select(F.lit("compacted").alias("phase"), "n", "mse"))
    return stale.unionByName(fresh).orderBy("phase")


def _mse_block(tag: str, seeds_src: str) -> str:
    """One codebook-derivation + encode + exact-MSE re-derivation block
    (DuckDB twin of lowest_id_pq_codebooks -> pq_encode ->
    pq_reconstruction_mse over the `un` corpus)."""
    return f"""
seeds{tag} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding
  FROM {seeds_src} ORDER BY vec_id LIMIT 16),
cwn{tag} AS (
  SELECT j.j, s.cid,
         CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]) AS cw,
         list_dot_product(CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]),
                          CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]))
           AS cc
  FROM seeds{tag} s CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
enc{tag} AS (
  SELECT u.vec_id, c.j, c.cid,
         round(c.cc - 2 * list_dot_product(
             CAST(u.embedding[c.j*16+1 : c.j*16+16] AS DOUBLE[]), c.cw), 9)
           AS d
  FROM un u CROSS JOIN cwn{tag} c),
code{tag} AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
    FROM enc{tag}) WHERE rn = 1),
err{tag} AS (
  SELECT u.vec_id,
         round(list_dot_product(CAST(u.embedding[c.j*16+1 : c.j*16+16]
                                     AS DOUBLE[]),
                                CAST(u.embedding[c.j*16+1 : c.j*16+16]
                                     AS DOUBLE[]))
               - 2 * list_dot_product(CAST(u.embedding[c.j*16+1 : c.j*16+16]
                                           AS DOUBLE[]), c.cw)
               + c.cc, 9) AS t
  FROM code{tag} k
  JOIN cwn{tag} c ON k.j = c.j AND k.cid = c.cid
  JOIN un u ON u.vec_id = k.vec_id)"""


_COMPACT_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 9),
drift AS (
  SELECT vec_id - 1000000 AS vec_id,
         list_transform(embedding, x -> CAST(x * 2 AS REAL)) AS embedding
  FROM embeddings WHERE vec_id % 10 = 9),
un AS (SELECT * FROM base UNION ALL SELECT * FROM drift),
{_mse_block('0', 'base')},
{_mse_block('1', 'un')}
SELECT * FROM (
  SELECT 'stale' AS phase, COUNT(DISTINCT vec_id) AS n,
         round(CAST(SUM(CAST(t AS DECIMAL(28,9))) AS DOUBLE)
               / COUNT(DISTINCT vec_id), 6) AS mse
  FROM err0
  UNION ALL
  SELECT 'compacted' AS phase, COUNT(DISTINCT vec_id) AS n,
         round(CAST(SUM(CAST(t AS DECIMAL(28,9))) AS DOUBLE)
               / COUNT(DISTINCT vec_id), 6) AS mse
  FROM err1)
ORDER BY phase
"""


def ann_index_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-codebook-version search (operators/pq.py
    ivf_pq_topk_segments): the mid-migration state -- an old segment
    still encoded under the previous codebooks and a new segment under
    retrained ones -- searched in ONE pass, each segment ADC-scored
    under its own codebooks (LUTs are codebook-bound; scoring a
    segment with the wrong generation's LUTs is the correctness bug
    this operator exists to prevent). The oracle re-derives BOTH
    codebook sets, both encodings, both LUT families, the shared probe
    list and the global ranking."""
    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings")
    old = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    cbs_old = PQ.lowest_id_pq_codebooks(old, m=4, k=16)
    cbs_new = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    seg_old = PQ.ivf_pq_index(old, cbs_old, n_cells=8, seed_vectors=emb)
    seg_new = PQ.ivf_pq_index(new, cbs_new, n_cells=8, seed_vectors=emb)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (PQ.ivf_pq_topk_segments(
        [(seg_old, cbs_old), (seg_new, cbs_new)], queries, emb,
        k=5, n_probe=2, n_cells=8)
        .where(F.col("vec_id") != F.col("q_id"))
        .orderBy("q_id", "rn"))


def _seg_block(tag: str, seeds_pred: str, corpus_pred: str) -> str:
    """One codebook generation: seeds -> codewords -> segment encoding
    -> per-query LUTs -> probed ADC scores (DuckDB twin of one
    (index, codebooks) segment of ivf_pq_topk_segments)."""
    return f"""
seeds{tag} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding
  FROM embeddings WHERE {seeds_pred} ORDER BY vec_id LIMIT 16),
cwn{tag} AS (
  SELECT j.j, s.cid,
         CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]) AS cw,
         list_dot_product(CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]),
                          CAST(s.embedding[j.j*16+1 : j.j*16+16] AS DOUBLE[]))
           AS cc
  FROM seeds{tag} s CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
enc{tag} AS (
  SELECT e.vec_id, c.j, c.cid,
         round(c.cc - 2 * list_dot_product(
             CAST(e.embedding[c.j*16+1 : c.j*16+16] AS DOUBLE[]), c.cw), 9)
           AS d
  FROM embeddings e CROSS JOIN cwn{tag} c WHERE {corpus_pred}),
code{tag} AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
    FROM enc{tag}) WHERE rn = 1),
lut{tag} AS (
  SELECT q.q_id, c.j, c.cid,
         round(c.cc - 2 * list_dot_product(
             CAST(q.q_vec[c.j*16+1 : c.j*16+16] AS DOUBLE[]), c.cw), 9)
           AS lv
  FROM q CROSS JOIN cwn{tag} c),
sc{tag} AS (
  SELECT l.q_id, co.vec_id,
         round(CAST(SUM(CAST(l.lv AS DECIMAL(28,9))) AS DOUBLE), 6)
           AS adist
  FROM code{tag} co
  JOIN cells ce ON co.vec_id = ce.vec_id
  JOIN qprobe p ON ce.cell = p.cell
  JOIN lut{tag} l ON l.q_id = p.q_id AND co.j = l.j AND co.cid = l.cid
  GROUP BY l.q_id, co.vec_id)"""


_SEGMENTS_SQL = f"""
WITH cents8 AS (
  SELECT vec_id AS ccid, embedding[1:16] AS ccvec
  FROM embeddings ORDER BY vec_id LIMIT 8),
asg AS (
  SELECT e.vec_id, c.ccid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(-(list_dot_product(CAST(e.embedding[1:16]
                                                    AS DOUBLE[]),
                                               CAST(c.ccvec AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding[1:16]
                                             AS DOUBLE[]),
                                        CAST(e.embedding[1:16]
                                             AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.ccvec AS DOUBLE[]),
                                          CAST(c.ccvec AS DOUBLE[]))))),
                      9), c.ccid) AS crn
  FROM embeddings e CROSS JOIN cents8 c),
cells AS (SELECT vec_id, ccid AS cell FROM asg WHERE crn = 1),
qprobe AS (SELECT vec_id AS q_id, ccid AS cell
           FROM asg WHERE vec_id < 3 AND crn <= 2),
q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
      WHERE vec_id < 3),
{_seg_block('o', 'vec_id % 3 <> 0', 'e.vec_id % 3 <> 0')},
{_seg_block('n', 'TRUE', 'e.vec_id % 3 = 0')},
scored AS (SELECT * FROM sco UNION ALL SELECT * FROM scn)
SELECT q_id, vec_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
FROM scored
QUALIFY rn <= 5 AND vec_id <> q_id
ORDER BY q_id, rn
"""


def ann_sq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-quantization ANN (operators/sq.py): exact per-dim [lo,hi]
    bounds trained over the corpus (one aggregation), every vector
    encoded to int8 codes (4x compression), 3 queries ranked by exact
    l2 against the DEQUANTIZED codes only. The oracle re-derives the
    bounds, every code, the reconstruction, and the full ranking."""
    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings")
    los, his = Q.sq_train(emb)
    codes = Q.sq_encode(emb, los, his)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (Q.sq_topk(codes, queries, los, his, k=5)
            .where(F.col("vec_id") != F.col("q_id"))
            .orderBy("q_id", "rn"))


_SQ_TOPK_SQL = """
WITH flat AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings),
bounds AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY pos),
enc AS (
  SELECT f.vec_id, f.pos, b.lo, b.hi,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                  (f.x - b.lo) / (b.hi - b.lo) * 255) AS INT))) END AS code
  FROM flat f JOIN bounds b USING (pos)),
dq AS (
  SELECT vec_id,
         list(lo + code * ((hi - lo) / 255.0) ORDER BY pos) AS dqv
  FROM enc GROUP BY vec_id),
dd AS (SELECT vec_id, dqv, list_dot_product(dqv, dqv) AS ddv FROM dq),
q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.q_id, d.vec_id,
         round(d.ddv - 2 * list_dot_product(d.dqv, q.qv), 6) AS adist
  FROM dd d CROSS JOIN q)
SELECT q_id, vec_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
FROM scored
QUALIFY rn <= 5 AND vec_id <> q_id
ORDER BY q_id, rn
"""


def emb_hashed_tfidf_ann(spark: SparkSession, sf: str) -> DataFrame:
    """In-engine text->vector->ANN composition (operators/text.py
    hashed_tfidf_vectors + similarity.brute_force_topk): documents are
    embedded by the feature-hashing TF-IDF vectorizer (dim=32, no
    external model) and the first 3 docs' vectors retrieve their
    cosine top-5. The oracle re-derives buckets (md5 h60), tf/df/idf,
    every 9-dp weight, the dense vectors, and the full cosine
    ranking."""
    from ..operators import text as T
    d = tbl(spark, sf, "documents")
    vecs = T.hashed_tfidf_vectors(d, dim=32)
    q = (vecs.where(F.col("doc_id") < 3)
         .select(F.col("doc_id").alias("q_id"),
                 F.col("vec").alias("q_vec")))
    return (S.brute_force_topk(vecs, q, k=5, id_col="doc_id",
                               vec_col="vec")
            .orderBy("q_id", "rn"))


_HASHED_TFIDF_ANN_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM documents),
tf AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 32
              AS INT) AS b,
         COUNT(*) AS tf
  FROM toks GROUP BY 1, 2),
nd AS (SELECT COUNT(*) AS n FROM documents),
dfb AS (SELECT b, COUNT(*) AS dfr FROM tf GROUP BY b),
sparse AS (
  SELECT tf.doc_id, tf.b,
         round(tf.tf * (ln(CAST((SELECT n FROM nd) + 1 AS DOUBLE)
                           / (dfr + 1)) + 1), 9) AS w
  FROM tf JOIN dfb USING (b)),
dense AS (
  SELECT d.doc_id, list(COALESCE(s.w, 0.0) ORDER BY i.i) AS vec
  FROM (SELECT DISTINCT doc_id FROM sparse) d
  CROSS JOIN (SELECT unnest(range(0, 32)) AS i) i
  LEFT JOIN sparse s ON s.doc_id = d.doc_id AND s.b = i.i
  GROUP BY d.doc_id),
q AS (SELECT doc_id AS q_id, vec AS q_vec FROM dense WHERE doc_id < 3),
scored AS (
  SELECT q.q_id, v.doc_id,
         {_SQL_COS.format(a='v.vec', b='q.q_vec')} AS cos
  FROM dense v CROSS JOIN q WHERE v.doc_id <> q.q_id)
SELECT q_id, doc_id, cos,
       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id)
         AS rn
FROM scored QUALIFY rn <= 5 ORDER BY q_id, rn
"""


def emb_tfidf_ivf_sq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The composed text->vector->INDEXED-ANN route (closing
    emb_hashed_tfidf_ann's by-design O(corpus)/query brute baseline):
    documents are embedded by the hashed TF-IDF vectorizer (dim 32),
    the vectors are SQ8-encoded into an IVF-SQ inverted file, and the
    first 3 docs' vectors search it with 2-of-8 cell probing -- at
    scale the query cost is bound by the probed cells' code rows, not
    the corpus. The oracle re-derives the ENTIRE composition: buckets,
    tf/df/idf, dense vectors, cells, bounds, codes, probe lists,
    reconstruction and the full l2 ranking."""
    from ..operators import sq as Q
    from ..operators import text as T
    d = tbl(spark, sf, "documents")
    # the vectorizer output feeds FIVE consumers of one final action
    # (bounds collect, centroid seeds, cell assignment, codes, query
    # slice) and Catalyst has no common-subtree reuse across them --
    # uncached, each re-runs the whole tokenize/explode/tf/df pipeline
    # (guide 5: cache when reused AND recompute is expensive).
    # localCheckpoint rather than persist (guide 3.3/5 "materialising
    # an intermediate truncates the plan"): a persist still re-ANALYZES
    # the full tokenize/tf/df lineage for every consumer (cache
    # substitution happens after analysis), while the checkpoint makes
    # each consumer plan against a leaf RDD -- measured 7.4 -> 4.4 s
    # warm for this query, values identical. Same executor-storage
    # footprint as the persist; blocks are freed by GC after the query
    # (the bench's between-query System.gc). Trade-off: checkpoint
    # blocks are not recomputable on executor loss -- the query fails
    # and re-runs, acceptable for an intra-query intermediate.
    vecs = T.hashed_tfidf_vectors(d, dim=32).localCheckpoint(eager=True)
    los, his = Q.sq_train(vecs, vec_col="vec")
    idx = Q.ivf_sq_index(vecs, los, his, n_cells=8, id_col="doc_id",
                         vec_col="vec", coarse_dim=16)
    q = (vecs.where(F.col("doc_id") < 3)
         .select(F.col("doc_id").alias("q_id"),
                 F.col("vec").alias("q_vec")))
    return (Q.ivf_sq_topk(idx, q, vecs, los, his, k=5, n_probe=2,
                          n_cells=8, id_col="doc_id", vec_col="vec",
                          coarse_dim=16)
            .where(F.col("doc_id") != F.col("q_id"))
            .orderBy("q_id", "rn"))


_TFIDF_IVF_SQ_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM documents),
tf AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 32
              AS INT) AS b,
         COUNT(*) AS tf
  FROM toks GROUP BY 1, 2),
nd AS (SELECT COUNT(*) AS n FROM documents),
dfb AS (SELECT b, COUNT(*) AS dfr FROM tf GROUP BY b),
sparse AS (
  SELECT tf.doc_id, tf.b,
         round(tf.tf * (ln(CAST((SELECT n FROM nd) + 1 AS DOUBLE)
                           / (dfr + 1)) + 1), 9) AS w
  FROM tf JOIN dfb USING (b)),
dense AS (
  SELECT d.doc_id, list(COALESCE(s.w, 0.0) ORDER BY i.i) AS v
  FROM (SELECT DISTINCT doc_id FROM sparse) d
  CROSS JOIN (SELECT unnest(range(0, 32)) AS i) i
  LEFT JOIN sparse s ON s.doc_id = d.doc_id AND s.b = i.i
  GROUP BY d.doc_id),
cents AS (
  SELECT doc_id AS cid, v[1:16] AS cvec
  FROM dense ORDER BY doc_id LIMIT 8),
asg AS (
  SELECT e.doc_id, c.cid,
         row_number() OVER (PARTITION BY e.doc_id
             ORDER BY round(-({_SQL_COS9.format(a='e.v[1:16]',
                                                b='c.cvec')}), 9),
                      c.cid) AS crn
  FROM dense e CROSS JOIN cents c),
cells AS (SELECT doc_id, cid AS cell FROM asg WHERE crn = 1),
qprobe AS (
  SELECT doc_id AS q_id, cid AS cell
  FROM asg WHERE doc_id < 3 AND crn <= 2),
flat AS (
  SELECT doc_id, unnest(v) AS x,
         unnest(range(1, len(v) + 1)) AS pos
  FROM dense),
bounds AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY pos),
enc AS (
  SELECT f.doc_id, f.pos, b.lo, b.hi,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                  (f.x - b.lo) / (b.hi - b.lo) * 255) AS INT))) END AS code
  FROM flat f JOIN bounds b USING (pos)),
dq AS (
  SELECT doc_id,
         list(lo + code * ((hi - lo) / 255.0) ORDER BY pos) AS dqv
  FROM enc GROUP BY doc_id),
dd AS (SELECT doc_id, dqv, list_dot_product(dqv, dqv) AS ddv FROM dq),
q AS (SELECT doc_id AS q_id, v AS qv FROM dense WHERE doc_id < 3),
scored AS (
  SELECT p.q_id, d.doc_id,
         round(d.ddv - 2 * list_dot_product(d.dqv, q.qv), 6) AS adist
  FROM dd d JOIN cells ce ON d.doc_id = ce.doc_id
  JOIN qprobe p ON ce.cell = p.cell
  JOIN q ON q.q_id = p.q_id)
SELECT q_id, doc_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, doc_id) AS rn
FROM scored
QUALIFY rn <= 5 AND doc_id <> q_id
ORDER BY q_id, rn
"""


def ann_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversity re-rank (operators/retrieval.mmr_rerank): each
    query's exact-cosine top-10 shortlist is greedily re-ranked to 3
    picks balancing relevance vs similarity-to-picked (lam=0.5). The
    oracle unrolls the identical greedy steps as CTEs -- every pick,
    score and order pinned."""
    from ..operators import retrieval as R
    emb = tbl(spark, sf, "embeddings")
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    short = S.brute_force_topk(emb, queries, k=10)
    cands = short.join(emb.select("vec_id", "embedding"), "vec_id")
    out = R.mmr_rerank(cands, q_id_col="q_id", id_col="vec_id",
                       rel_col="cos", vec_col="embedding", k=3,
                       lam=0.5)
    return out.orderBy("q_id", "rn")


_MMR_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
           WHERE vec_id < 3),
scored0 AS (
  SELECT q.q_id, e.vec_id,
         {_SQL_COS.format(a='e.embedding', b='q.q_vec')} AS rel
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
short AS (
  SELECT q_id, vec_id, rel FROM (
    SELECT q_id, vec_id, rel,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY rel DESC, vec_id) AS rn
    FROM scored0) WHERE rn <= 10),
cand AS (
  SELECT s.q_id, s.vec_id, s.rel, e.embedding AS vec
  FROM short s JOIN embeddings e ON e.vec_id = s.vec_id),
s1 AS (
  SELECT q_id, vec_id, rel AS mmr, vec FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY rel DESC, vec_id) AS rn
    FROM cand) WHERE rn = 1),
c2 AS (
  SELECT c.q_id, c.vec_id, c.rel, c.vec,
         0.5 * c.rel - 0.5 * round(
           {_SQL_COS9.format(a='c.vec', b='p.vec')}, 9) AS mmr
  FROM cand c JOIN s1 p ON c.q_id = p.q_id
  WHERE c.vec_id <> p.vec_id),
s2 AS (
  SELECT q_id, vec_id, mmr, vec FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY mmr DESC, vec_id) AS rn
    FROM c2) WHERE rn = 1),
c3 AS (
  SELECT c.q_id, c.vec_id, c.rel, c.vec,
         0.5 * c.rel - 0.5 * greatest(
           round({_SQL_COS9.format(a='c.vec', b='p1.vec')}, 9),
           round({_SQL_COS9.format(a='c.vec', b='p2.vec')}, 9)) AS mmr
  FROM cand c
  JOIN s1 p1 ON c.q_id = p1.q_id
  JOIN s2 p2 ON c.q_id = p2.q_id
  WHERE c.vec_id <> p1.vec_id AND c.vec_id <> p2.vec_id),
s3 AS (
  SELECT q_id, vec_id, mmr, vec FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY mmr DESC, vec_id) AS rn
    FROM c3) WHERE rn = 1),
allp AS (
  SELECT q_id, vec_id, mmr, 1 AS rn FROM s1
  UNION ALL SELECT q_id, vec_id, mmr, 2 FROM s2
  UNION ALL SELECT q_id, vec_id, mmr, 3 FROM s3)
SELECT q_id, vec_id, mmr, CAST(rn AS BIGINT) AS rn
FROM allp ORDER BY q_id, rn
"""


def ann_ivf_sq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-SQ8 (operators/sq.py ivf_sq_index/ivf_sq_topk -- the Faiss
    IVF_SQ8 type): corpus routed to 8 deterministic cells AND encoded
    to int8, 3 queries probe their 2 nearest cells and l2-rank only
    those cells' dequantized codes. The oracle re-derives cells,
    bounds, codes, probe lists, reconstruction and ranking."""
    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings")
    los, his = Q.sq_train(emb)
    idx = Q.ivf_sq_index(emb, los, his, n_cells=8)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (Q.ivf_sq_topk(idx, queries, emb, los, his, k=5, n_probe=2,
                          n_cells=8)
            .where(F.col("vec_id") != F.col("q_id"))
            .orderBy("q_id", "rn"))


_IVF_SQ_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding[1:16] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8),
asg AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(-({_SQL_COS9.format(a='e.embedding[1:16]',
                                                b='c.cvec')}), 9),
                      c.cid) AS crn
  FROM embeddings e CROSS JOIN cents c),
cells AS (SELECT vec_id, cid AS cell FROM asg WHERE crn = 1),
qprobe AS (
  SELECT vec_id AS q_id, cid AS cell
  FROM asg WHERE vec_id < 3 AND crn <= 2),
flat AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings),
bounds AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY pos),
enc AS (
  SELECT f.vec_id, f.pos, b.lo, b.hi,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                  (f.x - b.lo) / (b.hi - b.lo) * 255) AS INT))) END AS code
  FROM flat f JOIN bounds b USING (pos)),
dq AS (
  SELECT vec_id,
         list(lo + code * ((hi - lo) / 255.0) ORDER BY pos) AS dqv
  FROM enc GROUP BY vec_id),
dd AS (SELECT vec_id, dqv, list_dot_product(dqv, dqv) AS ddv FROM dq),
q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT p.q_id, d.vec_id,
         round(d.ddv - 2 * list_dot_product(d.dqv, q.qv), 6) AS adist
  FROM dd d JOIN cells v ON d.vec_id = v.vec_id
  JOIN qprobe p ON v.cell = p.cell
  JOIN q ON q.q_id = p.q_id)
SELECT q_id, vec_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
FROM scored
QUALIFY rn <= 5 AND vec_id <> q_id
ORDER BY q_id, rn
"""


def ann_sq_append(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-SQ index lifecycle, append path (operators/sq.py sq_append):
    bounds and centroid seeds are trained on batch 1 (vec_id % 3 <> 0)
    ONLY -- the stored-model artifacts -- then batch 2 is appended
    under those same artifacts and the two-batch index is searched.
    The oracle is the one-shot build's full re-derivation (batch-1
    bounds/cents applied to the whole corpus): a hash match proves
    staged construction is row-identical to fresh construction, with
    batch-2 values CLAMPING to the stored bounds exactly as the
    operator contract states."""
    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings")
    b1 = emb.where(F.col("vec_id") % 3 != 0)
    b2 = emb.where(F.col("vec_id") % 3 == 0)
    los, his = Q.sq_train(b1)
    idx = Q.sq_append(
        Q.ivf_sq_index(b1, los, his, n_cells=8, seed_vectors=b1),
        b2, los, his, n_cells=8, seed_vectors=b1)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (Q.ivf_sq_topk(idx, queries, b1, los, his, k=5, n_probe=2,
                          n_cells=8)
            .where(F.col("vec_id") != F.col("q_id"))
            .orderBy("q_id", "rn"))


_SQ_APPEND_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding[1:16] AS cvec
  FROM embeddings WHERE vec_id % 3 <> 0 ORDER BY vec_id LIMIT 8),
asg AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(-({_SQL_COS9.format(a='e.embedding[1:16]',
                                                b='c.cvec')}), 9),
                      c.cid) AS crn
  FROM embeddings e CROSS JOIN cents c),
cells AS (SELECT vec_id, cid AS cell FROM asg WHERE crn = 1),
qprobe AS (
  SELECT vec_id AS q_id, cid AS cell
  FROM asg WHERE vec_id < 3 AND crn <= 2),
flat1 AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings WHERE vec_id % 3 <> 0),
bounds AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM flat1 GROUP BY pos),
flat AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings),
enc AS (
  SELECT f.vec_id, f.pos, b.lo, b.hi,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                  (f.x - b.lo) / (b.hi - b.lo) * 255) AS INT))) END AS code
  FROM flat f JOIN bounds b USING (pos)),
dq AS (
  SELECT vec_id,
         list(lo + code * ((hi - lo) / 255.0) ORDER BY pos) AS dqv
  FROM enc GROUP BY vec_id),
dd AS (SELECT vec_id, dqv, list_dot_product(dqv, dqv) AS ddv FROM dq),
q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT p.q_id, d.vec_id,
         round(d.ddv - 2 * list_dot_product(d.dqv, q.qv), 6) AS adist
  FROM dd d JOIN cells v ON d.vec_id = v.vec_id
  JOIN qprobe p ON v.cell = p.cell
  JOIN q ON q.q_id = p.q_id)
SELECT q_id, vec_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
FROM scored
QUALIFY rn <= 5 AND vec_id <> q_id
ORDER BY q_id, rn
"""


def ann_sq_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-bounds-version search (operators/sq.py
    ivf_sq_topk_segments): the SQ mid-migration state -- an old
    segment (vec_id % 3 <> 0) still encoded under ITS bounds and a new
    segment (vec_id % 3 = 0) under retrained full-corpus bounds --
    searched in ONE pass, each segment dequantized under its own
    generation (bounds-bound, the mixing bug the operator exists to
    prevent), cells shared. The oracle re-derives BOTH bounds sets,
    both encodings, the shared probe list and the global ranking."""
    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings")
    old = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    los_o, his_o = Q.sq_train(old)
    los_n, his_n = Q.sq_train(emb)
    seg_old = Q.ivf_sq_index(old, los_o, his_o, n_cells=8,
                             seed_vectors=emb)
    seg_new = Q.ivf_sq_index(new, los_n, his_n, n_cells=8,
                             seed_vectors=emb)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    return (Q.ivf_sq_topk_segments(
        [(seg_old, los_o, his_o), (seg_new, los_n, his_n)],
        queries, emb, k=5, n_probe=2, n_cells=8)
        .where(F.col("vec_id") != F.col("q_id"))
        .orderBy("q_id", "rn"))


def _sq_seg_block(tag: str, bounds_pred: str, corpus_pred: str) -> str:
    """One bounds generation: per-dim [lo,hi] over ``bounds_pred`` rows,
    encode + dequantize the ``corpus_pred`` segment under them (DuckDB
    twin of sq_train -> ivf_sq_index for one segment)."""
    return f"""
flat{tag} AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings WHERE {bounds_pred}),
bounds{tag} AS (
  SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM flat{tag} GROUP BY pos),
enc{tag} AS (
  SELECT f.vec_id, f.pos, b.lo, b.hi,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                  (f.x - b.lo) / (b.hi - b.lo) * 255) AS INT))) END AS code
  FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings WHERE {corpus_pred}) f
  JOIN bounds{tag} b USING (pos)),
dd{tag} AS (
  SELECT vec_id, dqv, list_dot_product(dqv, dqv) AS ddv FROM (
    SELECT vec_id,
           list(lo + code * ((hi - lo) / 255.0) ORDER BY pos) AS dqv
    FROM enc{tag} GROUP BY vec_id)),
sc{tag} AS (
  SELECT p.q_id, d.vec_id,
         round(d.ddv - 2 * list_dot_product(d.dqv, q.qv), 6) AS adist
  FROM dd{tag} d JOIN cells v ON d.vec_id = v.vec_id
  JOIN qprobe p ON v.cell = p.cell
  JOIN q ON q.q_id = p.q_id)"""


_SQ_SEGMENTS_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding[1:16] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8),
asg AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(-({_SQL_COS9.format(a='e.embedding[1:16]',
                                                b='c.cvec')}), 9),
                      c.cid) AS crn
  FROM embeddings e CROSS JOIN cents c),
cells AS (SELECT vec_id, cid AS cell FROM asg WHERE crn = 1),
qprobe AS (
  SELECT vec_id AS q_id, cid AS cell
  FROM asg WHERE vec_id < 3 AND crn <= 2),
q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
{_sq_seg_block('o', 'vec_id % 3 <> 0', 'vec_id % 3 <> 0')},
{_sq_seg_block('n', 'TRUE', 'vec_id % 3 = 0')},
scored AS (SELECT * FROM sco UNION ALL SELECT * FROM scn)
SELECT q_id, vec_id, adist,
       row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
FROM scored
QUALIFY rn <= 5 AND vec_id <> q_id
ORDER BY q_id, rn
"""


def ann_sq_staleness(spark: SparkSession, sf: str) -> DataFrame:
    """SQ bounds staleness + compaction (operators/sq.py
    sq_clamp_fraction + sq_reconstruction_mse + sq_compact -- the
    ann_index_compact discipline for the bounds-model family): a
    drifted batch (vectors doubled, new low ids) is appended under the
    STALE batch-1 bounds; the gate pins, per phase, the clamped-value
    fraction AND the reconstruction MSE -- stale (drift clamps hard,
    error explodes) vs compacted (re-trained bounds + re-encode; clamp
    frac 0 by construction). These are the two signals the maintenance
    loop compares to schedule sq_compact. The oracle re-derives both
    bounds sets, every code, both exact decimal-summed error totals
    and both clamp counts."""
    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 10 != 9)
    drift = (emb.where(F.col("vec_id") % 10 == 9)
             .select((F.col("vec_id") - F.lit(1000000)).alias("vec_id"),
                     F.transform("embedding",
                                 lambda x: (x * F.lit(2.0)).cast("float"))
                     .alias("embedding")))
    un = base.unionByName(drift)
    los0, his0 = Q.sq_train(base)
    idx0 = Q.sq_append(
        Q.ivf_sq_index(base, los0, his0, n_cells=8, seed_vectors=base),
        drift, los0, his0, n_cells=8, seed_vectors=base)
    idx1, los1, his1 = Q.sq_compact(un, n_cells=8, seed_vectors=un)

    def phase(tag, idx, los, his):
        m = Q.sq_reconstruction_mse(un, idx, los, his)
        c = Q.sq_clamp_fraction(un, los, his).select("clamp_frac")
        return (m.crossJoin(c)
                .select(F.lit(tag).alias("phase"), "n", "mse",
                        "clamp_frac"))

    return (phase("stale", idx0, los0, his0)
            .unionByName(phase("compacted", idx1, los1, his1))
            .orderBy("phase"))


def _sq_err_block(tag: str, bounds_src: str) -> str:
    """One bounds-derivation + encode + exact-MSE + clamp-count block
    (DuckDB twin of sq_train -> sq_encode -> sq_reconstruction_mse +
    sq_clamp_fraction over the `flatu` corpus)."""
    return f"""
bounds{tag} AS (
  SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM {bounds_src} GROUP BY pos),
err{tag} AS (
  SELECT f.vec_id, f.x,
         b.lo + (CASE WHEN b.hi = b.lo THEN 0
                      ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                          (f.x - b.lo) / (b.hi - b.lo) * 255) AS INT)))
                 END) * ((b.hi - b.lo) / 255.0) AS dq,
         CASE WHEN f.x < b.lo OR f.x > b.hi THEN 1 ELSE 0 END AS oob
  FROM flatu f JOIN bounds{tag} b USING (pos)),
agg{tag} AS (
  SELECT COUNT(DISTINCT vec_id) AS n,
         round(CAST(SUM(CAST(round((x - dq) * (x - dq), 9)
                             AS DECIMAL(28,9))) AS DOUBLE)
               / COUNT(DISTINCT vec_id), 6) AS mse,
         round(CAST(SUM(oob) AS DOUBLE) / COUNT(*), 6) AS clamp_frac
  FROM err{tag})"""


_SQ_STALENESS_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 9),
drift AS (
  SELECT vec_id - 1000000 AS vec_id,
         list_transform(embedding, x -> CAST(x * 2 AS REAL)) AS embedding
  FROM embeddings WHERE vec_id % 10 = 9),
un AS (SELECT * FROM base UNION ALL SELECT * FROM drift),
flatb AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM base),
flatu AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM un),
{_sq_err_block('0', 'flatb')},
{_sq_err_block('1', 'flatu')}
SELECT * FROM (
  SELECT 'stale' AS phase, n, mse, clamp_frac FROM agg0
  UNION ALL
  SELECT 'compacted' AS phase, n, mse, clamp_frac FROM agg1)
ORDER BY phase
"""


def ann_sq_staleness_sampled(spark: SparkSession, sf: str) -> DataFrame:
    """Sampled staleness signal (sq_reconstruction_mse sample_frac=):
    the full MSE pass over a drifted two-batch index vs the SAME
    signal on a 25% seeded-md5-hash row sample -- the maintenance-cost
    bound for a 100x corpus (the signal is a mean, so a uniform sample
    is unbiased). The oracle re-derives BOTH numbers exactly,
    including the md5 sample membership (md5 is engine-identical,
    unlike xxhash64), so the pinned values also evidence the
    sample-vs-full agreement."""
    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 10 != 9)
    drift = (emb.where(F.col("vec_id") % 10 == 9)
             .select((F.col("vec_id") - F.lit(1000000)).alias("vec_id"),
                     F.transform("embedding",
                                 lambda x: (x * F.lit(2.0)).cast("float"))
                     .alias("embedding")))
    un = base.unionByName(drift)
    los0, his0 = Q.sq_train(base)
    idx0 = Q.sq_append(
        Q.ivf_sq_index(base, los0, his0, n_cells=8, seed_vectors=base),
        drift, los0, his0, n_cells=8, seed_vectors=base)
    full = (Q.sq_reconstruction_mse(un, idx0, los0, his0)
            .select(F.lit("full").alias("scope"), "n", "mse"))
    samp = (Q.sq_reconstruction_mse(un, idx0, los0, his0,
                                    sample_frac=0.25, sample_seed=7)
            .select(F.lit("sample").alias("scope"), "n", "mse"))
    return full.unionByName(samp).orderBy("scope")


_SQ_STALENESS_SAMPLED_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 9),
drift AS (
  SELECT vec_id - 1000000 AS vec_id,
         list_transform(embedding, x -> CAST(x * 2 AS REAL)) AS embedding
  FROM embeddings WHERE vec_id % 10 = 9),
un AS (SELECT * FROM base UNION ALL SELECT * FROM drift),
flatb AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM base),
flatu AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM un),
{_sq_err_block('0', 'flatb')},
aggs AS (
  SELECT COUNT(DISTINCT vec_id) AS n,
         round(CAST(SUM(CAST(round((x - dq) * (x - dq), 9)
                             AS DECIMAL(28,9))) AS DOUBLE)
               / COUNT(DISTINCT vec_id), 6) AS mse
  FROM err0
  WHERE substring(md5('7:' || CAST(vec_id AS VARCHAR)), 1, 2) < '40')
SELECT * FROM (
  SELECT 'full' AS scope, n, mse FROM agg0
  UNION ALL
  SELECT 'sample' AS scope, n, mse FROM aggs)
ORDER BY scope
"""


def ann_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval (operators/retrieval.py rrf_fuse): BM25 top-10
    over the documents table fused with exact-cosine top-10 over the
    embeddings table by reciprocal-rank fusion (k=60), final top-5 per
    query. The oracle re-derives BOTH rankings and the fused scores --
    the lexical+vector serving shape (sparse keyword match where
    embeddings miss identifiers, dense recall where wording drifts)."""
    from ..operators import retrieval as R
    from ..operators.text import tokenize_ws
    d = tbl(spark, sf, "documents")
    emb = tbl(spark, sf, "embeddings")
    postings = R.bm25_index(d)
    bq = (d.where(F.col("doc_id") < 3)
          .select(F.col("doc_id").alias("q_id"),
                  F.array_join(F.slice(tokenize_ws("text"), 1, 8), " ")
                  .alias("q_text")))
    lex = R.bm25_topk(postings, bq, k=10)
    vq = (emb.where(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    vec = (S.brute_force_topk(emb, vq, k=10)
           .select("q_id", F.col("vec_id").alias("doc_id"), "rn"))
    return R.rrf_fuse([lex, vec], topk=5).orderBy("q_id", "rn")


_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

_HYBRID_RRF_SQL = f"""
WITH toks AS (
  SELECT doc_id, len({_TOKS}) AS dl, unnest({_TOKS}) AS term
  FROM documents),
tf AS (
  SELECT term, doc_id, COUNT(*) AS tf, dl
  FROM toks GROUP BY term, doc_id, dl),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
cstats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl
  FROM (SELECT doc_id, MAX(dl) AS dl FROM tf GROUP BY doc_id)),
q AS (
  SELECT doc_id AS q_id, array_to_string(({_TOKS})[1:8], ' ') AS q_text
  FROM documents WHERE doc_id < 3),
qt AS (
  SELECT DISTINCT q_id, term FROM (
    SELECT q_id, unnest(regexp_split_to_array(trim(q_text), '\\s+'))
             AS term
    FROM q)),
part AS (
  SELECT qt.q_id, tf.doc_id,
         round(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 9)
               * (tf.tf * {1.2 + 1.0!r})
               / (tf.tf + {1.2!r} * ({1.0 - 0.75!r} + {0.75!r} * tf.dl
                  / (CAST(sum_dl AS DOUBLE) / n_docs))), 9) AS part
  FROM tf JOIN qt USING (term) JOIN dfreq USING (term) CROSS JOIN cstats),
bscored AS (
  SELECT q_id, doc_id,
         round(CAST(SUM(CAST(part AS DECIMAL(28,9))) AS DOUBLE), 6)
           AS score
  FROM part GROUP BY q_id, doc_id),
lex AS (
  SELECT q_id, doc_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY score DESC, doc_id) AS rn
  FROM bscored QUALIFY rn <= 10),
vq AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       WHERE vec_id < 3),
vsc AS (
  SELECT vq.q_id, e.vec_id AS doc_id,
         {_SQL_COS.format(a='e.embedding', b='vq.q_vec')} AS cos
  FROM embeddings e CROSS JOIN vq WHERE e.vec_id <> vq.q_id),
vec AS (
  SELECT q_id, doc_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, doc_id) AS rn
  FROM vsc QUALIFY rn <= 10),
u AS (
  SELECT q_id, doc_id,
         CAST(round(1.0 / CAST(60 + rn AS DOUBLE), 9) AS DECIMAL(28,9))
           AS c
  FROM lex
  UNION ALL
  SELECT q_id, doc_id,
         CAST(round(1.0 / CAST(60 + rn AS DOUBLE), 9) AS DECIMAL(28,9))
           AS c
  FROM vec),
fused AS (
  SELECT q_id, doc_id, round(CAST(SUM(c) AS DOUBLE), 9) AS rrf
  FROM u GROUP BY q_id, doc_id)
SELECT q_id, doc_id, rrf,
       row_number() OVER (PARTITION BY q_id
                          ORDER BY rrf DESC, doc_id) AS rn
FROM fused QUALIFY rn <= 5 ORDER BY q_id, rn
"""


def ann_sq_stored_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-index SERVING path for the vector tier (operators/sq.py
    sq_store_index + sq_stored_topk): the IVF-SQ inverted file is
    persisted hive-partitioned BY CELL with the centroid/bounds
    artifacts, then the SAME 3 queries are served reading ONLY their
    probed cells' directories (static PartitionFilters, plan-asserted
    in test_plans). Shares ann_ivf_sq_topk's oracle verbatim: pruned
    stored serving must rank identically to the in-memory index."""
    import shutil
    import uuid

    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings")
    los, his = Q.sq_train(emb)
    idx = Q.ivf_sq_index(emb, los, his, n_cells=8)
    stage = f"/tmp/bodo_spark_sqstore_{uuid.uuid4().hex[:8]}"
    try:
        Q.sq_store_index(idx, stage, los, his, n_cells=8,
                         seed_vectors=emb)
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (Q.sq_stored_topk(spark, stage, queries, k=5, n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def ann_sq_stored_append(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-index incremental APPEND (operators/sq.py
    sq_stored_append): batch 1 builds and stores the cell-partitioned
    index (bounds + centroids trained on batch 1 only -- the stored
    model artifacts); batch 2 is appended INTO the stored directories
    (O(batch): encode + route the batch under the stored artifacts
    read back from the store, dynamic-partition append; existing files
    never opened). Serving the two-batch store shares ann_sq_append's
    one-shot oracle verbatim: staged stored construction must be
    row-identical to fresh construction, batch-2 clamping included."""
    import shutil
    import uuid

    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings")
    b1 = emb.where(F.col("vec_id") % 3 != 0)
    b2 = emb.where(F.col("vec_id") % 3 == 0)
    los, his = Q.sq_train(b1)
    idx1 = Q.ivf_sq_index(b1, los, his, n_cells=8, seed_vectors=b1)
    stage = f"/tmp/bodo_spark_sqsapp_{uuid.uuid4().hex[:8]}"
    try:
        Q.sq_store_index(idx1, stage, los, his, n_cells=8,
                         seed_vectors=b1)
        Q.sq_stored_append(b2, stage)
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (Q.sq_stored_topk(spark, stage, queries, k=5, n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def ann_sq_stored_compact(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-index COMPACTION (operators/sq.py sq_stored_compact --
    completing the stored lifecycle: store / serve / append /
    compact): batch 1 builds the store under ITS OWN bounds, batch 2
    is appended (clamping under the stale bounds), then the store is
    compacted against the full raw corpus -- fresh bounds, rebuilt
    inverted file, the whole store swapped atomically. Serving the
    compacted store shares ann_ivf_sq_topk's one-shot oracle verbatim
    (full-corpus bounds + lowest-id seeds = exactly what compaction
    derives)."""
    import shutil
    import uuid

    from ..operators import sq as Q
    emb = tbl(spark, sf, "embeddings")
    b1 = emb.where(F.col("vec_id") % 3 != 0)
    b2 = emb.where(F.col("vec_id") % 3 == 0)
    los1, his1 = Q.sq_train(b1)
    idx1 = Q.ivf_sq_index(b1, los1, his1, n_cells=8, seed_vectors=b1)
    stage = f"/tmp/bodo_spark_sqsc_{uuid.uuid4().hex[:8]}"
    try:
        Q.sq_store_index(idx1, stage, los1, his1, n_cells=8,
                         seed_vectors=b1)
        Q.sq_stored_append(b2, stage)
        Q.sq_stored_compact(emb, stage, n_cells=8)
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (Q.sq_stored_topk(spark, stage, queries, k=5, n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        import glob as g
        for dd in g.glob(f"{stage}.__cow_*"):
            shutil.rmtree(dd, ignore_errors=True)


def ann_sq_stored_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-index generation ROLLBACK (sources/publish.py --
    the expire_snapshots/rollback discipline applied to the serving
    tier): batch 1 builds + stores the index under ITS bounds, batch 2
    appends, then a compaction retrains over the full corpus with
    ``retain_history=True`` (the superseded store becomes
    archive/gen-0000) -- and is ROLLED BACK. Serving after the
    rollback must be byte-identical to the PRE-compaction store, so
    the gate shares ann_sq_stored_append's one-shot oracle verbatim:
    only a real snapshot restore (bounds + centroids + codes switching
    back TOGETHER) can reproduce it, because the compacted store's
    full-corpus bounds rank differently."""
    import shutil
    import uuid

    from ..operators import sq as Q
    from ..sources.publish import (restore_store_generation,
                                   store_generations)
    emb = tbl(spark, sf, "embeddings")
    b1 = emb.where(F.col("vec_id") % 3 != 0)
    b2 = emb.where(F.col("vec_id") % 3 == 0)
    los, his = Q.sq_train(b1)
    idx1 = Q.ivf_sq_index(b1, los, his, n_cells=8, seed_vectors=b1)
    stage = f"/tmp/bodo_spark_sqrb_{uuid.uuid4().hex[:8]}"
    try:
        Q.sq_store_index(idx1, stage, los, his, n_cells=8,
                         seed_vectors=b1)
        Q.sq_stored_append(b2, stage)
        gen = Q.sq_stored_compact(emb, stage, n_cells=8,
                                  retain_history=True)
        assert gen == 0 and store_generations(stage) == [0]
        restore_store_generation(stage, 0)
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (Q.sq_stored_topk(spark, stage, queries, k=5, n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        import glob as g
        for dd in g.glob(f"{stage}.__*"):
            shutil.rmtree(dd, ignore_errors=True)


def ann_mor_incremental_index(spark: SparkSession, sf: str) -> DataFrame:
    """The incremental index-maintenance LOOP a 100-TB pipeline runs,
    composed from the engine's own tiers (operators/mor.py +
    operators/sq.py): the embedding corpus lives in a MoR table
    maintained by streaming CDC (apply_cdc_stream_mor -- O(batch)
    delta appends), a downstream consumer TAILS it with mor_changes
    (incremental pull: net per-key winners of the new segments, base
    never read) and feeds the pull's upserts into sq_stored_append
    (O(batch) dynamic-partition append under the stored model
    artifacts). Neither the table nor the index is ever rebuilt. The
    CDC stream deliberately contains a SUPERSEDED version of every new
    vector (reversed embedding, lower seq) so the pull must pick range
    winners -- feeding raw changes instead of winners would index the
    wrong vectors. Shares ann_sq_stored_append's one-shot oracle
    verbatim: the composition must serve exactly like a direct append
    of the final vectors."""
    import shutil
    import uuid

    from ..operators import mor as M
    from ..operators import sq as Q
    from ..streaming import read_stream_parquet
    emb = tbl(spark, sf, "embeddings")
    b1 = emb.where(F.col("vec_id") % 3 != 0)
    b2 = emb.where(F.col("vec_id") % 3 == 0)
    los, his = Q.sq_train(b1)
    idx1 = Q.ivf_sq_index(b1, los, his, n_cells=8, seed_vectors=b1)
    stage = f"/tmp/bodo_spark_morannx_{uuid.uuid4().hex[:8]}"
    try:
        Q.sq_store_index(idx1, f"{stage}/idx", los, his, n_cells=8,
                         seed_vectors=b1)
        M.mor_init(b1.select("vec_id", "embedding")
                   .withColumn("_cdc_seq", F.lit(0).cast("long")),
                   f"{stage}/t", key_cols=["vec_id"])
        fake = b2.select("vec_id",
                         F.reverse("embedding").alias("embedding"),
                         F.lit("U").alias("op"),
                         F.lit(1).cast("long").alias("seq"))
        real = b2.select("vec_id", "embedding",
                         F.lit("U").alias("op"),
                         F.lit(2).cast("long").alias("seq"))
        changes = fake.unionByName(real)
        changes.repartition(2).write.mode("overwrite") \
            .parquet(f"{stage}/cdc")
        stream = read_stream_parquet(spark, f"{stage}/cdc",
                                     changes.schema,
                                     max_files_per_trigger=1)
        M.apply_cdc_stream_mor(stream, f"{stage}/t",
                               key_cols=["vec_id"],
                               query_name=f"mx_{uuid.uuid4().hex[:8]}")
        pull = M.mor_changes(spark, f"{stage}/t", key_cols=["vec_id"],
                             since_segment=0)
        Q.sq_stored_append(
            pull.where(F.col("op") == "U")
            .select("vec_id", "embedding"), f"{stage}/idx")
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (Q.sq_stored_topk(spark, f"{stage}/idx", queries, k=5,
                                n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(f"{stage}/t__mor_ckpt", ignore_errors=True)


def ann_pq_stored_append(spark: SparkSession, sf: str) -> DataFrame:
    """Stored IVF-PQ incremental APPEND (operators/pq.py
    pq_stored_append): even ids build and store the cell-partitioned
    index, odd ids are appended INTO the stored directories under the
    codebooks/centroids read back from the store; serving the
    two-batch store shares ann_index_append's one-shot oracle verbatim
    (same batches, same pinned codebooks and centroid seed)."""
    import shutil
    import uuid

    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    idx1 = PQ.ivf_pq_index(b1, cbs, n_cells=8, seed_vectors=emb)
    stage = f"/tmp/bodo_spark_pqsapp_{uuid.uuid4().hex[:8]}"
    try:
        PQ.pq_store_index(idx1, stage, cbs, n_cells=8,
                          seed_vectors=emb)
        PQ.pq_stored_append(b2, stage)
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (PQ.pq_stored_topk(spark, stage, queries, k=5, n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def ann_pq_stored_compact(spark: SparkSession, sf: str) -> DataFrame:
    """Stored IVF-PQ compaction (operators/pq.py pq_stored_compact):
    batch 1 (even ids) builds the store under its OWN lowest-id
    codebooks, batch 2 is appended under those stale codebooks, then
    the store is compacted against the full raw corpus -- fresh
    codebooks, rebuilt inverted file, whole store swapped. Serving the
    compacted store shares ann_ivf_pq_topk's one-shot oracle verbatim
    (full-corpus lowest-id codebooks + seeds = what compaction
    derives)."""
    import shutil
    import uuid

    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    cbs1 = PQ.lowest_id_pq_codebooks(b1, m=4, k=16)
    idx1 = PQ.ivf_pq_index(b1, cbs1, n_cells=8, seed_vectors=b1)
    stage = f"/tmp/bodo_spark_pqsc_{uuid.uuid4().hex[:8]}"
    try:
        PQ.pq_store_index(idx1, stage, cbs1, n_cells=8,
                          seed_vectors=b1)
        PQ.pq_stored_append(b2, stage)
        PQ.pq_stored_compact(emb, stage, m=4, k=16, n_cells=8)
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (PQ.pq_stored_topk(spark, stage, queries, k=5, n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        import glob as g
        for dd in g.glob(f"{stage}.__cow_*"):
            shutil.rmtree(dd, ignore_errors=True)


def ann_pq_stored_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """Stored IVF-PQ generation ROLLBACK (sources/publish.py --
    ann_sq_stored_rollback's twin for the codebook family, completing
    rollback parity across the stored index families): the two-batch
    store is built the ann_pq_stored_append way (full-corpus pinned
    codebooks, batch 2 appended under the STORED artifacts), then a
    BAD compaction -- fed only batch 1, the wrong-trainer/corrupt-
    corpus failure rollback exists for -- replaces it with
    ``retain_history=True``, and the retained generation is restored.
    Serving after the rollback shares ann_ivf_pq_topk's one-shot
    oracle verbatim: the bad compaction's store is missing half the
    corpus AND carries different codebooks, so only a real whole-store
    snapshot restore (codebooks + centroids + codes together) can
    reproduce the ranking."""
    import shutil
    import uuid

    from ..operators import pq as PQ
    from ..sources.publish import (restore_store_generation,
                                   store_generations)
    emb = tbl(spark, sf, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    idx1 = PQ.ivf_pq_index(b1, cbs, n_cells=8, seed_vectors=emb)
    stage = f"/tmp/bodo_spark_pqrb_{uuid.uuid4().hex[:8]}"
    try:
        PQ.pq_store_index(idx1, stage, cbs, n_cells=8,
                          seed_vectors=emb)
        PQ.pq_stored_append(b2, stage)
        gen = PQ.pq_stored_compact(b1, stage, m=4, k=16, n_cells=8,
                                   retain_history=True)
        assert gen == 0 and store_generations(stage) == [0]
        restore_store_generation(stage, 0)
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (PQ.pq_stored_topk(spark, stage, queries, k=5, n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        import glob as g
        for dd in g.glob(f"{stage}.__*"):
            shutil.rmtree(dd, ignore_errors=True)


def ann_pq_stored_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-index SERVING path for the PQ tier (operators/pq.py
    pq_store_index + pq_stored_topk): the IVF-PQ inverted file
    persisted hive-partitioned BY CELL with codebook/centroid
    artifacts; the 3 queries' probed-cell set prunes the index scan to
    those directories and the broadcast-LUT ADC pass ranks them.
    Shares ann_ivf_pq_topk's oracle verbatim."""
    import shutil
    import uuid

    from ..operators import pq as PQ
    emb = tbl(spark, sf, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    idx = PQ.ivf_pq_index(emb, cbs, n_cells=8)
    stage = f"/tmp/bodo_spark_pqstore_{uuid.uuid4().hex[:8]}"
    try:
        PQ.pq_store_index(idx, stage, cbs, n_cells=8, seed_vectors=emb)
        queries = (emb.where(F.col("vec_id") < 3)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_vec")))
        out = (PQ.pq_stored_topk(spark, stage, queries, k=5, n_probe=2)
               .where(F.col("vec_id") != F.col("q_id"))
               .orderBy("q_id", "rn"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, vec_id long, adist double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


QUERIES: dict[str, QueryDef] = {
    "ann_sq_stored_prune": QueryDef(
        ann_sq_stored_prune, _IVF_SQ_SQL,
        doc="cell-partitioned stored IVF-SQ serving: probed cells as "
            "PartitionFilters; shares the in-memory oracle"),
    "ann_pq_stored_prune": QueryDef(
        ann_pq_stored_prune, _IVF_PQ_SQL,
        doc="cell-partitioned stored IVF-PQ serving: probed cells as "
            "PartitionFilters; shares the in-memory oracle"),
    "ann_sq_stored_append": QueryDef(
        ann_sq_stored_append, _SQ_APPEND_SQL,
        doc="O(batch) append into the stored cell dirs under stored "
            "artifacts; shares the one-shot append oracle"),
    "ann_pq_stored_append": QueryDef(
        ann_pq_stored_append, _IVF_PQ_SQL,
        doc="O(batch) append into the stored IVF-PQ cell dirs; shares "
            "the one-shot append oracle"),
    "ann_sq_stored_compact": QueryDef(
        ann_sq_stored_compact, _IVF_SQ_SQL,
        doc="stored-index compaction: fresh bounds + rebuilt file + "
            "whole-store swap; shares the one-shot oracle"),
    "ann_sq_stored_rollback": QueryDef(
        ann_sq_stored_rollback, _SQ_APPEND_SQL,
        doc="retained-generation rollback of a stored-index "
            "compaction: serving must revert to the pre-compaction "
            "store exactly (bounds+centroids+codes together)"),
    "ann_mor_incremental_index": QueryDef(
        ann_mor_incremental_index, _SQ_APPEND_SQL,
        doc="CDC-maintained MoR embedding table tailed by "
            "mor_changes feeding sq_stored_append: the no-rebuild "
            "incremental index-maintenance loop, served == direct "
            "append of the final vectors"),
    "ann_pq_stored_compact": QueryDef(
        ann_pq_stored_compact, _IVF_PQ_SQL,
        doc="stored IVF-PQ compaction: fresh codebooks + whole-store "
            "swap; shares the one-shot oracle"),
    "ann_pq_stored_rollback": QueryDef(
        ann_pq_stored_rollback, _IVF_PQ_SQL,
        doc="retained-generation rollback of a BAD stored IVF-PQ "
            "compaction (partial corpus): serving must revert to the "
            "appended store exactly (codebooks+centroids+codes "
            "together)"),
    "ann_sq_topk": QueryDef(ann_sq_topk, _SQ_TOPK_SQL),
    "ann_ivf_sq_topk": QueryDef(ann_ivf_sq_topk, _IVF_SQ_SQL),
    "ann_sq_append": QueryDef(
        ann_sq_append, _SQ_APPEND_SQL,
        doc="SQ index append: two-batch build == one-shot (stored "
            "bounds + pinned seeds)"),
    "ann_sq_staleness": QueryDef(
        ann_sq_staleness, _SQ_STALENESS_SQL,
        doc="SQ bounds staleness: clamp fraction + reconstruction MSE, "
            "stale vs compacted"),
    "ann_sq_staleness_sampled": QueryDef(
        ann_sq_staleness_sampled, _SQ_STALENESS_SAMPLED_SQL,
        doc="seeded-md5-hash sampled reconstruction MSE vs full: the "
            "bounded-cost staleness signal, sample pinned exactly"),
    "ann_sq_segments": QueryDef(
        ann_sq_segments, _SQ_SEGMENTS_SQL,
        doc="mixed-bounds-version SQ search: each segment dequantized "
            "under its own generation"),
    "ann_mmr_rerank": QueryDef(ann_mmr_rerank, _MMR_SQL),
    "emb_hashed_tfidf_ann": QueryDef(emb_hashed_tfidf_ann,
                                     _HASHED_TFIDF_ANN_SQL),
    "emb_tfidf_ivf_sq_topk": QueryDef(
        emb_tfidf_ivf_sq_topk, _TFIDF_IVF_SQ_SQL,
        doc="text -> hashed TF-IDF -> IVF-SQ8 index -> probed ANN "
            "(the composed scale route)"),
    "ann_hybrid_rrf": QueryDef(ann_hybrid_rrf, _HYBRID_RRF_SQL),
    "ann_index_segments": QueryDef(ann_index_segments, _SEGMENTS_SQL),
    "ann_index_append": QueryDef(ann_index_append, _IVF_PQ_SQL),
    "ann_index_compact": QueryDef(ann_index_compact, _COMPACT_SQL),
    "ann_ivf_pq_topk": QueryDef(ann_ivf_pq_topk, _IVF_PQ_SQL),
    "ann_pq_topk": QueryDef(ann_pq_topk, _PQ_SQL),
    "ann_pq_refine_topk": QueryDef(ann_pq_refine_topk, _PQ_REFINE_SQL),
    "emb_semdedup_ingest": QueryDef(emb_semdedup_ingest,
                                    _SEMDEDUP_BETWEEN_SQL),
    "emb_semantic_dedup": QueryDef(emb_semantic_dedup, _SEMDEDUP_SQL),
    "emb_gram_slice": QueryDef(emb_gram_slice, _EMB_GRAM_SQL),
    "emb_pca_trace": QueryDef(emb_pca_trace, _EMB_TRACE_SQL),
    "emb_pipeline_e2e": QueryDef(emb_pipeline_e2e, _EMB_PIPELINE_SQL),
    "ann_ivf_topk": QueryDef(ann_ivf_topk, _ANN_IVF_SQL),
    "ann_cosine_topk": QueryDef(ann_cosine_topk, _ANN_TOPK_SQL),
    "ann_blocked_topk": QueryDef(ann_blocked_topk, _ANN_BLOCKED_SQL),
    "emb_neardup_pairs": QueryDef(emb_neardup_pairs, _EMB_NEARDUP_SQL),
    "emb_norm_stats": QueryDef(emb_norm_stats, _EMB_NORM_SQL),
}
