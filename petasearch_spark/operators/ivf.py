"""IVF-style approximate nearest-neighbour search — the scale path for
similarity search (operators/similarity.py holds the brute-force baseline).

Classic IVF: partition vectors into buckets by nearest coarse centroid;
a query probes only the `nprobe` nearest buckets. Cost drops from
O(corpus) to O(corpus · nprobe / n_centroids) per query; on a cluster the
bucket assignment is one broadcast join (centroids are tiny) and the
probe is a co-partitioned equi-join on the centroid id — no all-pairs
shuffle anywhere.

Determinism for the oracle: centroids are the first `N_CENTROIDS`
vectors (a real deployment k-means-refines them — an iterative batch job
with the same plan shape), all arithmetic in doubles with sequential
folds, results rounded to 6 decimals; the DuckDB oracle runs the SAME
algorithm, so the (approximate) result sets match exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from petasearch_spark.functions.ordering import sort_via_exchange

from petasearch_spark.functions.localframe import literal_df

from petasearch_spark.storage import recover, source_fingerprint, staged_cache, swap_in

from petasearch_spark.session import cut_lineage

from petasearch_spark.operators.similarity import (
    ANN_FILTER_LABELS,
    FINITE_VEC_SQL,
    INDEX_DIM_SQL,
    admit_indexed,
    _as_double,
    cosine,
    cosine_pair_udf,
    nearest_centroid_udf,
)
from petasearch_spark.sources.tables import load_table

N_CENTROIDS = 16
NPROBE = 4
TOPK = 5
N_QUERIES = 10


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed cosine top-5 for query vectors (vec_id < 10)."""
    emb = admit_indexed(load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ))  # indexed-search admission rule (finite + dim clause)
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    # bucket assignment: nearest centroid via the Arrow matmul kernel —
    # one narrow map over the corpus, no crossJoin, no window shuffle
    # (the interpreted-HOF crossJoin form was the round-1 VERDICT's
    # flagged hotspot; rounded values are fold-order-identical, see
    # similarity.py kernel notes)
    nearest = nearest_centroid_udf([(r["cent_id"], r["cv"]) for r in cent.collect()])
    buckets = emb.select("vec_id", "v", nearest("v").alias("bucket"))
    # queries probe their NPROBE nearest centroids (10 × 16 rows — the
    # interpreted HOF is fine here and keeps the probe SQL-shaped)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qprobe = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", "cent_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cs"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("query_id").orderBy(F.desc("cs"), "cent_id")))
        .filter(F.col("rn") <= NPROBE)
        .select("query_id", "qv", F.col("cent_id").alias("bucket"))
    )
    # probe only the selected buckets (equi-join on bucket id); candidate
    # scoring through the pair kernel — this is the per-query hot path.
    # No dedup needed: every vector sits in exactly ONE bucket (nearest
    # centroid), so (query_id, vec_id) pairs are unique by construction —
    # a distinct here would add a full shuffle of the scored candidates
    # for nothing (round-2 VERDICT item 3). Revisit only if multi-probe
    # bucket overlap is ever introduced.
    cand = qprobe.join(buckets, "bucket").filter(F.col("vec_id") != F.col("query_id"))
    scored_c = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_pair_udf(F.col("qv"), F.col("v")).alias("cos"),
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored_c.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= TOPK)
        .orderBy("query_id", "rk")
    )


KMEANS_ITERS = 2


def _assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by rounded cosine via the Arrow matmul
    kernel (similarity.nearest_centroid_udf): a narrow map — the
    crossJoin + window shuffle of the interpreted-HOF form is gone. The
    16-row centroid collect is a scalar-class driver action (Lloyd
    iterations materialize the quantizer between rounds by nature)."""
    nearest = nearest_centroid_udf([(r["cent_id"], r["cv"]) for r in cent.collect()])
    return emb.select("vec_id", "v", nearest("v").alias("cent_id"))


def _recenter(assign: DataFrame) -> DataFrame:
    """New centroid = component-wise mean of assigned vectors. Sums run in
    DECIMAL so the mean is exact and engine-order-independent (float sums
    would differ between Spark's and DuckDB's reduction orders)."""
    comp = assign.select("cent_id", F.posexplode("v").alias("pos", "val"))
    means = comp.groupBy("cent_id", "pos").agg(
        (F.sum(F.col("val").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)))
        .alias("m")
    )
    return (
        means.groupBy("cent_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cent_id", F.transform("pm", lambda s: s["m"]).alias("cv"))
    )


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative-batch pattern: 2 Lloyd iterations refining the IVF
    coarse quantizer (assign -> decimal-exact recenter), then per-centroid
    population and a rounded component-sum checksum. Fixed iteration count
    -> a static lazily-composed plan; at scale each iteration is one
    broadcast join + one aggregation (checkpoint between iterations to cut
    lineage if you push iters higher)."""
    emb = admit_indexed(load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ))  # indexed-search admission rule (finite + dim clause)
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    for _ in range(KMEANS_ITERS):
        # persist: each round's centroids are read by the next assign AND
        # (for the last round) by the checksum branch — without it the
        # interpreted-HOF cosine join re-executes once per downstream branch
        cent = _recenter(_assign(emb, cent)).persist()
    final = _assign(emb, cent)
    return (
        final.groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
        .join(
            cent.select(
                "cent_id",
                F.round(
                    F.aggregate(F.transform("cv", lambda x: F.round(x, 6)), F.lit(0.0), lambda a, x: a + x), 6
                ).alias("checksum"),
            ),
            "cent_id",
        )
        .orderBy("cent_id")
    )


_COS = "ROUND(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"

DIM = 64  # driver embeddings are 64-dim at every SF

# --- product quantization (ADC) -----------------------------------------
PQ_M = 8  # subvectors per vector (64 dims -> 8 x 8-dim subspaces)
PQ_SUB = DIM // PQ_M
PQ_K = 16  # codewords per subspace -> 8 x 4 bits = 4 bytes/vector


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: each vector is compressed to PQ_M
    codebook indices (4 bytes here vs 256 bytes of float32 — the memory
    lever that lets a 100 TB embedding corpus live in RAM), queries score
    candidates with asymmetric distance computation (ADC): approx
    dot(q, v) = sum over subspaces of LUT[m][code_m(v)], where LUT[m] =
    dot(q_m, codebook_m) is 8x16 values computed once per query.

    Scale shape: encoding is one narrow Arrow map over the corpus
    (codebooks broadcast); scoring is another narrow map with the
    query LUTs broadcast — no shuffle until the final per-query top-k.
    Composes with the IVF coarse stage (probe buckets, then ADC-score
    only bucket members). Deterministic for the oracle: codebooks are
    the subvectors of the first PQ_K vectors (a deployment k-means-
    refines per subspace — same plan shape as ann_ivf_kmeans);
    distances/ties canonicalized like the rest of the family.
    """
    import numpy as np
    import pandas as pd

    emb = admit_indexed(load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ))  # indexed-search admission rule (finite + dim clause)
    cb_rows = (
        emb.filter(F.col("vec_id") < PQ_K).orderBy("vec_id").select("vec_id", "v").collect()
    )
    q_probe = emb.filter(F.col("vec_id") < N_QUERIES).count()
    k_eff = len(cb_rows)
    if k_eff == 0 or q_probe == 0:
        # degenerate corpus (empty, or no codebook/query vectors): the
        # honest answer is no neighbors, not a crash on a 0-d reshape
        return literal_df(spark, [], "query_id long, neighbor_id long, approx_dot double, rk int")
    # codebooks[m]: (k_eff, PQ_SUB) — subvector m of the first vectors.
    # A sub-PQ_K corpus trains on the codewords that EXIST, exactly like
    # the SQL oracle's enumeration (round-5 audit: the old < PQ_K guard
    # returned empty where the oracle returned full top-k rows — the KMV
    # sub-K rule applied to PQ)
    cbs = np.array([r["v"] for r in cb_rows], dtype=np.float64).reshape(k_eff, PQ_M, PQ_SUB)
    codebooks = np.ascontiguousarray(np.swapaxes(cbs, 0, 1))  # (PQ_M, PQ_K, PQ_SUB)
    q_rows = emb.filter(F.col("vec_id") < N_QUERIES).orderBy("vec_id").select("vec_id", "v").collect()
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qvs = np.array([r["v"] for r in q_rows], dtype=np.float64).reshape(len(qids), PQ_M, PQ_SUB)

    # All dot products below accumulate over the subspace dims with an
    # explicit s-ascending elementwise loop (separate mul + add, no BLAS):
    # bit-identical to the oracle's left-associative 8-term SQL
    # expressions — BLAS kernels may contract with FMA and break the
    # value-hash on ULPs.
    def _dot_s(a, b):  # a (..., PQ_SUB) x b (..., PQ_SUB) -> (...)
        acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
        for s in range(PQ_SUB):
            acc = acc + a[..., s] * b[..., s]
        return acc

    # LUT[q, m, j] = dot(q_m, codebook[m][j])
    lut = _dot_s(qvs[:, :, None, :], codebooks[None, :, :, :])

    def run(batches):
        for pdf in batches:
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if len(V) == 0:
                yield pd.DataFrame({"query_id": [], "neighbor_id": [], "approx_dot": []})
                continue
            P = len(V)
            sub = V.reshape(P, PQ_M, PQ_SUB)
            # encode: per subspace argmin L2 to the codewords (first-
            # occurrence tie rule). ||s-c||^2 = ||s||^2 - 2<s,c> + ||c||^2
            # (the ||s||^2 term is constant per (p,m) — dropped)
            dots = _dot_s(sub[:, :, None, :], codebooks[None, :, :, :])
            cnorm = _dot_s(codebooks, codebooks)
            codes = np.argmin(cnorm[None, :, :] - 2.0 * dots, axis=2)  # (P, PQ_M)
            # ADC: scores[q, p] = sum_m lut[q, m, codes[p, m]]
            scores_qp = np.zeros((len(qids), P))
            for m in range(PQ_M):
                scores_qp += lut[:, m, :][:, codes[:, m]]  # (Q, P)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame({
                "query_id": np.repeat(qids, P),
                "neighbor_id": np.tile(ids, len(qids)),
                "approx_dot": np.round(scores_qp.reshape(-1), 6),
            })

    scored = emb.mapInPandas(run, schema="query_id long, neighbor_id long, approx_dot double")
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w_top = Window.partitionBy("query_id").orderBy(F.desc("approx_dot"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= TOPK)
        .orderBy("query_id", "rk")
    )


def _kmeans_sql() -> str:
    s = f"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE {FINITE_VEC_SQL.format(v="embedding::DOUBLE[]")} AND len(embedding::DOUBLE[]) = {INDEX_DIM_SQL})
, cent0 AS (SELECT vec_id AS cent_id, v AS cv FROM emb WHERE vec_id < {N_CENTROIDS})"""
    prev = "cent0"
    for it in range(1, KMEANS_ITERS + 1):
        s += f"""
, assign{it} AS (
    SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
        FROM emb e CROSS JOIN {prev} c
    ) WHERE rn = 1
)
, cent{it} AS (
    SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
        SELECT cent_id, pos,
               CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        -- positions from the DATA (zipped same-length UNNESTs), not the
        -- DIM constant: a hardcoded range(1, DIM+1) NULL-padded the
        -- centroids for any corpus whose vectors are not exactly
        -- DIM-dim — the enumeration-cap law again (round-6 fuzz)
        FROM (SELECT cent_id, UNNEST(range(1, len(v) + 1)) AS pos, UNNEST(v) AS val
              FROM assign{it})
        GROUP BY cent_id, pos)
    GROUP BY cent_id
)"""
        prev = f"cent{it}"
    s += f"""
, fin AS (
    SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
        FROM emb e CROSS JOIN {prev} c
    ) WHERE rn = 1
)
SELECT f.cent_id, COUNT(*) AS n_assigned, ANY_VALUE(c.checksum) AS checksum
FROM fin f
JOIN (SELECT cent_id, ROUND(list_sum(list_transform(cv, x -> ROUND(x, 6))), 6) AS checksum FROM {prev}) c
  ON c.cent_id = f.cent_id
GROUP BY f.cent_id
ORDER BY f.cent_id
"""
    return s


ANN_IVF_KMEANS_SQL = _kmeans_sql()

def _pq_sql() -> str:
    """ADC product-quantization oracle. Every dot product is an explicit
    left-associative 8-term expression and the final ADC sum is a pivoted
    m0+..+m7 fold, matching the engine kernel's fixed accumulation order
    exactly (no SUM() over rows anywhere floats are involved)."""
    def dot_expr(a: str, b: str) -> str:
        return " + ".join(f"{a}{s} * {b}{s}" for s in range(1, PQ_SUB + 1))

    sub_cols = lambda src, pfx: ", ".join(  # noqa: E731
        f"{src}[r.m * {PQ_SUB} + {s}] AS {pfx}{s}" for s in range(1, PQ_SUB + 1)
    )
    pivot = ", ".join(f"MAX(CASE WHEN m = {m} THEN val END) AS m{m}" for m in range(PQ_M))
    fold = " + ".join(f"m{m}" for m in range(PQ_M))
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE {FINITE_VEC_SQL.format(v="embedding::DOUBLE[]")} AND len(embedding::DOUBLE[]) = {INDEX_DIM_SQL})
, cb AS (
    SELECT r.m, e.vec_id AS j, {sub_cols('e.v', 'c')}
    FROM emb e, range(0, {PQ_M}) r(m) WHERE e.vec_id < {PQ_K}
)
, cnorm AS (SELECT m, j, {dot_expr('c', 'c')} AS nrm FROM cb)
, sub AS (
    SELECT e.vec_id, r.m, {sub_cols('e.v', 's')}
    FROM emb e, range(0, {PQ_M}) r(m)
)
, enc AS (
    SELECT vec_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, c.j,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY cn.nrm - 2 * ({dot_expr('s.s', 'c.c')}) ASC, c.j ASC
               ) AS rn
        FROM sub s
        JOIN cb c ON c.m = s.m
        JOIN cnorm cn ON cn.m = c.m AND cn.j = c.j
    ) WHERE rn = 1
)
, qsub AS (
    SELECT e.vec_id AS query_id, r.m, {sub_cols('e.v', 's')}
    FROM emb e, range(0, {PQ_M}) r(m) WHERE e.vec_id < {N_QUERIES}
)
, lut AS (
    SELECT qs.query_id, qs.m, c.j, {dot_expr('qs.s', 'c.c')} AS val
    FROM qsub qs JOIN cb c ON c.m = qs.m
)
, contrib AS (
    SELECT l.query_id, e.vec_id AS neighbor_id, e.m, l.val
    FROM enc e JOIN lut l ON l.m = e.m AND l.j = e.code
)
, scored AS (
    SELECT query_id, neighbor_id, ROUND({fold}, 6) AS approx_dot
    FROM (SELECT query_id, neighbor_id, {pivot}
          FROM contrib GROUP BY query_id, neighbor_id)
    WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, approx_dot, rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY approx_dot DESC, neighbor_id) AS rk
      FROM scored)
WHERE rk <= {TOPK}
ORDER BY query_id, rk
"""


ANN_PQ_TOPK_SQL = _pq_sql()

ANN_IVF_TOPK_SQL = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE {FINITE_VEC_SQL.format(v="embedding::DOUBLE[]")} AND len(embedding::DOUBLE[]) = {INDEX_DIM_SQL})
, cent AS (SELECT vec_id AS cent_id, v AS cv FROM emb WHERE vec_id < {N_CENTROIDS})
, assign AS (
    SELECT vec_id, v, cent_id AS bucket FROM (
        SELECT e.vec_id, e.v, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
        FROM emb e CROSS JOIN cent c
    ) WHERE rn = 1
)
, q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES})
, qprobe AS (
    SELECT query_id, qv, cent_id AS bucket FROM (
        SELECT q.query_id, q.qv, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cv")} DESC, c.cent_id) AS rn
        FROM q CROSS JOIN cent c
    ) WHERE rn <= {NPROBE}
)
, cand AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
           {_COS.format(a="p.qv", b="a.v")} AS cos
    FROM qprobe p JOIN assign a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM cand)
WHERE rk <= {TOPK}
ORDER BY query_id, rk
"""


# --- IVF-PQ (coarse quantizer + PQ residual codes, ADC scoring) ----------


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the canonical billion-scale ANN layout (FAISS IVFADC).
    Vectors are assigned to a coarse centroid bucket; only the RESIDUAL
    (v - centroid) is PQ-encoded (4 bytes/vector); a query probes its
    NPROBE nearest buckets and scores candidates as

        approx_dot(q, v) = dot(q, c_bucket) + sum_m LUT[m][code_m]

    — exact decomposition dot(q, c + r) with the residual part read from
    an 8x16 lookup table built once per query — then RE-RANKS the ADC
    top-RERANK_R candidates with the exact rounded cosine (the FAISS
    "refine" stage: full vectors are touched for only R rows per query,
    so the 4-byte codes keep their memory economics while the final
    ranking recovers most of the lost quality — measured recall@5 climbs
    from 0.14 raw-ADC to 0.72-0.78 (sf0.01/sf0.001), against the 0.94
    ceiling set by nprobe bucket pruning alone; tests/test_pq.py pins the
    floor).

    Scale shape: one fused narrow corpus map (assign+encode+ADC) with
    centroids, codebooks, per-(query,bucket) offsets and LUTs all
    broadcast as numpy constants; the ADC top-R cut is a per-query
    window over candidate rows; the refine fetch probes the corpus with
    the R×Q candidate ids broadcast (no corpus shuffle, no pair join
    anywhere). At 100 TB the probe cost is
    O(corpus · nprobe / n_centroids) rows of pure arithmetic.

    Determinism (value-hash oracle): assignment/probing use the rounded
    sequential-fold cosine rule shared with ann_ivf_topk; codebooks are
    the residual subvectors of the first PQ_K vectors under that same
    assignment; every dot product is a fixed-order elementwise fold
    mirrored by left-associative explicit SQL expressions, and the final
    sum adds the bucket offset AFTER the m-ascending ADC fold (the SQL
    parenthesizes identically).
    """
    import numpy as np
    import pandas as pd

    from petasearch_spark.operators.similarity import (
        _round_half_up6,
        _seq_dot_norms,
    )

    emb = admit_indexed(load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ))  # indexed-search admission rule (finite + dim clause)
    cent_rows = sorted(
        (
            (r["vec_id"], list(r["v"]))
            for r in emb.filter(F.col("vec_id") < N_CENTROIDS).collect()
        ),
        key=lambda t: t[0],
    )
    C = np.array([cv for _, cv in cent_rows], dtype=np.float64)  # ids 0..15
    if C.size == 0:
        # empty corpus: no coarse quantizer to train — empty answer
        return spark.createDataFrame([], "query_id long, neighbor_id long, cos double, rk int")
    cn = np.sqrt(np.array([sum(c * c for c in row) for row in C]))

    def assign_buckets(V: np.ndarray) -> np.ndarray:
        from petasearch_spark.operators.similarity import _mask_zero_norm

        acc, xsq = _seq_dot_norms(V, C)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = _round_half_up6(acc / (np.sqrt(xsq)[:, None] * cn[None, :]))
        # zero-norm cells are SQL-NULL (never win); true NaN wins argmax
        # like the engines' NaN-first DESC rank (round-5 audit)
        return np.argmax(_mask_zero_norm(cos, xsq, cn), axis=1)

    def _dot_s(a, b):  # fixed-order fold over the last axis
        acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
        for s in range(a.shape[-1]):
            acc = acc + a[..., s] * b[..., s]
        return acc

    # codebooks: residual subvectors of the first PQ_K vectors
    first = sorted(
        ((r["vec_id"], list(r["v"])) for r in emb.filter(F.col("vec_id") < PQ_K).collect()),
        key=lambda t: t[0],
    )
    FV = np.array([v for _, v in first], dtype=np.float64)
    k_eff = len(first)
    if k_eff == 0:
        return spark.createDataFrame([], "query_id long, neighbor_id long, cos double, rk int")
    # sub-PQ_K corpora train on the codewords that EXIST, matching the
    # SQL oracle's enumeration (round-5 audit — the KMV sub-K rule)
    fres = FV - C[assign_buckets(FV)]
    codebooks = np.ascontiguousarray(
        np.swapaxes(fres.reshape(k_eff, PQ_M, PQ_SUB), 0, 1)
    )  # (PQ_M, k_eff, PQ_SUB)
    cnorm = _dot_s(codebooks, codebooks)  # (PQ_M, PQ_K)

    # queries: probe sets, per-(query,bucket) offsets, residual LUTs
    q_rows = sorted(
        ((r["vec_id"], list(r["v"])) for r in emb.filter(F.col("vec_id") < N_QUERIES).collect()),
        key=lambda t: t[0],
    )
    qids = np.array([i for i, _ in q_rows], dtype=np.int64)
    QV = np.array([v for _, v in q_rows], dtype=np.float64)
    qacc, qsq = _seq_dot_norms(QV, C)
    with np.errstate(invalid="ignore", divide="ignore"):
        qcos = _round_half_up6(qacc / (np.sqrt(qsq)[:, None] * cn[None, :]))
    # probe ordering must mirror both engines' composite rank: zero-norm
    # similarities are SQL-NULL (rank LAST under DESC) and true NaN ranks
    # FIRST — but np.lexsort on -qcos would put NaN LAST; pin the tiers
    # explicitly (-inf / finite / +inf; ties fall to cent_id ascending on
    # every side — round-5 audit)
    from petasearch_spark.operators.similarity import _mask_zero_norm

    qcos = _mask_zero_norm(qcos, qsq, cn)
    qcos = np.where(np.isnan(qcos), np.inf, qcos)
    cent_ids = np.arange(N_CENTROIDS)
    probes = np.stack(
        [np.lexsort((cent_ids, -qcos[qi]))[:NPROBE] for qi in range(len(qids))]
    )  # (Q, NPROBE) bucket ids
    offsets = _dot_s(QV[:, None, :], C[None, :, :])  # (Q, N_CENTROIDS) dot(q, c_b)
    lut = _dot_s(
        QV.reshape(len(qids), PQ_M, 1, PQ_SUB), codebooks[None, :, :, :]
    )  # (Q, PQ_M, PQ_K)
    probe_mask = np.zeros((len(qids), N_CENTROIDS), dtype=bool)
    for qi in range(len(qids)):
        probe_mask[qi, probes[qi]] = True

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"query_id": [], "neighbor_id": [], "approx_dot": []})
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            b = assign_buckets(V)
            res = (V - C[b]).reshape(len(V), PQ_M, PQ_SUB)
            dots = _dot_s(res[:, :, None, :], codebooks[None, :, :, :])
            codes = np.argmin(cnorm[None, :, :] - 2.0 * dots, axis=2)  # (P, PQ_M)
            adc = np.zeros((len(qids), len(V)))
            for m in range(PQ_M):
                adc += lut[:, m, :][:, codes[:, m]]
            total = offsets[:, b] + adc  # offset AFTER the full ADC fold
            qi_idx, p_idx = np.nonzero(probe_mask[:, b] & (qids[:, None] != ids[None, :]))
            yield pd.DataFrame(
                {
                    "query_id": qids[qi_idx],
                    "neighbor_id": ids[p_idx],
                    "approx_dot": np.round(total[qi_idx, p_idx], 6),
                }
            )

    scored = emb.mapInPandas(run, schema="query_id long, neighbor_id long, approx_dot double")
    # refine: exact rounded cosine over the ADC top-R only
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("approx_dot"), "neighbor_id")
    adc_top = (
        scored.withColumn("rn_adc", F.row_number().over(w_adc))
        .filter(F.col("rn_adc") <= RERANK_R)
        .select("query_id", "neighbor_id")
    )
    fetch = emb.select(F.col("vec_id").alias("neighbor_id"), "v").join(
        F.broadcast(adc_top), "neighbor_id"
    )
    qdf = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    rer = fetch.join(F.broadcast(qdf), "query_id").select(
        "query_id",
        "neighbor_id",
        cosine_pair_udf(F.col("qv"), F.col("v")).alias("cos"),
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        rer.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= TOPK)
        .orderBy("query_id", "rk")
    )


RERANK_R = 25  # exact-rerank pool per query (FAISS refine factor 5x top-k)


def _ivfpq_sql() -> str:
    """IVF-PQ oracle: the same assignment/probe CTEs as ANN_IVF_TOPK_SQL,
    residual PQ encode/LUT in the explicit left-associative style of
    ANN_PQ_TOPK_SQL, and the final score parenthesized offset + (ADC
    fold) to match the kernel's accumulation order."""

    def dot_expr(a: str, b: str) -> str:
        return " + ".join(f"{a}{s} * {b}{s}" for s in range(1, PQ_SUB + 1))

    res_cols = ", ".join(
        f"(a.v[r.m * {PQ_SUB} + {s}] - c.cv[r.m * {PQ_SUB} + {s}]) AS s{s}"
        for s in range(1, PQ_SUB + 1)
    )
    q_cols = ", ".join(f"e.v[r.m * {PQ_SUB} + {s}] AS s{s}" for s in range(1, PQ_SUB + 1))
    off_expr = " + ".join(f"q.qv[{i}] * c.cv[{i}]" for i in range(1, DIM + 1))
    pivot = ", ".join(f"MAX(CASE WHEN m = {m} THEN val END) AS m{m}" for m in range(PQ_M))
    fold = " + ".join(f"m{m}" for m in range(PQ_M))
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE {FINITE_VEC_SQL.format(v="embedding::DOUBLE[]")} AND len(embedding::DOUBLE[]) = {INDEX_DIM_SQL})
, cent AS (SELECT vec_id AS cent_id, v AS cv FROM emb WHERE vec_id < {N_CENTROIDS})
, assign AS (
    SELECT vec_id, v, cent_id AS bucket FROM (
        SELECT e.vec_id, e.v, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
        FROM emb e CROSS JOIN cent c
    ) WHERE rn = 1
)
, res AS (
    SELECT a.vec_id, r.m, {res_cols}
    FROM assign a JOIN cent c ON c.cent_id = a.bucket, range(0, {PQ_M}) r(m)
)
, cb AS (
    SELECT m, vec_id AS j, {", ".join(f"s{s} AS c{s}" for s in range(1, PQ_SUB + 1))}
    FROM res WHERE vec_id < {PQ_K}
)
, cnorm AS (SELECT m, j, {dot_expr("c", "c")} AS nrm FROM cb)
, enc AS (
    SELECT vec_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, c.j,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY cn.nrm - 2 * ({dot_expr("s.s", "c.c")}) ASC, c.j ASC
               ) AS rn
        FROM res s
        JOIN cb c ON c.m = s.m
        JOIN cnorm cn ON cn.m = c.m AND cn.j = c.j
    ) WHERE rn = 1
)
, q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES})
, qsub AS (
    SELECT e.vec_id AS query_id, r.m, {q_cols}
    FROM emb e, range(0, {PQ_M}) r(m) WHERE e.vec_id < {N_QUERIES}
)
, lut AS (
    SELECT qs.query_id, qs.m, c.j, {dot_expr("qs.s", "c.c")} AS val
    FROM qsub qs JOIN cb c ON c.m = qs.m
)
, qprobe AS (
    SELECT query_id, bucket, off FROM (
        SELECT q.query_id, c.cent_id AS bucket, {off_expr} AS off,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cv")} DESC, c.cent_id) AS rn
        FROM q CROSS JOIN cent c
    ) WHERE rn <= {NPROBE}
)
, cand AS (
    SELECT p.query_id, p.off, a.vec_id AS neighbor_id
    FROM qprobe p JOIN assign a ON a.bucket = p.bucket
    WHERE a.vec_id <> p.query_id
)
, contrib AS (
    SELECT c.query_id, c.off, c.neighbor_id, e.m, l.val
    FROM cand c
    JOIN enc e ON e.vec_id = c.neighbor_id
    JOIN lut l ON l.query_id = c.query_id AND l.m = e.m AND l.j = e.code
)
, scored AS (
    SELECT query_id, neighbor_id, ROUND(off + ({fold}), 6) AS approx_dot
    FROM (SELECT query_id, off, neighbor_id, {pivot}
          FROM contrib GROUP BY query_id, off, neighbor_id)
)
, adc_top AS (
    SELECT query_id, neighbor_id
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY approx_dot DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {RERANK_R}
)
, rer AS (
    SELECT t.query_id, t.neighbor_id,
           {_COS.format(a="q.qv", b="e.v")} AS cos
    FROM adc_top t
    JOIN emb e ON e.vec_id = t.neighbor_id
    JOIN q ON q.query_id = t.query_id
)
SELECT query_id, neighbor_id, cos, rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM rer)
WHERE rk <= {TOPK}
ORDER BY query_id, rk
"""


ANN_IVFPQ_TOPK_SQL = _ivfpq_sql()


# --- SemDeDup: centroid-bucketed semantic near-duplicate removal ---------

#: same τ as the brute-force baseline (similarity.NEARDUP_COS) so recall
#: vs the exact all-pairs set is directly measurable in tests
SEMDEDUP_COS = 0.4


def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings
    with a coarse quantizer, then search for semantic duplicates ONLY
    within each cluster — the standard way to make embedding-space dedup
    tractable at corpus scale. Output: one row per vector with its
    cluster, the id of the retained duplicate it folds into (`dup_of` =
    smallest same-cluster vec_id with rounded cosine >= τ, NULL if none)
    and a 0/1 `keep` verdict.

    Spark plan: assignment is ONE narrow Arrow map over the corpus (the
    nearest-centroid kernel; centroids broadcast via closure), then ONE
    shuffle on cent_id into an applyInPandas kernel that computes the
    cluster's pairwise cosine matrix with a sequential-fold gram product
    (fold order + HALF_UP rounding identical to the DuckDB oracle's
    list_dot_product, similarity.py kernel notes). At 100 TB the all-pairs
    cost is bounded at O(n²/K) and each task holds one cluster: scale K
    with the corpus (FAISS-style K ≈ √n) so clusters stay executor-sized;
    parallelism equals K, so a 1000-executor run wants K in the tens of
    thousands — the quantizer stays a broadcast (K·D doubles). The exact
    brute-force twin is operators/similarity.embedding_neardup; the
    recall given up by clustering is measured in tests/test_pq.py."""
    emb = admit_indexed(load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ))  # indexed-search admission rule (finite + dim clause)
    return semdedup_frame(emb, n_centroids=N_CENTROIDS)


def semdedup_frame(
    emb: DataFrame, n_centroids: int = N_CENTROIDS, threshold: float = SEMDEDUP_COS
) -> DataFrame:
    """Core of :func:`semdedup_clusters` over a ``(vec_id, v)`` frame —
    parameterized so scale smokes can raise K with the corpus (K ≈ √n)."""
    import numpy as np
    import pandas as pd

    from petasearch_spark.operators.similarity import _round_half_up6, _seq_dot_norms

    cent = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    nearest = nearest_centroid_udf([(r["cent_id"], r["cv"]) for r in cent.collect()])
    assign = emb.select("vec_id", "v", nearest("v").alias("cent_id"))

    def cluster_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.array(pdf["v"].to_numpy()[order].tolist(), dtype=np.float64)
        acc, xsq = _seq_dot_norms(X, X)
        nrm = np.sqrt(xsq)
        cos = _round_half_up6(acc / np.outer(nrm, nrm))
        hit = cos >= threshold
        # dup_of[j] = smallest i<j with a hit; ids are sorted so the first
        # True row index below the diagonal is the minimum id
        dup_of = np.full(len(ids), -1, dtype=np.int64)
        for j in range(1, len(ids)):
            below = np.nonzero(hit[:j, j])[0]
            if len(below):
                dup_of[j] = ids[below[0]]
        out = pd.DataFrame(
            {
                "vec_id": ids,
                "cent_id": pdf["cent_id"].to_numpy()[order],
                "dup_of": dup_of,
                "keep": (dup_of < 0).astype("int32"),
            }
        )
        out["dup_of"] = out["dup_of"].astype("object").where(out["dup_of"] >= 0, None)
        return out

    # sort_via_exchange: the O(n²/K) cluster_pass kernel must not re-run
    # for the final sort's RangePartitioner sampling (functions/ordering.py)
    return sort_via_exchange(
        assign.groupBy("cent_id")
        .applyInPandas(cluster_pass, schema="vec_id long, cent_id long, dup_of long, keep int"),
        "vec_id",
    )


SEMDEDUP_CLUSTERS_SQL = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE {FINITE_VEC_SQL.format(v="embedding::DOUBLE[]")} AND len(embedding::DOUBLE[]) = {INDEX_DIM_SQL})
, cent AS (SELECT vec_id AS cent_id, v AS cv FROM emb WHERE vec_id < {N_CENTROIDS})
, assign AS (
    SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
        FROM emb e CROSS JOIN cent c
    ) WHERE rn = 1
)
, dup AS (
    SELECT b.vec_id, MIN(a.vec_id) AS dup_of
    FROM assign a JOIN assign b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE {_COS.format(a="a.v", b="b.v")} >= {SEMDEDUP_COS}
    GROUP BY b.vec_id
)
SELECT s.vec_id, s.cent_id, d.dup_of,
       CAST(d.dup_of IS NULL AS INT) AS keep
FROM assign s LEFT JOIN dup d USING (vec_id)
ORDER BY s.vec_id
"""


# ---------------------------------------------------------------------------
# Incremental IVF maintenance: append-only vector ingestion into a
# partitioned index layout (the third leg of the incremental triad next
# to kmer_index.merge_kmer_index_delta and dedup.merge_dedup_ledger).
# ---------------------------------------------------------------------------


def write_ivf_index(
    emb: DataFrame, path: str, centroids: list, extra_cols: tuple = ()
) -> None:
    """Materialize an IVF index: vectors assigned to their nearest coarse
    centroid (broadcast Arrow kernel — no shuffle) and written
    PARTITIONED BY bucket, so a probe's nprobe bucket selection becomes
    parquet partition pruning (the IVF promise pushed into the storage
    layout: a query physically reads nprobe/len(centroids) of the index).

    `centroids` = collected (cent_id, vector) rows — the trained coarse
    quantizer (tiny by construction). `extra_cols` carries filterable
    payload attributes (e.g. `label`) INTO the index files, the
    production filtered-ANN layout: a probe-time predicate on them is an
    ordinary parquet PushedFilter inside the pruned bucket directories
    instead of a join back to the source table."""
    from petasearch_spark.operators.similarity import nearest_centroid_udf

    nearest = nearest_centroid_udf(centroids)
    emb.select("vec_id", "v", *extra_cols, nearest("v").alias("bucket")).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)


def merge_ivf_index_delta(spark: SparkSession, path: str, delta_emb: DataFrame, centroids: list) -> None:
    """Fold newly-arrived vectors into an existing IVF index with ZERO
    base work: assignment uses the SAME frozen coarse quantizer (FAISS
    `add()` semantics — adding never retrains; periodic re-clustering is
    recluster_ivf_index), and because vector ingest is append-only
    (ids are unique, there is no collision rule to resolve), the merge
    is a partitioned APPEND — new files land inside the affected bucket
    directories and the base index's files are never read, moved or
    rewritten. Cost is proportional to the DELTA alone; contrast
    merge_kmer_index_delta, whose representative rule forces a
    bucket-local full-outer join.

    Payload columns (write_ivf_index's ``extra_cols``, e.g. ``label``)
    are discovered from the BASE index's schema (one footer read) and
    must all be present on the delta — appending a delta without the
    base's label column would land NULL-labeled rows that every
    filtered probe silently excludes, recall loss with no error
    (round-5 review finding); fail loudly instead."""
    from petasearch_spark.operators.similarity import nearest_centroid_udf

    if not os.path.exists(path):
        # a recluster killed inside its swap leaves no index at path;
        # recover it here instead of failing until the NEXT recluster
        # call (round-5 ADVICE)
        recover(path)
    payload = tuple(
        c for c in spark.read.parquet(path).columns if c not in ("vec_id", "v", "bucket")
    )
    missing = [c for c in payload if c not in delta_emb.columns]
    if missing:
        raise ValueError(
            f"merge_ivf_index_delta: delta is missing the base index's payload "
            f"column(s) {missing}; appended rows would be NULL there and "
            f"silently excluded by filtered probes"
        )
    nearest = nearest_centroid_udf(centroids)
    delta_emb.select("vec_id", "v", *payload, nearest("v").alias("bucket")).write.mode(
        "append"
    ).partitionBy("bucket").parquet(path)


def probe_ivf_index(spark: SparkSession, path: str, queries: DataFrame, centroids: list,
                    nprobe: int = NPROBE, topk: int = TOPK,
                    scan_filter=None,
                    _persisted: list | None = None) -> DataFrame:
    """Top-k cosine search against a materialized IVF index. The nprobe
    bucket ids per query come from the broadcast quantizer; the scan
    filter `bucket IN (...)` prunes to those partition DIRECTORIES —
    at deployment the executor never opens a file outside the probed
    buckets.

    ID-space assumption: queries drawn FROM the indexed corpus share its
    vec_id space, and the `vec_id != query_id` filter drops the trivial
    self-hit (the FAISS convention for corpus-internal probes). Queries
    from an EXTERNAL id space must not collide with corpus ids, or a
    legitimate neighbor is silently dropped — offset external query ids
    (e.g. negative) before probing (round-3 ADVICE).

    `scan_filter`: optional Column predicate over the index's payload
    columns (see write_ivf_index's `extra_cols`), applied directly to
    the index SCAN so it composes with the bucket partition pruning as
    a parquet PushedFilter — exact pre-filtering, never a recall-losing
    post-filter (the same argument as similarity.ann_filtered_topk, at
    the materialized-index layer).

    `_persisted`: optional list the internal probe-assignment persist()
    is appended to, so per-batch callers (the streaming probe) can
    release exactly this cache after materializing — instead of a
    session-wide clearCache that would evict caller state."""
    from petasearch_spark.operators.similarity import cosine, cosine_pair_udf

    if not os.path.exists(path):
        # cheap happy-path stat; see merge_ivf_index_delta — a probe
        # must not fail inside recluster's swap window (round-5 ADVICE)
        recover(path)
    # createDataFrame, NOT literal_df: N_CENTROIDS x dim doubles embedded
    # as literal struct-array expressions bloat Catalyst analysis/codegen
    # of every probe plan (~2.5x on the filtered probe, round-10 VERDICT
    # item 2). Vector frames are outside literal_df's scalar-only scope;
    # a single tiny Python-RDD scan on the broadcast build side is cheap.
    cent = spark.createDataFrame(
        [(int(c), list(map(float, v))) for c, v in centroids],
        "cent_id long, cv array<double>",
    )
    qprobe = (
        queries.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", "cent_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cs"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("query_id").orderBy(F.desc("cs"), "cent_id"))
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", F.col("cent_id").alias("bucket"))
        # persisted: the probe assignment feeds BOTH the bucket-pruning
        # collect and the candidate join — without this the crossJoin +
        # window lineage runs twice (round-3 ADVICE)
        .persist()
    )
    if _persisted is not None:
        _persisted.append(qprobe)
    probed = [r["bucket"] for r in qprobe.select("bucket").distinct().collect()]
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(probed))
    if scan_filter is not None:
        idx = idx.filter(scan_filter)
    cand = qprobe.join(idx, "bucket").filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_pair_udf(F.col("qv"), F.col("v")).alias("cos"),
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= topk)
        .orderBy("query_id", "rk")
    )


def ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED search against the MATERIALIZED IVF index — the
    production filtered-ANN shape at scale: the corpus lives as a
    bucket-partitioned parquet index that also CARRIES the filterable
    ``label`` attribute (write_ivf_index ``extra_cols``), and a probe
    composes nprobe partition-directory pruning with an ordinary
    parquet PushedFilter on the label INSIDE those directories. The
    executor never opens a file outside the probed buckets, and within
    them row groups failing the label predicate are skipped by parquet
    statistics — exact pre-filtering with no recall loss and no join
    back to the source table (combines similarity.ann_filtered_topk's
    predicate-placement argument with probe_ivf_index; round-4 VERDICT
    item 8). Quantizer, queries, ranking = ann_ivf_topk exactly.
    """
    import tempfile

    emb = admit_indexed(load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    ))  # indexed-search admission rule (finite + dim clause)
    cent_rows = [
        (r["vec_id"], r["v"])
        for r in emb.filter(F.col("vec_id") < N_CENTROIDS).select("vec_id", "v").collect()
    ]
    if not cent_rows:
        return literal_df(
            spark, [], "query_id long, neighbor_id long, cos double, rk int"
        )
    # labeled-index cache: keyed on source content + quantizer size +
    # the payload schema marker, same invalidation law as the streaming
    # index (a changed N_CENTROIDS must rebuild — round-4 review finding)
    fp = source_fingerprint(
        os.path.join(sf_dir, "embeddings.parquet"), f"nc={N_CENTROIDS}", "payload=label|fin=1"
    )
    idx_path = staged_cache(
        os.path.join(tempfile.gettempdir(), f"ps_ivf_lbl_idx_{fp}"),
        lambda tmp: write_ivf_index(emb, tmp, cent_rows, extra_cols=("label",)),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    persisted: list = []
    out = probe_ivf_index(
        spark,
        idx_path,
        q,
        cent_rows,
        scan_filter=F.col("label").isin(*ANN_FILTER_LABELS),
        _persisted=persisted,
    )
    out = cut_lineage(out)
    for p in persisted:
        p.unpersist()
    return out


ANN_IVF_FILTERED_TOPK_SQL = f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE {FINITE_VEC_SQL.format(v="embedding::DOUBLE[]")} AND len(embedding::DOUBLE[]) = {INDEX_DIM_SQL})
, cent AS (SELECT vec_id AS cent_id, v AS cv FROM emb WHERE vec_id < {N_CENTROIDS})
, assign AS (
    SELECT vec_id, label, v, cent_id AS bucket FROM (
        SELECT e.vec_id, e.label, e.v, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
        FROM emb e CROSS JOIN cent c
    ) WHERE rn = 1
)
, q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES})
, qprobe AS (
    SELECT query_id, qv, cent_id AS bucket FROM (
        SELECT q.query_id, q.qv, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS.format(a="q.qv", b="c.cv")} DESC, c.cent_id) AS rn
        FROM q CROSS JOIN cent c
    ) WHERE rn <= {NPROBE}
)
, cand AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
           {_COS.format(a="p.qv", b="a.v")} AS cos
    FROM qprobe p JOIN assign a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
    WHERE a.label IN {ANN_FILTER_LABELS}
)
SELECT query_id, neighbor_id, cos, rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM cand)
WHERE rk <= {TOPK}
ORDER BY query_id, rk
"""


def recluster_ivf_index(
    spark: SparkSession, path: str, iters: int = KMEANS_ITERS
) -> list:
    """Periodic IVF re-clustering — the maintenance job the append-only
    merge defers (merge_ivf_index_delta freezes the coarse quantizer à la
    FAISS add(); after enough drift the buckets skew and nprobe recall
    decays, so production stores re-train and rewrite on a schedule).
    Completes the index lifecycle: write -> merge delta -> probe (batch /
    stream / filtered) -> RECLUSTER.

    Seeding needs no external quantizer: the CURRENT buckets are the
    clusters, so round 0's centroids are the per-bucket decimal-exact
    means (_recenter over the stored assignment), followed by ``iters``
    Lloyd iterations (cosine assign via the Arrow kernel -> decimal-exact
    recenter, the same plan shape as the registered ann_ivf_kmeans — one
    broadcast join + one aggregation per round; cells that lose all
    members are dropped, as FAISS does). The index is then REWRITTEN
    partitioned by the refined buckets and swapped in (storage.swap_in; a
    real deployment would commit through a table format, and the brief
    swap window is the /tmp-index trade-off). Payload columns (e.g. ``label``
    from write_ivf_index's extra_cols) ride through the rewrite, so
    filtered probes keep working. Returns the refined (cent_id, vector)
    rows — the new quantizer every subsequent probe/merge must use; the
    collect is bounded by the centroid count.
    """
    recover(path)
    stored = spark.read.parquet(path)
    payload = tuple(c for c in stored.columns if c not in ("vec_id", "v", "bucket"))
    vecs = stored.select("vec_id", "v", *payload)
    kept: list = []
    cent = _recenter(stored.select("vec_id", "v", F.col("bucket").alias("cent_id")))
    try:
        cent = cent.persist()
        kept.append(cent)
        for _ in range(iters):
            cent = _recenter(_assign(vecs.select("vec_id", "v"), cent)).persist()
            kept.append(cent)
        # sorted: the returned quantizer's ORDER is part of its identity
        # (assignment tie-breaks by centroid id), and collect order is
        # arbitrary
        cent_rows = sorted(
            (int(r["cent_id"]), list(map(float, r["cv"]))) for r in cent.collect()
        )
        swap_in(path, lambda tmp: write_ivf_index(vecs, tmp, cent_rows, extra_cols=payload))
    finally:
        for c in kept:
            c.unpersist()
    return cent_rows
