"""Product-quantization (PQ) approximate nearest neighbor — the
MEMORY-compression scale path for billion-vector search (FAISS "PQx"
re-expressed on DataFrames), complementing `ivf.py`'s cell-pruning
(which cuts vectors *touched*) and `q_vec_quantize`'s scalar int8
(which cuts bytes 4×): PQ splits each 64-dim vector into M=8
contiguous 8-dim subvectors and replaces every subvector with the id
of its nearest centroid from a per-subspace 16-entry codebook — 8
codes ≈ 4 bytes per vector vs 256 bytes of float32, a 64× compression
that is what actually lets 10¹⁰ vectors sit in cluster RAM.

Search uses asymmetric distance computation (ADC): the query stays
un-quantized; per query one M×K lookup table of subspace distances is
computed once, and a candidate's approximate squared-L2 distance is
just the sum of M table lookups on its codes — no float vector is ever
read at query time. Corpus vectors are unit-norm (fixture property,
asserted upstream), so squared L2 = 2 − 2·cos is rank-equivalent to
cosine and the recall audit can use the exact cosine top-k as truth.

Codebook training is the same bounded-sample deterministic Lloyd loop
as the IVF coarse quantizer (`ivf.kmeans_centroids`), run once per
subspace on sliced subvectors — M · K · d_sub doubles of driver state,
corpus-size-independent. Encoding is one Arrow-batched pandas UDF (an
(n × K) distance matrix per subspace per batch; ties argmin → lowest
code id, deterministic). Search mirrors `q_sim_knn_blas`'s shape: the
tiny query LUT tensor rides a torrent broadcast, candidates stream
through mapInPandas emitting per-batch local top-R per query, and the
global window ranks |batches|·nq·R rows — never |corpus|·nq. The ADC
shortlist (R = 8k ids per query, corpus-independent) then joins back
to the float table and the final top-k is ranked by EXACT cosine —
the standard PQ refinement pass, which doubles recall on this
clusterless fixture (0.24 → 0.64 @ sf0.01) while still only ever
reading R·nq float vectors at query time.

Determinism: fixed subspace layout, fixed training sample and
iteration count, stable argmins. Reproducible run-to-run but (like
IVF/LSH) recall < 1 has no SQL oracle → rows-only key with an
oracle-backed recall-audit companion (`q_sim_pq_audit`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register
from .ivf import TRAIN_CAP, quant_key, quant_memo
from .similarity import (
    _KNN_ORACLE,
    TOP_K,
    _batch_top_k,
    _cosine,
    _probe_block,
    _recall_audit,
    _top_k_cosine,
    q_sim_knn_exact,
)

M_SUB = 8  #: subspaces
K_CODES = 16  #: centroids per subspace codebook
PQ_ITERS = 3  #: Lloyd iterations per subspace
RERANK = 8  #: ADC shortlist size multiplier (R = RERANK·k per query)


def train_codebooks(emb: DataFrame, dim: int) -> list[list[list[float]]]:
    """M per-subspace codebooks trained JOINTLY: Lloyd updates are
    independent across subspaces (each subvector's assignment and
    centroid mean touch only its own dims), so all M codebooks share
    one corpus scan per iteration — the exploded (m, cell) aggregate
    returns M·K partial-sum rows instead of running M separate k-means
    loops (M× fewer scans; identical math to training each subspace
    alone). Same bounded-sample + first-K-by-vec_id init + fixed
    iteration determinism as `ivf.kmeans_centroids`. Returns
    M × K × d_sub floats — driver/broadcast state independent of
    corpus size."""
    d_sub = dim // M_SUB
    n = emb.count()
    if n > TRAIN_CAP:
        thresh = max(1, int(1_000_000 * TRAIN_CAP / n))
        emb = emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(1_000_000)) < thresh
        )
    first = emb.orderBy("vec_id").limit(K_CODES).select("v").collect()
    if len(first) < K_CODES:
        raise ValueError(
            f"PQ training sample has {len(first)} vectors < K={K_CODES}; "
            "raise TRAIN_CAP or lower K_CODES"
        )
    X0 = np.asarray([r["v"] for r in first], dtype=np.float64)  # K × dim
    CB = np.stack(
        [X0[:, m * d_sub : (m + 1) * d_sub] for m in range(M_SUB)]
    )  # M × K × d_sub
    for _ in range(PQ_ITERS):
        enc = _encode_udf(CB.tolist())
        pairs = emb.select(
            F.posexplode(enc(F.col("v"))).alias("m", "cell"), "v"
        ).select(
            "m",
            "cell",
            F.slice(
                "v", F.col("m") * F.lit(d_sub) + F.lit(1), F.lit(d_sub)
            ).alias("sv"),
        )
        sums = pairs.groupBy("m", "cell").agg(
            F.count(F.lit(1)).alias("n"),
            # exact decimal sums — partition-order-free training, same
            # rationale as ivf.kmeans_centroids (self-review r4)
            *[
                F.sum(F.col("sv").getItem(i).cast("decimal(28,18)")).alias(
                    f"s{i}"
                )
                for i in range(d_sub)
            ],
        )
        rows = {(r["m"], r["cell"]): r for r in sums.collect()}  # ≤ M·K rows
        for m in range(M_SUB):
            for c in range(K_CODES):
                rr = rows.get((m, c))
                if rr is not None and rr["n"] > 0:
                    CB[m, c] = [
                        float(rr[f"s{i}"]) / rr["n"] for i in range(d_sub)
                    ]
                # empty cell keeps its old centroid
    return CB.tolist()


def _encode_udf(codebooks: list[list[list[float]]]):
    """pandas UDF: the M nearest-centroid code ids per vector."""
    CB = np.asarray(codebooks, dtype=np.float64)  # M × K × d_sub
    n_sub, _, d_sub = CB.shape

    @F.pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy())
        codes = np.empty((len(X), n_sub), dtype="int32")
        for m in range(n_sub):
            sub = X[:, m * d_sub : (m + 1) * d_sub]
            diff = sub[:, None, :] - CB[m][None, :, :]
            codes[:, m] = (diff * diff).sum(axis=2).argmin(axis=1)
        return pd.Series(list(codes))

    return encode


@register("q_sim_pq")  # rows-only: ANN recall < 1, not SQL-expressible
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k search over the encoded corpus (module docstring has
    the full design). Probe set = `_probe_block`, the same capped probes
    the exact/BLAS/LSH/IVF paths use, so the recall audit compares like
    for like."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dim = 64
    books = quant_memo(
        quant_key(
            spark, sf_dir, "pq",
            m=M_SUB, k=K_CODES, iters=PQ_ITERS, cap=TRAIN_CAP,
        ),
        lambda: train_codebooks(emb, dim),
    )
    CB = np.asarray(books, dtype=np.float64)  # M × K × d_sub
    d_sub = dim // M_SUB

    encoded = emb.select(
        "vec_id", _encode_udf(books)(F.col("v")).alias("codes")
    )

    # per-query ADC lookup tensor: LUT[q, m, j] = |q_sub_m − c_mj|²
    q_ids, Q = _probe_block(emb)
    lut = np.empty((len(q_ids), M_SUB, K_CODES))
    for m in range(M_SUB):
        qs = Q[:, m * d_sub : (m + 1) * d_sub]
        diff = qs[:, None, :] - CB[m][None, :, :]
        lut[:, m, :] = (diff * diff).sum(axis=2)
    # M×K×Q layout so the per-batch gather indexes by (subspace, code)
    bq = spark.sparkContext.broadcast((q_ids, lut.transpose(1, 2, 0).copy()))
    r = RERANK * TOP_K

    def topk_batches(it):
        ids, lut_mkq = bq.value
        n_sub = lut_mkq.shape[0]
        m_idx = np.arange(n_sub)[None, :]
        for pdf in it:
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.vstack(pdf["codes"].to_numpy())  # n × M
            # gather → (n, M, Q); sum over subspaces → (n, Q)
            D = lut_mkq[m_idx, codes, :].sum(axis=1)
            D[cids[:, None] == ids[None, :]] = np.inf  # self-match
            # nearest first: -D is exact, so order and ties are D's
            qi, ci = _batch_top_k(-D, cids, r)
            yield pd.DataFrame(
                {"query_id": ids[qi], "cand_id": cids[ci], "adc_d2": D[ci, qi]}
            )

    partial = encoded.mapInPandas(
        topk_batches, "query_id long, cand_id long, adc_d2 double"
    )
    w_adc = W.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("cand_id").asc()
    )
    shortlist = (
        partial.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= r)
        .select("query_id", "cand_id", "adc_d2")
    )

    # REFINEMENT (the production IVF-PQ+refine dataflow): the ADC
    # shortlist — R·nq ids, corpus-independent — joins BACK to the
    # float table to fetch exactly the R vectors per query it needs,
    # and the final top-k is ranked by exact cosine. At 100 TB the
    # code table is the only thing scanned; float vectors are read for
    # ~R·nq rows total (a keyed semi-join gather, not a scan).
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in vrow]) for i, vrow in zip(q_ids, Q)],
        "query_id long, qv array<double>",
    )
    cand_v = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
    )
    return _top_k_cosine(
        shortlist.join(cand_v, "cand_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "cand_id", _cosine(F.col("qv"), F.col("cv")).alias("cosine"))
    )


@register(
    "q_sim_pq_audit",
    oracle=f"""
    SELECT COUNT(*) AS n_truth, TRUE AS recall_ok
    FROM ({_KNN_ORACLE}) exact_topk
    """,
)
def q_sim_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-adjudicable audit for the rows-only PQ ANN path: recall of
    ADC-shortlisted + exact-refined top-k (8 subspaces × 16 codes, 64×
    compression, R = 8k shortlist) against the exact cosine top-k, as a
    derived verdict the oracle states as TRUE. The bound (≥ 0.4) sits
    under the measured fixture recall (0.64 @ sf0.01, 0.56 @ sf0.1 —
    near-random unit vectors are PQ's worst case) with margin; a
    codebook/encoding/LUT regression drops recall to ~k/N and flips the
    boolean. See similarity._recall_audit."""
    truth = q_sim_knn_exact(spark, sf_dir)
    found = q_sim_pq(spark, sf_dir)
    return _recall_audit(truth, found, ["query_id", "cand_id"], 0.4)
