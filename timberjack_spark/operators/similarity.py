"""Similarity search over embedding columns (array<float>).

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query set,
  one pass over the corpus, per-query top-k via window. The baseline.
* ``lsh_topk`` — random-hyperplane LSH: sign-bit bucket join prunes the
  corpus before exact re-scoring. The scale path: candidate generation is a
  shuffle on bucket ids; only candidates get the full dot product.
* ``cosine_near_dup_pairs`` — embedding near-duplicate pairs above a cosine
  threshold, LSH-blocked.

Dot products run through ``F.zip_with`` + ``F.aggregate`` (JVM higher-order
functions) after casting to double — sequential accumulation, so results are
bit-deterministic and match the DuckDB oracle's list_dot_product ordering.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..session import local_table


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with the norms supplied as precomputed columns: the aggregate
    folds are interpreted (not codegen'd), so a pair-scoring join that calls
    plain ``cosine`` re-folds BOTH norms per pair — 192 lambda steps instead
    of the 64 the dot product needs. Computing each side's norm once in its
    projection (same fold expression over the same array -> bit-identical
    double) and multiplying the columns here keeps every emitted value
    hash-identical while cutting interpreted work 3x on the pair volume
    (measured: e_cosine_pairs 2.9 -> 1.7 s at sf0.1 over 168k candidates)."""
    return F.try_divide(dot(a, b), na * nb)


def _partition_topk_fn(k: int):
    """mapInPandas partition-local top-k: keeps at most k rows per query_id
    per input partition under the (cos desc, neighbor_id asc) order — the same
    total order the final window uses, so the global top-k is preserved
    exactly while the shuffle shrinks from |corpus| x |queries| rows to at
    most k x |queries| x n_partitions."""

    def fn(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        best: pd.DataFrame | None = None
        for pdf in batches:
            cur = pd.concat([best, pdf]) if best is not None else pdf
            cur = cur.sort_values(
                ["query_id", "cos", "neighbor_id"], ascending=[True, False, True]
            )
            best = cur.groupby("query_id", sort=False).head(k)
        if best is not None:
            yield best

    return fn


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: (query_id, rank, neighbor_id, cos). Self-matches excluded.

    The broadcast join makes this one corpus scan regardless of query count.
    A partition-local top-k (Arrow mapInPandas) runs BEFORE the global window,
    so the rank shuffle carries at most k x |queries| rows per scan partition
    instead of the whole scored corpus — the difference between a window over
    100 TB of scores and one over a few thousand rows on a real cluster.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("_nq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("_nc"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenorm(F.col("q_vec"), F.col("c_vec"), F.col("_nq"), F.col("_nc")), 6
            ).alias("cos"),
        )
    )
    # id fields keep the INPUT id types (string doc ids work, not just longs)
    reduced = scored.mapInPandas(
        _partition_topk_fn(k),
        schema=T.StructType(
            [
                T.StructField("query_id", queries.schema[id_col].dataType),
                T.StructField("neighbor_id", corpus.schema[id_col].dataType),
                T.StructField("cos", T.DoubleType()),
            ]
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def make_signature_udf(planes: list[list[float]], n_tables: int, bits_per_table: int):
    """Arrow-batched hyperplane signatures: one numpy matmul per batch replaces
    n_tables*bits interpreted higher-order-function projections per row (the
    expression form was ~4k scalar lambda evaluations per vector). Returns an
    array of n_tables bucket ids per row."""
    P = np.asarray(planes, dtype=np.float64)  # (n_tables*bits, dim)
    weights = (2 ** np.arange(bits_per_table, dtype=np.int64))
    offsets = (np.arange(n_tables, dtype=np.int64) * (2**bits_per_table))

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)          # (n, dim)
        bits = (M @ P.T) >= 0                                   # (n, T*B)
        bits = bits.reshape(len(M), len(offsets), len(weights))
        buckets = bits.astype(np.int64) @ weights + offsets     # (n, T)
        return pd.Series(list(buckets))

    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 16,
    bits_per_table: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidate join, exact re-score.

    Recall tunes with (n_tables, bits_per_table); candidates per query are
    ~corpus/2^bits per table. The candidate join shuffles on bucket id —
    uniform by construction.
    """
    planes = _hyperplanes(dim, n_tables * bits_per_table, seed)
    sig_udf = make_signature_udf(planes, n_tables, bits_per_table)
    sig = lambda df, idn: df.select(  # noqa: E731
        F.col(id_col).alias(idn),
        F.explode(sig_udf(F.col(vec_col))).alias("bucket"),
    )
    # candidate ids only: the bucket join and the distinct shuffle 16-byte id
    # pairs, never the embedding vectors (~30x less shuffle bytes); vectors are
    # joined back ONLY for the surviving candidate set
    cand = (
        sig(corpus, "neighbor_id")
        .join(sig(queries, "query_id").hint("broadcast"), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("_nc"),
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("_nq"),
    )
    scored = (
        cand.join(c_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenorm(F.col("q_vec"), F.col("c_vec"), F.col("_nq"), F.col("_nc")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid vectors (the coarse quantizer for IVF).

    Element-wise mean via posexplode -> groupBy(label, pos) -> re-assemble:
    fully distributed, no driver-side vectors; (label, pos) keys are uniform so
    the shuffle cannot skew.
    """
    ex = df.select(F.col(label_col).alias("label"), F.posexplode(vec_col).alias("pos", "v"))
    per = ex.groupBy("label", "pos").agg(F.avg(F.col("v").cast("double")).alias("m"))
    return (
        per.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("z"))
        .select("label", F.transform("z", lambda s: s["m"]).alias("centroid"))
    )


def assign_nearest_centroid(
    df: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, cluster, cos): nearest centroid by cosine (broadcast cross join —
    centroid count is tiny by construction), deterministic label tiebreak.
    Norms are folded once per row / per centroid (see cosine_prenorm), not per
    (row, centroid) pair."""
    cents = centroids.select(
        F.col("label").alias("_cl"), F.col("centroid").alias("_cv"), norm(F.col("centroid")).alias("_ncv")
    )
    scored = (
        df.select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_nv"))
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col).alias("vec_id"),
            F.col("_cl").alias("cluster"),
            F.round(
                cosine_prenorm(F.col(vec_col), F.col("_cv"), F.col("_nv"), F.col("_ncv")), 6
            ).alias("cos"),
        )
    )
    # argmax via min(struct(-cos, cluster)): identical pick to the previous
    # row_number window (cos desc, cluster asc — double negation is exact, so
    # the tiebreak and the re-negated cos are bit-identical), but runs as a
    # hash aggregate with map-side partial aggregation instead of a
    # sort-based window — no per-partition sort, and the shuffle carries one
    # partial row per (vec, map task) instead of every scored pair.
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct((-F.col("cos")).alias("nc"), F.col("cluster").alias("cl"))).alias("_m")
    )
    return best.select(
        "vec_id", F.col("_m.cl").alias("cluster"), (-F.col("_m.nc")).alias("cos")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: assign corpus to centroid cells once, probe only the
    ``n_probe`` cells nearest each query, exact re-score inside them.

    At scale the assignment is materialized/bucketed with the corpus and the
    probe is a partition-pruned read; here both sides derive from the same
    centroids so the test contract (recall vs brute force) is self-contained.

    The quantizer (centroid table) is tiny by construction, so it is computed
    once, collected, and re-planned as a local relation (``local_table``, a
    ``LocalTableScan``) — every downstream use broadcasts it from the JVM
    instead of re-running (or pinning in cache) the centroid aggregation job.
    """
    cents_rows = label_centroids(corpus)
    cents = local_table(corpus.sparkSession, cents_rows.collect(), cents_rows.schema)
    assigned = assign_nearest_centroid(corpus, cents, id_col, vec_col).select(
        F.col("vec_id").alias("neighbor_id"), "cluster"
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")).join(
        assigned, "neighbor_id"
    )
    cent_aliased = cents.select(F.col("label").alias("_cl"), F.col("centroid").alias("_cv"))
    q_scored = queries.crossJoin(F.broadcast(cent_aliased)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("_cl").alias("cluster"),
        # rounded like every exposed cosine: probe choice must be reproducible
        # across engines (the DuckDB oracle mirrors this probe selection)
        F.round(cosine(F.col(vec_col), F.col("_cv")), 6).alias("qc"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qc"), F.asc("cluster"))
    probes = q_scored.withColumn("_r", F.row_number().over(wq)).filter(F.col("_r") <= n_probe)
    cand = probes.join(c, "cluster").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id", "neighbor_id", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    bits_per_table: int = 10,
    seed: int = 42,
    max_bucket_size: int | None = None,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine >= threshold, LSH-blocked.

    Candidate generation is the single-scan bucket groupBy + in-bucket pair
    explode (same shape as the minhash/simhash generators — see
    dedup._bucket_pairs): the round-2 self-join scored a cosine per BUCKET
    COLLISION and dragged two vector copies through the join; now the distinct
    candidate id pairs (16 bytes each) are computed first and vectors are
    joined back only for survivors, scored exactly once per pair."""
    from .dedup import _bucket_pairs

    planes = _hyperplanes(dim, n_tables * bits_per_table, seed)
    sig_udf = make_signature_udf(planes, n_tables, bits_per_table)
    sig = df.select(
        F.col(id_col).alias("_id"),
        F.explode(sig_udf(F.col(vec_col))).alias("bucket"),
    )
    buckets = (
        sig.groupBy("bucket")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        # hot-bucket guard (see dedup.minhash_near_dups): a bucket of m
        # members pair-explodes m(m-1)/2 rows in one task. No silent caps:
        # cap_metrics={} gets the dropped-bucket/-pair counts (eager job,
        # see dedup._collect_cap_metrics)
        if cap_metrics is not None:
            from .dedup import _collect_cap_metrics

            cap_metrics.update(_collect_cap_metrics(buckets, "ids", max_bucket_size))
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    cand = (
        _bucket_pairs(buckets, "ids")
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .distinct()
    )
    va = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), norm(F.col(vec_col)).alias("_na")
    )
    vb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), norm(F.col(vec_col)).alias("_nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_prenorm(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus around centroids, then prune
    near-duplicate pairs ONLY within each cluster — the cluster assignment
    turns the quadratic all-pairs problem into per-cluster blocks, which is
    the published contract for running semantic dedup at web scale (pick
    enough clusters that blocks stay small).

    Returns ``(vec_id, cluster, keep)``. Keep rule: a vector is dropped iff
    some SMALLER-id vector in the same cluster has cosine >= ``threshold``
    with it (min-id representative — deterministic and engine-portable; the
    paper keeps the member with the lowest centroid similarity instead, but
    any one-per-duplicate-group rule curates the same mass).

    Scale shape: the centroid table is tiny by construction and re-planned as
    a local relation (broadcast everywhere, same as ivf_topk); the cluster
    assignment is one broadcast crossJoin + window; the keep decision runs
    PER CLUSTER in one Arrow task (applyInPandas over cluster groups): each
    task receives its cluster's (id, vector) rows once — O(m·d) bytes — and
    computes the m x m cosine block with one BLAS matmul. The r5 shape
    exploded the same blocks into m(m-1)/2 candidate-pair ROWS and joined
    two full vector copies onto every pair (~800 MB of Arrow traffic for
    803k pairs at sf0.1, measured); per-cluster scoring moves each vector
    exactly once and the pairwise block never leaves the task. The only
    corpus-sized shuffles key on cluster and id — uniform by construction
    when clusters are sized per the paper (the per-task O(m^2) decision
    block is the SAME published per-cluster budget the pair explode had —
    blocks must fit a task either way; size n_clusters accordingly).
    """
    cents_rows = centroids if centroids is not None else label_centroids(df, vec_col=vec_col)
    cents = local_table(df.sparkSession, cents_rows.collect(), cents_rows.schema)
    assigned = assign_nearest_centroid(df, cents, id_col, vec_col).select("vec_id", "cluster")
    with_vec = assigned.join(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")), "vec_id"
    )

    # numpy decision scoring is safe HERE because the operator emits only the
    # keep DECISION, not the cosine value: BLAS summation order differs from
    # the SQL fold by ulps, which cannot flip a >= threshold decision at the
    # corpus's decision margin (true pairs >= 0.987, false <= ~0.54 vs
    # threshold 0.95). Value-emitting operators (cosine_near_dup_pairs) keep
    # the fold so their oracle hash matches exactly. num >= t*den avoids the
    # divide; den == 0 (zero vector) never drops, matching SQL try_divide ->
    # NULL -> false. Keep rule: a member is dropped iff ANY smaller-id member
    # of the cluster scores >= threshold against it (min-id representative).
    out_schema = T.StructType(
        [
            with_vec.schema["vec_id"],
            with_vec.schema["cluster"],
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def _cluster_keep(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids_sorted = ids[order]
        V = np.stack(pdf["_v"].to_numpy()[order])
        m = len(ids_sorted)
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        dropped = np.zeros(m, dtype=bool)
        # row-chunked upper-triangle sweep: peak extra memory is one
        # (chunk, m) block (~64 MB budget) instead of the full m x m
        # matrix, so an oversized cluster degrades to more matmul calls,
        # never a task OOM; per-cell arithmetic identical to the full block
        step = max(1, int(64e6 // (8 * max(m, 1))))
        jj = np.arange(m)[None, :]
        for s in range(0, m, step):
            e = min(s + step, m)
            num = V[s:e] @ V.T                      # (chunk, m)
            den = nrm[s:e, None] * nrm[None, :]
            hit = (den > 0) & (num >= threshold * den)
            ii = np.arange(s, e)[:, None]
            dropped |= (hit & (ii < jj)).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": ids_sorted,
                "cluster": pdf["cluster"].to_numpy()[order],
                "keep": ~dropped,
            }
        )

    return with_vec.groupBy("cluster").applyInPandas(_cluster_keep, schema=out_schema)
