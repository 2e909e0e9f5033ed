"""Deduplication operators for training-data curation.

All variants are expressed as distributed DataFrame programs — no driver-side
pair loops, no quadratic blowup:

* exact     — hash-groupBy, keep deterministic representative
* minhash   — shingle -> k minhashes -> banded LSH -> bucket join -> verify
* simhash   — 64-bit simhash (vectorized pandas UDF) -> band blocking -> hamming verify
* ngram     — n-gram Jaccard within explicit blocking keys (exact, for small blocks)
* embedding — cosine near-dup via random-hyperplane LSH over the vector column
* decontam  — exact eval-overlap flags (n-gram hash semi-join vs a benchmark set)

Scale notes: the only shuffles are groupBys on content-derived keys (hash,
band bucket) — uniformly distributed by construction, no skew. Candidate
verification joins are self-joins on bucket ids; bucket width bounds the
worst-case pair count (classic MinHash-LSH cost model).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the input has
    fewer partitions. A small single-file parquet scan is ONE partition, which
    serializes every downstream Arrow-UDF and higher-order-function stage onto
    one core (event-log profiled: 5-12 s single-task signature evals). At real
    scale the scan already has thousands of splits and this is a no-op — the
    repartition only ever fires in the small-input regime where its shuffle is
    trivially cheap."""
    if df.isStreaming:
        # .rdd is illegal on a streaming DataFrame; streaming callers do
        # their own stream-side repartition (see run_stream_decontam_once)
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one deterministic representative (lowest id) per distinct text.

    groupBy on the content hash — a full-width shuffle on a uniform key; the
    min() keeps the survivor without materializing groups.
    """
    h = F.xxhash64(F.col(text_col))
    survivors = df.groupBy(h.alias("_h")).agg(F.min(id_col).alias(id_col)).drop("_h")
    return df.join(survivors, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles + minhash LSH
# ---------------------------------------------------------------------------


def make_grams_udf(n: int):
    """Arrow-batched word n-gram (shingle) arrays: the grams of
    decontamination, the candidate-verify joins and the blocked Jaccard.

    Batch Python, not a Catalyst higher-order expression (sequence +
    transform + slice + array_join): that expression runs INTERPRETED — a
    salted fresh-plan probe read 26.9 JVM cpu-s per sf0.1 corpus pass
    (~6 ms/doc) against 1.8 for this UDF (one regex split + a set build per
    doc; wall 1.36 -> 0.65 s at 32 cores; the Python-worker cpu rides
    outside the JVM and is itself small).
    Contract: ws_trim charset strip, lower, split on the shared WS class,
    first-occurrence-distinct n-grams, whole-text fallback for short docs,
    [null] for null text — the decontamination fuzz twin
    (tests/test_property_parse.py::test_decontaminate_matches_duckdb_twin)
    pins it against the DuckDB oracle on exotic-whitespace/non-ASCII
    alphabets."""
    import re

    from ..functions.extract import _WS

    ws_re = re.compile("[" + _WS + "]+")

    def _batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([None])
                continue
            t2 = t.strip(_WS).lower()
            toks = ws_re.split(t2)
            k = len(toks) - (n - 1)
            if k >= 1:
                seen: set[str] = set()
                grams = []
                for i in range(k):
                    g = " ".join(toks[i : i + n])
                    if g not in seen:
                        seen.add(g)
                        grams.append(g)
                out.append(grams)
            else:
                out.append([t2])
        return pd.Series(out)

    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_batch, "array<string>")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, k: int = 64
) -> DataFrame:
    """(_id, _sig array<long>) minhash signatures via the Arrow-batched UDF.

    Why a pandas UDF and not expressions: the k-way min naturally writes as ONE
    hash aggregate of k min() columns over exploded shingles, but 64 aggregate
    expressions exceed what whole-stage codegen will compile — the aggregate
    runs interpreted at ~10 us/row (measured 3.8 s over 270k shingle rows,
    ~25x slower than this UDF). The batch path hashes every shingle of an
    Arrow batch in one C call and takes segment minima in numpy; Python never
    touches individual rows. See make_minhash_udf.
    """
    return _ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        make_minhash_udf(k, n)(F.col(text_col)).alias("_sig"),
    )


def make_minhash_udf(k: int = 64, n: int = 3, seed: int = 42):
    """Arrow-batched minhash, the signature stage of :func:`minhash_signatures`.

    The whole batch's shingles are hashed in ONE vectorized call
    (``pd.util.hash_array`` — C-level SipHash over the object array, no
    per-shingle Python hashing), then an affine family
    (a_j * h + b_j mod 2^64) gives the k permutations as a (k, total_shingles)
    matrix whose per-row segment minima come from ``np.minimum.reduceat``.
    Tokenization: lower, whitespace split, distinct word n-grams, the whole
    lowered and stripped text when shorter than n tokens, null as ''."""
    rng = np.random.RandomState(seed)
    A = (rng.randint(1, 2**62, size=k, dtype=np.uint64) * np.uint64(2) + np.uint64(1))
    B = rng.randint(0, 2**63, size=k, dtype=np.uint64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig(text: pd.Series) -> pd.Series:
        if len(text) == 0:
            return pd.Series([], dtype=object)
        grams_all: list[str] = []
        offsets = np.empty(len(text) + 1, dtype=np.int64)
        offsets[0] = 0
        for i, t in enumerate(text.fillna("")):
            toks = t.lower().split()
            grams = (
                {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
                if len(toks) >= n
                else {t.lower().strip()}
            )
            grams_all.extend(grams)
            offsets[i + 1] = len(grams_all)
        H = pd.util.hash_array(np.asarray(grams_all, dtype=object))  # uint64, one C call
        # (total, k) affine mix in C-order so the segment reduction walks
        # contiguous memory; reduceat along axis 0 gives per-row minima
        M = H[:, None] * A[None, :] + B[None, :]  # uint64 wrap-mix
        mins = np.minimum.reduceat(M, offsets[:-1], axis=0)  # (n_rows, k)
        out = mins.astype(np.int64)
        # Series of ndarray rows: Arrow converts them directly — building
        # python list-of-lists here costs k * n_rows PyLong boxings
        return pd.Series(list(out))

    return sig


def _collect_cap_metrics(buckets: DataFrame, members_col: str, cap: int) -> dict:
    """Drop metrics for a bucket-size cap (the repo's no-silent-caps rule):
    ``buckets_dropped`` (buckets over the cap) and ``pairs_dropped`` (the
    m(m-1)/2 candidate pairs those buckets would have exploded into — an
    upper bound on lost candidates, since dropped pairs may co-occur in a
    surviving bucket).

    Runs as its own aggregation job over the bucket subtree, i.e. one extra
    pass of the signature stage when requested. The free-riding alternatives
    both lose the metrics exactly when they matter: an ``observe()`` node is
    eliminated by AQE's empty-relation propagation when the cap drops EVERY
    bucket (measured: toPyRow assertion on .get), and it is never delivered
    when a localCheckpoint materializes the subtree via an RDD job. An
    explicit job is unconditionally correct; diagnostics are opt-in.
    """
    sz = F.size(members_col)
    row = buckets.agg(
        F.coalesce(F.sum(F.when(sz > cap, F.lit(1))), F.lit(0)).alias("buckets_dropped"),
        F.coalesce(
            F.sum(F.when(sz > cap, (sz.cast("long") * (sz - 1) / 2).cast("long"))),
            F.lit(0).cast("long"),
        ).alias("pairs_dropped"),
    ).collect()[0]
    return {"buckets_dropped": row["buckets_dropped"], "pairs_dropped": row["pairs_dropped"]}


def _bucket_pairs(grouped: DataFrame, members_col: str = "ids") -> DataFrame:
    """Explode a sorted bucket-member array into its (a, b) pairs, a < b.

    posexplode gives each member with its position; a second explode over the
    slice AFTER that position emits exactly the ordered pairs — pure JVM, no
    self-join. Replacing the round-2 banded SELF-JOIN with this single-scan
    groupBy+explode halves the candidate-generation shuffle (one stream of
    (band, bucket, id) rows instead of two) and, because the signature table
    is now referenced ONCE, removes the eager signature checkpoint the
    self-join forced (Spark re-executes Arrow-UDF subtrees per plan branch)."""
    return grouped.select(
        F.posexplode(members_col).alias("_i", "_a"), members_col
    ).select(
        "_a",
        F.explode(
            F.slice(members_col, F.col("_i") + 2, F.size(members_col) - F.col("_i") - 1)
        ).alias("_b"),
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH with exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    Pipeline: signature (Arrow-batched UDF) -> explode bands (k/bands rows per
    doc) -> groupBy (band, bucket) collecting member ids (ONE shuffle on the
    band hash) -> in-bucket pair explode -> distinct candidates -> verify with
    exact shingle Jaccard. With b=16, r=4 the LSH S-curve crosses ~0.5 at
    s≈(1/b)^(1/r)≈0.5 — recall at 0.7 is ~0.99; for thresholds near 0.5 use
    bands=32 (r=2, recall at 0.5 ≈ 1-(1-0.25)^32 ≈ 0.9999).

    ``max_bucket_size`` drops buckets larger than the cap before the pair
    explode — the standard LSH guard against quadratic blowup on degenerate
    corpora: a bucket of m docs emits m(m-1)/2 pairs IN ONE TASK (true of the
    round-2 self-join too — an equi-join sends each bucket to one reducer).
    The default is None — guaranteed recall, no silent pair loss; scale
    deployments should pass an explicit cap (10k members -> <=50M pairs/task
    is far above any honest near-dup cluster in the tuned-band regime; a
    bucket past it means the banding is mis-tuned for the corpus). Dropped
    buckets cost recall only for pairs co-occurring NOWHERE but a hot bucket.

    No silent caps: pass ``cap_metrics={}`` and the call fills it with
    ``buckets_dropped`` / ``pairs_dropped`` (m(m-1)/2 per dropped bucket).
    Unlike simhash/cosine (which pay a dedicated metrics job — see
    _collect_cap_metrics), minhash gets the metrics FREE: each dropped
    bucket substitutes its member array with a 2-element sentinel [-m, bucket_hash]
    — the pair explode turns that into exactly one (negative, hash) row that
    rides the SAME single pass into the eagerly-materialized candidate
    checkpoint, where a filter over the materialized blocks (no recompute)
    extracts the counts and strips the sentinels before the verify joins.
    Requires nonnegative ``id_col`` values (negative ids are the sentinel
    namespace) — true of every fixture and of content-hash ids at scale.
    """
    r = k // bands
    sig = minhash_signatures(df, text_col, id_col, n=n, k=k)
    # ONE transform lambda + posexplode instead of `bands` literal structs:
    # the unrolled form built a ~300-node expression tree whose py4j
    # construction + Catalyst planning dominated the query at small scale
    # (plan build 1.4 s vs 0.1 s execution, measured r6). Hash inputs are
    # identical (element_at(i+1) == getItem(i), sequence ints == the old
    # int literals), so every bucket value — and the candidate set — is
    # bit-identical to the unrolled form.
    band_buckets = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            *[F.element_at(F.col("_sig"), b * r + j + 1) for j in range(r)], b
        ),
    )
    banded = sig.select(
        "_id", F.posexplode(band_buckets).alias("band", "bucket")
    )
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        sz = F.size("ids")
        if cap_metrics is not None:
            buckets = buckets.withColumn(
                "ids",
                F.when(sz <= max_bucket_size, F.col("ids")).otherwise(
                    F.array((-sz).cast("long"), F.col("bucket"))
                ),
            )
        else:
            buckets = buckets.filter(sz <= max_bucket_size)
    candidates = (
        _bucket_pairs(buckets, "ids")
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .distinct()
    )
    if max_bucket_size is not None and cap_metrics is not None:
        # materialize once; the sentinel extraction and the verify both read
        # the checkpointed blocks (verify's own lazy checkpoint of the
        # filtered plan re-reads the RDD, not the bucket pipeline)
        candidates = candidates.localCheckpoint(eager=False)
        sent = candidates.filter(F.col("id_a") < 0).collect()
        cap_metrics["buckets_dropped"] = len(sent)
        cap_metrics["pairs_dropped"] = sum(
            (-r["id_a"]) * (-r["id_a"] - 1) // 2 for r in sent
        )
        candidates = candidates.filter(F.col("id_a") >= 0)
    return exact_jaccard_verify(df, candidates, text_col, id_col, n, threshold)


def exact_jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard over a candidate-pair set: (id_a, id_b, jaccard)
    with jaccard >= threshold.

    Shingle arrays (JVM exprs) are computed ONLY for ids that appear in a
    candidate pair (semi-join prune), never the whole corpus — the candidate
    generator (minhash LSH, simhash blocks, ...) bounds the quadratic part.

    The candidate set is materialized once (``localCheckpoint``): the plan
    references it multiple times (id prune + pair join), and when the
    generator contains an Arrow UDF, Spark's exchange-reuse canonicalization
    fails to dedupe the subtree — measured: the signature UDF executed 10x per
    query without this. Candidates are id pairs only (16 bytes each), so the
    checkpoint is tiny relative to the corpus at any scale; its blocks are
    dropped when the RDD is garbage-collected.

    When the materialized candidate count fits ``broadcast_limit`` the pair
    set (and its id prune) is broadcast, so the verify is shuffle-free: two
    corpus-side scans with broadcast joins. Without the hint the planner sees
    a stats-less checkpoint scan and falls back to SortMergeJoin, shuffling
    the shingle arrays (measured 2x slower even at 5k docs). Above the limit
    the shuffle join is the right plan anyway.
    """
    # LAZY checkpoint + count: the count() is the action that materializes the
    # checkpoint (Catalyst cannot prune through the RDD-scan barrier, so the
    # full rows persist), merging what used to be two serial driver barriers —
    # eager materialization THEN a count job — into one job (VERDICT r03 #4).
    candidates = candidates.localCheckpoint(eager=False)
    broadcast_limit = 2_000_000
    small = candidates.count() <= broadcast_limit
    hint = F.broadcast if small else (lambda x: x)
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias("_id")
    ).distinct()
    # prune FIRST (broadcast semi join), parallelize, THEN build shingle
    # arrays — via the Arrow grams UDF (make_grams_udf: ~15x less per-doc cpu
    # than an interpreted higher-order expression) — and materialize them
    # once. LAZY checkpoint: the final job itself materializes-and-caches
    # base the first time a branch reads it, so the dedup happens without a
    # dedicated driver job barrier (without any checkpoint each of the
    # sh_a/sh_b branches and their broadcast builds re-evaluates the gram
    # stage).
    base = (
        _ensure_parallelism(df.join(hint(cand_ids), F.col(id_col) == F.col("_id"), "left_semi"))
        .select(F.col(id_col).alias("_id"), make_grams_udf(n)(F.col(text_col)).alias("_sh"))
        .localCheckpoint(eager=False)
    )
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        hint(candidates).join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("sh_a", "sh_b")),
                    F.size(F.array_union("sh_a", "sh_b")),
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# near-dup clustering — connected components over the pair graph, the step
# that turns pairwise near-dup output into the keep-one-representative
# decision a dedup pipeline actually executes.
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(nid, cluster_id) for every node appearing in ``edges``, with
    cluster_id = the minimum node id reachable in the undirected graph.

    Numeric-id contract (same as the minhash cap sentinel): labels are the
    node ids cast to long, so node ids must be integral (or castable
    losslessly) — a non-numeric string id would cast to NULL and corrupt
    clustering silently. Content-hash or fixture ids satisfy this; hash
    string ids to int64 first if needed.

    Iterative min-label propagation with a pointer-jumping step (each round:
    label <- min over neighbours' labels, then label <- label's label), so
    rounds needed are O(log diameter), not O(diameter) — near-dup components
    are star/clique-like and converge in 2-3 rounds, but a pathological
    chain of c components still finishes in log2(c) rounds.

    Scale shape: state is ONE (node, label) table bounded by the number of
    near-dup DOCS (edge endpoints — a small fraction of the corpus; docs in
    no pair never enter the loop), localCheckpoint'd each round to cut the
    growing lineage (the standard Spark iteration pattern — without it round
    k replays rounds 1..k-1). Each round shuffles edges once on dst and once
    on src (both uniform: ids), plus the pointer-jump self-join. The
    convergence check is an exact changed-row count, not a label-sum
    (a sum of 10^11-scale ids overflows long) — and it RIDES the round's own
    pass: the pre-round label is carried through the propagate + jump joins
    so ``changed`` is a filter-count over the round's one materializing job,
    not a separate join + count (r5 spent 3 driver job barriers per round —
    propagate-checkpoint, jump-checkpoint, convergence join — on the same
    work; measured 1.9 s -> 0.7 s for the 3-round sf0.1 graph). The lazy
    checkpoints dedupe the pointer jump's two references to the propagate
    output inside that job and still truncate lineage once materialized.

    Self-loop trick (r6): the edge table carries one (n, n) row per node, so
    the propagate join's min over neighbour labels already includes the
    node's OWN label — ``least(old, min_nbr)`` falls out of the ONE
    groupBy, and the old label rides the same aggregate as
    ``min(lbl) filter (a == b)`` (exactly the self-loop row). The r5 shape
    re-joined the label table onto the neighbour minima per round to
    recover old labels; that join (and its exchange of the full label
    table) is gone — per-round cost is one edge join + one aggregate + the
    jump self-join, at any scale. Values are identical: min over
    (neighbours ∪ self) IS least(own, min-neighbour), and every node
    appears in its own self-loop, so the old left-join's
    no-neighbour coalesce case cannot occur.
    """
    # the edge table is materialized TWICE, and the upstream pair pipeline
    # runs once. Without a checkpoint every round's propagate join would
    # re-execute that pipeline (for near_dup_clusters that is the LSH
    # candidate generation + exact-Jaccard verify, re-run ~2x per round —
    # the dominant cost of d_dedup_clusters in r5, measured ~7 re-executions
    # over a 3-round graph). Checkpoint 1 (here, lazy) pins the symmetrized
    # edges: both the node list below and the self-loop union read them, so
    # the pipeline runs once, inside the eager ``labels`` job. Checkpoint 2
    # (the self-loop union below, lazy) pins its 2|E| + |V| rows during
    # round 1, so later rounds scan one RDD instead of re-running the union
    # over two. Edge-endpoint-subgraph-sized, so both copies are tiny at
    # any scale.
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("nid"))
        .distinct()
        .select("nid", F.col("nid").cast("long").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    # self-loops ride the edge table (see docstring): |V| extra rows next to
    # 2|E|; checkpoint 2 of the edge table (see above)
    sym = sym.unionByName(
        labels.select(F.col("nid").alias("a"), F.col("nid").alias("b"))
    ).localCheckpoint(eager=False)
    for _ in range(max_iter):
        step = (
            sym.join(labels.select(F.col("nid").alias("b"), F.col("lbl").alias("_blbl")), "b")
            .groupBy("a")
            # min over (neighbours ∪ self) = least(old, min-neighbour); the
            # self-loop row is the pre-round label, carried so convergence is
            # checkable without a join back. Lazy checkpoint dedupes the
            # pointer jump's double reference within the materializing job.
            .agg(
                F.min("_blbl").alias("lbl"),
                F.min(F.when(F.col("a") == F.col("b"), F.col("_blbl"))).alias("_old"),
            )
            .select(F.col("a").alias("nid"), "_old", "lbl")
            .localCheckpoint(eager=False)
        )
        # pointer jump: my label's CURRENT label (labels only ever decrease,
        # so lbl(lbl) <= lbl and least() is just belt-and-braces)
        jumped = (
            step.join(
                step.select(F.col("nid").alias("_p"), F.col("lbl").alias("_plbl")),
                F.col("lbl") == F.col("_p"),
                "left",
            )
            .select("nid", "_old", F.least("lbl", F.coalesce("_plbl", "lbl")).alias("lbl"))
            .localCheckpoint(eager=False)
        )
        # ONE job: materializes step+jumped (truncating lineage) AND counts
        # this round's label changes
        changed = jumped.filter(F.col("lbl") != F.col("_old")).count()
        labels = jumped.select("nid", "lbl")
        if changed == 0:
            break
    return labels.select("nid", F.col("lbl").alias("cluster_id"))


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    **minhash_kwargs,
) -> DataFrame:
    """(id, cluster_id) for EVERY document: transitive near-dup clusters over
    the minhash pair graph, cluster_id = min doc id of the cluster (docs in
    no pair are their own singleton cluster). The keep-one-representative
    dedup is then ``filter(id == cluster_id)`` — the decision rule C4/
    RefinedWeb-style pipelines apply after pairwise near-dup detection.

    One corpus scan builds the pairs (minhash_near_dups), the CC loop runs
    on the pair-endpoint subgraph only, and the final left join restores
    singletons without ever shuffling the corpus on anything but the id.
    """
    pairs = minhash_near_dups(df, text_col, id_col, threshold=threshold, **minhash_kwargs)
    cc = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(cc.select(F.col("nid").alias(id_col), "cluster_id"), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col).cast("long")).alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# simhash — JVM expressions end to end: explode tokens, hash once, 64
# conditional sums in one hash aggregate, assemble the bit vector
# ---------------------------------------------------------------------------


def make_simhash_udf(n: int = 1):
    """Arrow-batched simhash over word ``n``-grams (n=1 = plain tokens).

    All grams of the batch are hashed in one ``pd.util.hash_array`` call
    (C-level SipHash — deterministic, well-distributed; NOT two crc32
    variants, which are affine in the init value and degenerate), then the
    per-row bit-majority runs as segment sums over the batch matrix. Python
    never touches individual rows beyond tokenization.

    n-gram features (n=3) make the fingerprint far more discriminative on
    small-vocabulary corpora: random template-generated docs share many TOKENS
    (signatures correlate, blocking buckets explode) but few 3-grams —
    measured on the fixture: true near-dup pairs tighten from hamming<=8 to
    hamming<=5 while random-pair collisions drop.
    """

    @pandas_udf(T.LongType())
    def sim(text: pd.Series) -> pd.Series:
        if len(text) == 0:
            return pd.Series([], dtype="int64")
        gram_lists = []
        for t in text.fillna(""):
            toks = t.lower().split()
            gram_lists.append(
                [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                if len(toks) >= n
                else ([t.lower().strip()] if t.strip() else [])
            )
        counts = np.array([len(g) for g in gram_lists], dtype=np.int64)
        flat = [g for gs in gram_lists for g in gs]
        out = np.zeros(len(text), dtype=np.int64)
        if flat:
            hs = pd.util.hash_array(np.asarray(flat, dtype=object))  # uint64, one C call
            # one-byte bit matrix via unpackbits (8x less memory traffic than
            # shift-and-mask int64 matrices — the cold-path cost is allocation,
            # not FLOPs); bit order is arbitrary-but-fixed, which hamming
            # distance and the pigeonhole blocking are both invariant to
            bits = np.unpackbits(
                hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )  # (total_grams, 64) uint8
            offsets = np.zeros(len(text), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            nonempty = counts > 0
            ones = np.add.reduceat(bits, offsets[nonempty], axis=0).astype(np.int64)
            acc = 2 * ones - counts[nonempty][:, None]  # (n_nonempty, 64) majority sign
            vals = ((np.uint64(1) << np.arange(64, dtype=np.uint64)) * (acc > 0)).sum(
                axis=1, dtype=np.uint64
            )
            out[nonempty] = vals.astype(np.int64)
        return pd.Series(out)

    return sim


simhash_udf = make_simhash_udf(1)  # token-level variant (back-compat name)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 1
) -> DataFrame:
    """(_id, _sig) 64-bit simhash per doc via the Arrow-batched UDF.

    Why not JVM expressions: the per-bit majority writes naturally as one hash
    aggregate of 64 conditional sums over exploded tokens, but 64 aggregate
    expressions exceed whole-stage codegen's limits and the aggregate runs
    interpreted (measured 2.6 s over 270k token rows — ~20x slower than the
    batch UDF, which hashes all grams of a batch in one C call and reduces
    the bit matrix with numpy reduceat). See make_simhash_udf.
    """
    return _ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), make_simhash_udf(n)(F.col(text_col)).alias("_sig")
    )


def _hamming_blocks(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) bit-blocks: max_hamming+1 blocks over 64 bits, so by
    pigeonhole two signatures within hamming <= max_hamming agree exactly on
    at least one whole block."""
    nb = min(max_hamming + 1, 64)
    base, rem = divmod(64, nb)
    blocks, off = [], 0
    for i in range(nb):
        w = base + (1 if i < rem else 0)
        blocks.append((off, w))
        off += w
    return blocks


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket_size: int | None = None,
    n: int = 1,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming) by simhash hamming distance.

    Blocking uses max_hamming+1 bit-blocks, so recall over the signature space
    is GUARANTEED by pigeonhole for any max_hamming (the round-1 fixed
    4-quadrant scheme silently missed pairs whose differing bits spread across
    all four quadrants once max_hamming > 3). Narrower blocks admit more
    candidates — the hamming verify prunes them exactly, and it runs BEFORE
    the pair distinct: hamming is per-joined-row arithmetic, so filtering
    first shrinks the distinct's shuffle from every bucket collision (measured
    1.6M raw pairs on 5k clustered docs) to just the near-dups.

    ``max_bucket_size`` drops blocking buckets larger than the cap before the
    pair explode — the standard LSH guard against quadratic blowup on skewed
    corpora (template-generated docs collapse into a few hot buckets). Capped
    buckets cost recall for pairs ONLY co-occurring in hot buckets; the
    default None keeps the docstring's recall guarantee — scale deployments
    opt into an explicit cap. No silent caps: pass ``cap_metrics={}`` and
    the call fills it with buckets_dropped / pairs_dropped eagerly (one
    dedicated metrics job — see _collect_cap_metrics for why observed SQL
    metrics are not usable here).
    """
    # single-scan candidate generation (see _bucket_pairs): the signature UDF
    # is referenced once, so no eager checkpoint is needed, the bucket
    # grouping is ONE shuffle instead of a two-sided self-join, and the
    # bucket-size cap is a free size() filter instead of a window count
    sig = simhash_signatures(df, text_col, id_col, n=n)
    blocks = _hamming_blocks(max_hamming)
    parts = []
    for q, (off, w) in enumerate(blocks):
        key = F.shiftrightunsigned(F.col("_sig"), off)
        if w < 64:
            key = key.bitwiseAND(F.lit((1 << w) - 1).cast("long"))
        parts.append(F.struct(F.lit(q).alias("q"), key.alias("key")))
    quads = sig.select("_id", "_sig", F.explode(F.array(*parts)).alias("qq")).select(
        "_id", "_sig", "qq.q", "qq.key"
    )
    buckets = (
        quads.groupBy("q", "key")
        # sort by struct (id first) so pair order gives id_a < id_b directly
        .agg(F.sort_array(F.collect_list(F.struct("_id", "_sig"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    if max_bucket_size is not None:
        if cap_metrics is not None:
            cap_metrics.update(_collect_cap_metrics(buckets, "ms", max_bucket_size))
        buckets = buckets.filter(F.size("ms") <= max_bucket_size)
    pairs = (
        _bucket_pairs(buckets, "ms")
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_b._id").alias("id_b"),
            F.bit_count(F.col("_a._sig").bitwiseXOR(F.col("_b._sig"))).alias("hamming"),
        )
        # hamming BEFORE the distinct: per-row arithmetic shrinks the distinct
        # shuffle from every bucket collision to just the near-dups
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# n-gram Jaccard within explicit blocks (exact, small-block regime)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise Jaccard inside blocking-key groups (e.g. same lang +
    length bucket). Quadratic ONLY within a block — block sizing is the
    caller's scale contract.

    Same single-scan candidate-generation shape as the LSH operators
    (_bucket_pairs): ONE scan computes each doc's shingle array once, one
    groupBy(block) collects the sorted (id, shingles) structs, and the
    in-block pair explode emits ordered pairs JVM-side. The round-2..4
    two-sided self-join referenced the base plan twice, so every interpreted
    shingle expression evaluated TWICE and the equi-join shuffled two full
    streams; this halves both. A block's members must fit one task's memory —
    identical to before (the self-join also sent each block to one reducer),
    and exactly the small-block regime this operator contracts for.

    _ensure_parallelism: the shingle arrays are built BELOW the block-key
    exchange, i.e. on the scan's partitioning — a small single-file corpus
    would compute every shingle array on ONE core (measured at sf0.1 with the
    interpreted gram expression: 126 s -> 6 s). No-op at real scale.

    NULL block keys: groupBy treats NULL as a regular group, so rows with a
    NULL blocking value pair WITH EACH OTHER — unlike the pre-r5 self-join
    (SQL equi-joins never match NULL), and unlike a join-based oracle. The
    fixtures carry no NULL block columns; pre-filter NULL keys if yours do
    and you want join semantics.
    """
    base = _ensure_parallelism(df).select(
        *[F.col(c) for c in block_cols],
        # id FIRST: array_sort orders structs field-by-field, so members sort
        # by id and the pair explode emits id_a < id_b by construction.
        # Arrow grams UDF (make_grams_udf contract).
        F.struct(
            F.col(id_col).alias("i"), make_grams_udf(n)(F.col(text_col)).alias("s")
        ).alias("_m"),
    )
    blocks = (
        base.groupBy(*block_cols)
        .agg(F.array_sort(F.collect_list("_m")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    return (
        _bucket_pairs(blocks, "ms")
        .select(
            F.col("_a.i").alias("id_a"),
            F.col("_b.i").alias("id_b"),
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("_a.s", "_b.s")),
                    F.size(F.array_union("_a.s", "_b.s")),
                ),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# benchmark decontamination — the eval-overlap filter every LLM training
# pipeline runs before the corpus ships (flag training docs sharing any word
# n-gram with an evaluation/benchmark set). Exact by construction: n-gram
# hash semi-join, no similarity estimate involved.
# ---------------------------------------------------------------------------


def decontaminate_flags(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    use_broadcast: bool = True,
) -> DataFrame:
    """(id, n_eval_grams_hit, contaminated) per training document.

    A training doc is contaminated when ANY of its word ``n``-grams appears
    anywhere in the eval corpus — the classic 8-to-13-gram overlap rule for
    benchmark decontamination. ``n_eval_grams_hit`` counts the doc's DISTINCT
    n-grams found in the eval set (make_grams_udf already dedups grams per doc),
    so severity is rankable, and docs below ``n`` tokens fall back to
    whole-text membership (the make_grams_udf short-doc contract).

    Scale shape: the eval corpus is benchmarks — orders of magnitude smaller
    than the training corpus — so its distinct grams broadcast (~10^7 grams
    x ~60 B of UTF-8 ≈ 600 MB for a 10^5-doc eval suite), and the training
    side is ONE scan + explode + broadcast join + per-doc count. Nothing
    shuffles on the corpus. The join key is the gram STRING, not a 64-bit
    hash: with ~10^11-10^12 training grams against ~10^7 eval grams the
    expected xxhash64 collision count approaches O(1), i.e. hash-matching
    would flag a few clean documents per full-corpus run (and diverge from
    any string-comparing oracle) — string equality keeps "exact by
    construction" literally true, and once the set is broadcast the hash
    saved little (the build side is a hash map either way; if broadcast
    bytes ever matter, a 128-bit `unhex(md5(gram))` key cuts them ~4x at a
    ~1e-20 collision bound). For an unusually large eval set pass
    ``use_broadcast=False`` and the join shuffles on the gram string
    (uniform key — Spark hash-partitions the string itself).
    The gram explode is explode_OUTER, so gram-less (null-text) docs keep a
    row and the single aggregation covers the whole training corpus with a 0
    count — the output is what the downstream drop/keep filter consumes.
    """
    # null grams (a null-text doc shingles to [null]) are dropped on BOTH
    # sides: SQL `IN` semantics (the oracle) never match NULL, and null text
    # carries no content to decontaminate against.
    # Arrow-batched gram UDF on BOTH sides: this operator explodes grams for
    # the whole corpus, where an interpreted Catalyst gram expression costs
    # ~45x more cpu per doc (see make_grams_udf). _ensure_parallelism
    # spreads a small single-file scan across cores (no-op at scale).
    grams = make_grams_udf(n)
    # NO _ensure_parallelism on the eval side: the eval corpus is benchmark-
    # sized and the gram UDF is Arrow-batched, so the repartition's extra
    # shuffle stage costs more than the parallelism buys (measured 0.59 ->
    # 0.33 s at sf0.1)
    g_eval = (
        eval_df.select(F.col(text_col))
        .select(F.explode(grams(F.col(text_col))).alias("_g"))
        .filter(F.col("_g").isNotNull())
        .distinct()
    )
    hint = F.broadcast if use_broadcast else (lambda x: x)
    # _ensure_parallelism: a small single-file corpus scans as ONE partition
    # and the gram explode (the dominant cost) would run on one core
    # (measured 19.8 s -> ~2 s at sf0.1); no-op at real scale where the scan
    # has thousands of splits.
    # explode_OUTER keeps a null-gram row for gram-less (null-text) docs, so
    # ONE scan + ONE broadcast-left join + ONE aggregation covers the whole
    # training corpus — the earlier semi-join shape needed a second corpus
    # scan and a doc_id rejoin to restore clean docs (2 extra stages whose
    # driver latency dominated the query at small scale).
    g_train = _ensure_parallelism(train_df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode_outer(grams(F.col(text_col))).alias("_g"),
    )
    marked = g_train.join(
        hint(g_eval.select("_g", F.lit(1).alias("_h"))), "_g", "left"
    )
    return (
        marked.groupBy(id_col)
        .agg(F.sum(F.coalesce("_h", F.lit(0))).cast("long").alias("n_eval_grams_hit"))
        .select(
            id_col,
            "n_eval_grams_hit",
            (F.col("n_eval_grams_hit") > 0).alias("contaminated"),
        )
    )


def contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    use_broadcast: bool = True,
) -> DataFrame:
    """Per-EVAL-document contamination report — the inverse direction of
    decontaminate_flags, and the table an eval team actually reads: for each
    benchmark document, how much of it leaked into the training corpus.
    Returns ``(doc_id, n_grams_hit, n_train_docs_hit, contaminated)`` where
    ``n_grams_hit`` counts the eval doc's DISTINCT word n-grams found
    anywhere in training and ``n_train_docs_hit`` counts distinct training
    documents sharing >= 1 gram with it. Same gram contract as
    decontaminate_flags (lowercased shingles, short-doc whole-text fallback,
    null grams never match).

    Scale shape: the eval (id, gram) table is benchmark-sized and
    broadcasts; the training corpus is ONE scan + gram explode + broadcast
    join. The join output is only the overlap volume (shared grams x the
    eval docs containing them), and both count-distincts partial-aggregate.
    Clean eval docs are restored by a broadcast left join of the eval id
    list against the (eval-sized) hit aggregate — nothing ever shuffles on
    the training corpus.
    """
    grams = make_grams_udf(n)
    # eval side: Arrow-batched UDF over a benchmark-sized corpus — the
    # repartition stage costs more than it buys (see decontaminate_flags)
    g_eval = (
        eval_df.select(F.col(id_col), F.col(text_col))
        .select(F.col(id_col).alias("_eid"), F.explode(grams(F.col(text_col))).alias("_g"))
        .filter(F.col("_g").isNotNull())
    )
    g_train = (
        _ensure_parallelism(train_df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col).alias("_tid"), F.explode(grams(F.col(text_col))).alias("_g"))
        .filter(F.col("_g").isNotNull())
    )
    hint = F.broadcast if use_broadcast else (lambda x: x)
    pairs = g_train.join(hint(g_eval), "_g")
    agg = pairs.groupBy("_eid").agg(
        F.countDistinct("_g").alias("n_grams_hit"),
        F.countDistinct("_tid").alias("n_train_docs_hit"),
    )
    return (
        eval_df.select(F.col(id_col))
        .join(F.broadcast(agg), F.col(id_col) == F.col("_eid"), "left")
        .select(
            id_col,
            F.coalesce("n_grams_hit", F.lit(0)).cast("long").alias("n_grams_hit"),
            F.coalesce("n_train_docs_hit", F.lit(0)).cast("long").alias("n_train_docs_hit"),
            (F.coalesce("n_grams_hit", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# cross-corpus span dedup — C4's "deduplicate repeated spans across documents"
# (Raffel et al. 2020 dedup three-sentence spans; RefinedWeb/CCNet dedup
# paragraphs the same way): chunk every document into consecutive W-token
# spans, keep each distinct span's globally FIRST occurrence ordered by
# (doc_id, span_idx), rebuild documents from their surviving spans.
# ---------------------------------------------------------------------------


def make_chunks_udf(w: int):
    """Arrow-batched consecutive W-token chunker (NON-overlapping, ordered —
    unlike make_grams_udf's distinct sliding n-grams). Tokenizer kept
    byte-identical to the shared contract: ws_trim charset strip, lower,
    split on the WS class; null text behaves as '' (one empty chunk), so
    every document yields >= 1 span and the rebuilt corpus keeps a row per
    doc in both engines."""
    import re

    from ..functions.extract import _WS

    ws_re = re.compile("[" + _WS + "]+")

    def _batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = ws_re.split((t or "").strip(_WS).lower())
            out.append([" ".join(toks[i : i + w]) for i in range(0, len(toks), w)])
        return pd.Series(out)

    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_batch, "array<string>")


def span_dedup(
    df: DataFrame,
    w: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, clean_text, n_kept, n_spans): drop every repeated W-token
    span's later occurrences ACROSS the whole corpus and rebuild each
    document from its surviving spans (C4-style span dedup — exact copies
    lose all their spans to the first copy; near-copies keep only their
    novel tail).

    Keep rule: a span survives iff it is the lexicographically-first
    (doc_id, span_idx) occurrence of its exact text — deterministic,
    engine-portable, and insertion-order independent.

    Scale shape: ONE corpus scan -> Arrow chunker -> posexplode; the only
    corpus-sized shuffle keys on the span text (uniform — spans are
    near-unique by construction after chunking), then one groupBy(doc_id)
    rebuild. At 100 TB you'd shuffle xxhash64(span) + a tiny tie-break
    instead of the string; the string key keeps the DuckDB twin exact at
    test scale and the plan identical."""
    chunks = make_chunks_udf(w)
    ex = _ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.posexplode(chunks(F.col(text_col))).alias("span_idx", "span")
    )
    w_first = Window.partitionBy("span").orderBy(F.col(id_col), F.col("span_idx"))
    kept = ex.withColumn("_kept", F.row_number().over(w_first) == 1)
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("_kept"), F.struct("span_idx", "span")))
                ),
                lambda s: s["span"],
            ),
        ).alias("clean_text"),
        F.count(F.when(F.col("_kept"), F.lit(1))).alias("n_kept"),
        F.count(F.lit(1)).alias("n_spans"),
    )
