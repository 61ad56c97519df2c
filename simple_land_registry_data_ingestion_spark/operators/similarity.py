"""Similarity search over embedding columns: brute-force top-k and
sign-random-projection LSH (the scale path).

Baseline: exact cosine top-k as one scan + TakeOrderedAndProject — O(n) per
query, the right answer up to ~10^8 vectors per query batch.  Scale path:
8-bit sign-LSH bucketing; queries probe only their bucket, turning top-k
into a bucket-local scan (~n/256 of the data per probe).  Both are
deterministic: hyperplanes derive from md5, ties break on vec_id.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.functions.vectors import dot, infer_dim, norm
from simple_land_registry_data_ingestion_spark.tables import fan_out, load

NUM_PLANES = 8
QUERY_VEC_ID = 0  # deterministic query vector for the verifiable queries


def _query_side(emb: DataFrame, query_vec_id: int) -> DataFrame:
    """One-row query side with its norm precomputed (broadcast later)."""
    return emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
    )


def _cosine_vs_query(vec: Column) -> Column:
    """cosine(vec, q_vec) with the query norm reused from the broadcast row.

    The candidate norm fold runs once per candidate row; the query norm fold
    runs once total — same float semantics as the oracle's
    dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) but with the folds hoisted (HOF
    folds are interpreted, not codegen'd, so per-pair recomputation is the
    hot cost at scale)."""
    return dot(vec, F.col("q_vec")) / (norm(vec) * F.col("q_norm"))


def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for one query vector.

    The 1-row query side broadcasts; the candidate scan never shuffles and
    Spark plans TakeOrderedAndProject for the limit (per-task heaps, no
    global sort).  This plan is unchanged at 10^9 candidates."""
    emb = load(spark, sf_dir, "embeddings")
    q = _query_side(emb, QUERY_VEC_ID)
    scored = (
        fan_out(emb.where(F.col("vec_id") != QUERY_VEC_ID))
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.round(_cosine_vs_query(F.col("embedding")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(10)


def _plane_weight(plane: int, dim_index: Column) -> Column:
    """Deterministic pseudorandom hyperplane weight in [-7.5, 7.5] \\ {0}:
    first md5 nibble of '<plane>:<dim>' minus 7.5."""
    nib_char = F.substring(
        F.md5(F.concat(F.lit(f"{plane}:"), dim_index.cast("string"))), 1, 1
    )
    return (F.instr(F.lit("0123456789abcdef"), nib_char) - 1).cast("double") - 7.5


def _plane_weights(plane: int, vec: Column) -> Column:
    """Weight array for one hyperplane, sized to ``vec``.

    NOTE: must be a standalone function, not an inline loop lambda — PySpark
    determines higher-order-function arity by inspecting the Python lambda's
    parameter count, so the `lambda i, _p=p:` closure idiom silently becomes
    a binary (element, index) lambda and binds the wrong argument.
    """
    return F.transform(
        F.sequence(F.lit(1), F.size(vec)),
        lambda i: _plane_weight(plane, i),
    )


def signature_bits(vec: Column, num_planes: int = NUM_PLANES) -> Column:
    """Sign-LSH bucket key: for each md5-derived hyperplane, the sign bit of
    <vec, plane>.  The dot product is a sequential fold over a generated
    weight array — deterministic float order, so the same vector always
    lands in the same bucket on any engine."""
    bits = []
    for p in range(num_planes):
        weighted = F.zip_with(
            vec, _plane_weights(p, vec), lambda x, w: x.cast("double") * w
        )
        dot_p = F.aggregate(weighted, F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(dot_p > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def similarity_ann_lsh(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Approximate NN: candidates = vectors in the query's sign-LSH bucket,
    ranked by exact cosine, top-k.  At 100 TB the bucket key is also the
    at-rest partition key, so a probe reads one partition, not the corpus.
    (Recall tuning = fewer planes or multi-probe; deterministic either way.)
    """
    emb = fan_out(load(spark, sf_dir, "embeddings")).withColumn(
        "bucket", signature_bits(F.col("embedding"))
    )
    q = (
        emb.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"),
                norm(F.col("embedding")).alias("q_norm"),
                F.col("bucket").alias("q_bucket"))
    )
    candidates = emb.where(F.col("vec_id") != QUERY_VEC_ID).join(
        F.broadcast(q), F.col("bucket") == F.col("q_bucket")
    )
    scored = candidates.select(
        "vec_id",
        "bucket",
        F.round(_cosine_vs_query(F.col("embedding")), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def similarity_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN: candidates come from the query's bucket
    AND every bucket within hamming distance 1 of it — the
    standard recall knob for sign-LSH (a near neighbor that lands just
    across one hyperplane is recovered from the adjacent bucket).  Probing
    b+1 of the 2^b buckets reads ~(1+b)/2^b of the corpus instead of
    1/2^b; at rest the probe is still partition-pruned, one partition per
    probed bucket."""
    emb = fan_out(load(spark, sf_dir, "embeddings")).withColumn(
        "bucket", signature_bits(F.col("embedding"))
    )
    q = (
        emb.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("q_vec"),
                norm(F.col("embedding")).alias("q_norm"),
                F.col("bucket").alias("q_bucket"))
    )
    hamming = sum(
        F.when(
            F.substring(F.col("bucket"), i, 1) != F.substring(F.col("q_bucket"), i, 1),
            1,
        ).otherwise(0)
        for i in range(1, NUM_PLANES + 1)
    )
    candidates = emb.where(F.col("vec_id") != QUERY_VEC_ID).join(
        F.broadcast(q), hamming <= 1
    )
    scored = candidates.select(
        "vec_id",
        "bucket",
        F.round(_cosine_vs_query(F.col("embedding")), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(5)


def write_ann_bucket_layout(emb: DataFrame, path: str) -> None:
    """Write the embedding corpus PARTITIONED BY its sign-LSH bucket — the
    at-rest layout the ANN probe path assumes at 100 TB (probe reads one
    directory, not the corpus).

    The ``repartition("bucket")`` before the write is the small-files
    guard: without it every write task holds an open file per bucket it
    sees (tasks x 2^b files of a few KB each); with it each bucket's rows
    converge on one task and each partition directory gets one
    well-sized file.  At larger corpora repartition(N, "bucket") with
    N > 2^b splits hot buckets across several files while keeping the
    directory layout identical."""
    (
        emb.withColumn("bucket", signature_bits(F.col("embedding")))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def probe_ann_bucket_layout(
    spark: SparkSession, path: str, bucket: str, query_vec_id: int, k: int = 5
) -> DataFrame:
    """Top-k cosine probe against a bucket-partitioned ANN layout.

    ``bucket`` arrives as a literal (the caller knows the query vector, so
    its signature is computable client-side), which makes the bucket
    predicate a STATIC partition filter: the scan plans PartitionFilters
    on ``bucket`` and reads exactly one directory of the layout.  The
    query row itself is read from the same pruned partition and
    broadcast."""
    part = spark.read.parquet(path).where(F.col("bucket") == bucket)
    q = part.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    scored = (
        part.where(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_cosine_vs_query(F.col("embedding")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def similarity_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED ANN: top-k neighbors for a whole batch of query vectors in
    ONE bucketed pass — the production serving shape (queries arrive in
    batches; running the single-query plan per query re-scans the corpus
    batch-size times).

    Plan: the query batch (vec_id < 8) broadcasts with its
    buckets; candidates equi-join on bucket equality — every query only
    meets its own bucket's candidates, so the scored pair count is
    sum-over-queries of bucket sizes, never |batch| x |corpus|.  One
    window partitioned by query keeps each query's top-k.  At rest the
    same probe partition-prunes per bucket (write_ann_bucket_layout)."""
    emb = fan_out(load(spark, sf_dir, "embeddings")).withColumn(
        "bucket", signature_bits(F.col("embedding"))
    )
    q = (
        emb.where(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            norm(F.col("embedding")).alias("q_norm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    candidates = emb.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket"))
        & (F.col("vec_id") != F.col("q_id")),
    )
    scored = candidates.select(
        "q_id",
        "vec_id",
        F.round(_cosine_vs_query(F.col("embedding")), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("q_id", "vec_id", "cosine", "rnk")
    )


def similarity_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket occupancy — the skew diagnostic for the ANN path."""
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    return (
        emb.select(signature_bits(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the second ANN scale path next to sign-LSH
# ---------------------------------------------------------------------------

NUM_CENTROIDS = 16


def _centroids(emb: DataFrame, k: int = NUM_CENTROIDS) -> DataFrame:
    """Deterministic one-pass IVF "training": the first ``k`` vectors by
    vec_id are the centroids (random-seed init without Lloyd iterations —
    assignment quality is data-dependent, determinism is what the oracle
    needs).  kmeans_refine_centroids runs Lloyd iterations from this init."""
    return emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("c_norm"),
    )


def ivf_assignments(emb: DataFrame, k: int = NUM_CENTROIDS) -> DataFrame:
    """(vec_id, centroid_id) for every vector: nearest centroid by cosine.

    The centroid table broadcasts (K rows); each vector scores K cosines in
    one pass and keeps the argmax via a row_number window partitioned by
    vec_id — K*n scored pairs but only the vector's own K rows pass the
    window, so nothing big ever shuffles: the exchange moves n rows keyed by
    vec_id.  Ties break on centroid_id, making assignment deterministic.
    At 100 TB the assignment is the IVF index-build; it is written once as
    the at-rest partition key (PARTITIONED BY centroid_id), so a probe
    reads one partition, exactly like the LSH bucket layout.

    The vector's own norm is hoisted BEFORE the K-way cross join — the HOF
    fold is interpreted, so computing it once instead of K times is a
    direct K-fold saving on half the cosine cost (float semantics
    unchanged: same fold, same order, evaluated earlier)."""
    with_norm = emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    scored = with_norm.crossJoin(F.broadcast(_centroids(emb, k))).select(
        "vec_id",
        "centroid_id",
        (
            dot(F.col("embedding"), F.col("c_vec"))
            / (F.col("nrm") * F.col("c_norm"))
        ).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("c_cos").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )


def kmeans_refine_centroids(emb: DataFrame, iterations: int = 2) -> DataFrame:
    """Lloyd refinement of the IVF centroids — the k-means step the
    first-K-vectors init (_centroids) stands in for.  Returns the refined
    centroid table ``(centroid_id, c_vec, c_norm)``.

    Each iteration is two distributed passes, no driver-side vectors:
      1. assign: every vector scores K broadcast centroids, keeps argmax
         cosine (same plan as ivf_assignments);
      2. recenter: elementwise mean per cluster via posexplode ->
         (centroid, dim) average -> array reassembly.  The exchange moves
         n*dim (centroid, pos, value) rows keyed by (centroid, pos) —
         linear in data, never quadratic.
    Centroids are localCheckpoint'd per iteration (lineage would otherwise
    double per pass).  At 100 TB this IS k-means — Spark MLlib's own
    KMeans runs the same assign/recenter dataflow.

    Determinism across engines: the per-dim means are QUANTIZED to 6
    decimals inside the loop, and the argmax compares cosines rounded to 6
    decimals (ties then break on centroid_id).  Float summation order is
    the only engine-dependent input, and its ulp-scale wobble vanishes
    under the quantization, so the refined centroids — and everything
    computed from them — are bit-identical on any engine running the same
    recurrence.  That is what lets the full 2-iteration Lloyd loop carry a
    plain SQL oracle instead of a rows-only check."""
    cent = _centroids(emb, NUM_CENTROIDS).localCheckpoint(eager=True)
    with_norm = emb.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    for _ in range(iterations):
        scored = with_norm.crossJoin(F.broadcast(cent)).select(
            "vec_id",
            "embedding",
            "centroid_id",
            F.round(
                dot(F.col("embedding"), F.col("c_vec"))
                / (F.col("nrm") * F.col("c_norm")),
                6,
            ).alias("c_cos"),
        )
        # argmax as a max_by hash aggregate: the ordering struct
        # (c_cos desc, centroid_id asc via negation) is the same total
        # order the previous row_number window applied, but the
        # aggregate map-side-combines each vector's K centroid rows to
        # one before the exchange — no sort stage, n rows on the wire
        # instead of n*K.
        assigned = (
            scored.groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct("embedding", "centroid_id"),
                    F.struct(
                        F.col("c_cos"), (-F.col("centroid_id")).alias("neg")
                    ),
                ).alias("best")
            )
            .select(
                "vec_id",
                F.col("best.embedding").alias("embedding"),
                F.col("best.centroid_id").alias("centroid_id"),
            )
        )
        by_dim = assigned.select(
            "centroid_id", F.posexplode("embedding").alias("pos", "v")
        )
        dim_means = by_dim.groupBy("centroid_id", "pos").agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("m")
        )
        cent = (
            dim_means.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: x["m"],
                ).alias("c_vec")
            )
            .select("centroid_id", "c_vec", norm(F.col("c_vec")).alias("c_norm"))
            .localCheckpoint(eager=True)
        )
    return cent


def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index statistics after 2 Lloyd iterations: per refined centroid,
    its member count and mean member-to-centroid cosine (the compactness
    measure k-means optimizes; it rises vs the unrefined init).

    Oracle-expressible because the loop quantizes (see
    kmeans_refine_centroids): the DuckDB twin unrolls the same 2
    assign/recenter iterations with the same 6-decimal rounding and lands
    on bit-identical centroids.  tests/test_plans.py additionally pins the
    convergence property (refined compactness >= init compactness)."""
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    return ivf_cluster_stats(emb, kmeans_refine_centroids(emb))


def ivf_cluster_stats(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Per-centroid member count and mean assigned cosine for a given
    centroid table (broadcast-K scoring, argmax window, one group;
    vector norms hoisted out of the K-way loop).  Cosines are rounded to 6
    decimals before the argmax and the mean — same quantization discipline
    as the Lloyd loop, so the stats are engine-independent."""
    with_norm = emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    scored = with_norm.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        F.round(
            dot(F.col("embedding"), F.col("c_vec"))
            / (F.col("nrm") * F.col("c_norm")),
            6,
        ).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("c_cos").desc(), F.col("centroid_id")
    )
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "c_cos")
    )
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("c_cos"), 4).alias("mean_cosine"),
        )
        .orderBy("centroid_id")
    )


def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF probe: assign all vectors to centroids, find
    the query's centroid, rank only that cluster by exact cosine, top-k.

    nprobe=1 (one cluster) — the recall/latency knob at scale is probing
    the p nearest centroids instead; the plan shape does not change."""
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    assign = ivf_assignments(emb)
    with_cluster = emb.join(assign, "vec_id")
    q = (
        with_cluster.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("q_vec"),
            norm(F.col("embedding")).alias("q_norm"),
            F.col("centroid_id").alias("q_centroid"),
        )
    )
    candidates = with_cluster.where(F.col("vec_id") != QUERY_VEC_ID).join(
        F.broadcast(q), F.col("centroid_id") == F.col("q_centroid")
    )
    scored = candidates.select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round(_cosine_vs_query(F.col("embedding")), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(5)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces
PQ_K = 16         # codewords per subspace -> one hex nibble per subspace


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 as a sequential left fold (deterministic float order,
    mirrored term-by-term by the oracle's explicit left-associated sum)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codebook(emb: DataFrame, sub_dim: int) -> DataFrame:
    """Deterministic PQ codebook: the k vectors with the smallest
    (md5(vec_id), vec_id) act as codewords, split into m sub-vectors.

    The draw is a TakeOrderedAndProject (distributed per-task heaps over
    the full corpus, k rows out) — no global sort, no collect.  Production
    codebooks come from k-means per subspace (kmeans_refine_centroids is
    the building block in this module); the hash-sample codebook keeps the operator exactly reproducible
    cross-engine, which is what the oracle gate needs.  Output: one row per
    (s, code_id) with the codeword sub-vector — m*k tiny rows, always
    broadcast by consumers.
    """
    train = (
        emb.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("draw"),
        )
        .orderBy("draw", "vec_id")
        .limit(PQ_K)
    )
    w = Window.orderBy("draw", "vec_id")
    coded = train.withColumn("code_id", (F.row_number().over(w) - 1).cast("int"))
    return coded.select(
        "code_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
        F.slice(
            "embedding", F.col("s") * sub_dim + 1, F.lit(sub_dim)
        ).alias("cvec"),
    )


def pq_encode(emb: DataFrame, codebook: DataFrame, sub_dim: int) -> DataFrame:
    """Encode every vector to m code ids (nearest codeword per subspace).

    The codebook is pre-grouped to one row per subspace (an array of
    codewords) and broadcast, so encoding is a NARROW map: each vector
    explodes to m subspace rows, and the argmin over codewords happens
    inside an array expression (array_min over (distance, code_id)
    structs) — no shuffle, no per-codeword join fan-out.  This is the pass
    that turns 100 TB of float vectors into m bytes per vector at rest.
    Distances are rounded to 6 dp before the argmin so engines with
    different (but equally valid) float summation cannot flip a
    near-tie differently.
    """
    cb_arr = codebook.groupBy("s").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("code_id"), F.col("cvec")))
        ).alias("codes")
    )
    sub = emb.select(
        "vec_id", "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
    ).select(
        "vec_id", "s",
        F.slice(
            F.col("embedding"), F.col("s") * sub_dim + 1, F.lit(sub_dim)
        ).alias("sub"),
    )
    best = F.array_min(
        F.transform(
            F.col("codes"),
            lambda c: F.struct(
                F.round(_l2sq(F.col("sub"), c["cvec"]), 6).alias("d"),
                c["code_id"].alias("code_id"),
            ),
        )
    )
    return (
        sub.join(F.broadcast(cb_arr), "s")
        .select("vec_id", "s", best["code_id"].alias("code_id"))
    )


def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: top-k by asymmetric distance computation.

    The corpus is PQ-encoded (PQ_M nibbles per vector — a 512x compression
    of a 64-dim float vector); the query stays exact.  ADC precomputes the
    query's distance to every codeword (an m*k lookup table, broadcast) and
    scores each encoded vector as the SUM of m table lookups — no float
    vector is touched at query time, which is why PQ is the at-rest format
    for billion-scale ANN.  Scale: one narrow encode pass + one broadcast
    lookup join + one groupBy(vec_id) over m rows per vector; the final
    top-k is TakeOrderedAndProject.
    """
    emb = load(spark, sf_dir, "embeddings")
    sub_dim = max(1, infer_dim(emb, "embedding") // PQ_M)
    cb = pq_codebook(emb, sub_dim)
    enc = pq_encode(fan_out(emb), cb, sub_dim)
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
        F.col("embedding").alias("q_vec"),
    ).select(
        "s",
        F.slice(
            F.col("q_vec"), F.col("s") * sub_dim + 1, F.lit(sub_dim)
        ).alias("q_sub"),
    )
    qtab = (
        q.join(cb, "s")
        .select(
            "s", "code_id",
            F.round(_l2sq(F.col("q_sub"), F.col("cvec")), 6).alias("qd"),
        )
    )
    nib = F.lower(F.conv(F.col("code_id").cast("string"), 10, 16))
    return (
        enc.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qtab), ["s", "code_id"])
        .withColumn("nib", nib)
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "nib"))),
                    lambda x: x["nib"],
                ),
            ).alias("pq_code"),
            F.round(F.sum("qd"), 6).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimensionality reduction)
# ---------------------------------------------------------------------------

JL_OUT_DIM = 16


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch: project 64-dim embeddings to
    JL_OUT_DIM with a deterministic Rademacher (+-1/sqrt(k)) matrix derived
    from md5 — 4x smaller vectors whose pairwise distances are preserved in
    expectation, the standard pre-ANN compression when PQ's lossy codes are
    too coarse.

    The matrix is GENERATED per expression (hash of (j, i)), so nothing is
    trained, stored, or broadcast; the pass is a narrow scan-speed map.
    Output is EXPLODED to (vec_id, out_dim, value) rows — arrays are opaque
    to the driver's hash compare (multimodal_frame_sample lesson), and the
    long shape also writes/joins better at rest."""
    emb = load(spark, sf_dir, "embeddings")
    projected = fan_out(emb).select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(JL_OUT_DIM - 1))).alias("out_dim"),
        F.col("embedding").alias("e"),
    )

    def proj_value(j_col: Column, vec: Column) -> Column:
        # weight array depends on the literal j of this row: build it by
        # folding over dims with the row's out_dim as part of the hash seed
        weights = F.transform(
            F.sequence(F.lit(1), F.size(vec)),
            lambda i: _jl_weight_dyn(j_col, i),
        )
        return F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return projected.select(
        "vec_id",
        F.col("out_dim").cast("long").alias("out_dim"),
        F.round(proj_value(F.col("out_dim"), F.col("e")), 6).alias("value"),
    )


def _jl_weight_dyn(j_col: Column, dim_index: Column) -> Column:
    """Deterministic +-1/sqrt(k) Rademacher weight from md5('jl<j>:<i>'),
    with j as a COLUMN (the exploded output dimension)."""
    seed = F.concat(
        F.lit("jl"), j_col.cast("string"), F.lit(":"), dim_index.cast("string")
    )
    sign_bit = (F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(seed), 1, 1)) - 1) >= 8
    scale = 1.0 / (JL_OUT_DIM ** 0.5)
    return F.when(sign_bit, F.lit(scale)).otherwise(F.lit(-scale))


def similarity_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the billion-scale ANN composition — an IVF coarse quantizer
    narrows the search to one centroid's inverted list, and PQ codes of the
    RESIDUALS (vector minus its centroid) replace the float vectors inside
    the list.  Residual encoding is what makes PQ codes sharp at scale:
    residual magnitudes are a fraction of the raw vectors', so the same
    16-codeword budget quantizes far finer.

    At rest: centroid_id is the partition key (one directory per inverted
    list), PQ_M nibbles per vector inside — a probe reads one partition of
    codes and never touches a float vector.  Query time: ADC table built
    once against the query's residual (m*k rows, broadcast), candidates =
    the query's list, score = m lookups each.

    All three trained artifacts (centroids, assignments, codebook) are the
    deterministic variants proven by their standalone queries
    (similarity_ann_ivf / similarity_pq_adc); production swaps in k-means
    centroids and per-subspace k-means codebooks with the same plan shape.
    """
    emb = load(spark, sf_dir, "embeddings")
    assign = ivf_assignments(emb)
    cent = _centroids(emb)
    # localCheckpoint: the residual table feeds FOUR consumers (codebook
    # draw, encode, query residual, candidate list) — materializing it once
    # keeps the plan linear instead of repeating the assignment-window
    # subtree per consumer (same discipline as dedup_simhash_pairs)
    res = (
        emb.join(assign, "vec_id")
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(
                "embedding", "c_vec",
                lambda x, c: x.cast("double") - c.cast("double"),
            ).alias("embedding"),
        )
        .localCheckpoint(eager=False)
    )
    sub_dim = max(1, infer_dim(emb, "embedding") // PQ_M)
    cb = pq_codebook(res, sub_dim)
    enc = pq_encode(fan_out(res), cb, sub_dim)

    q_res = res.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("centroid_id").alias("q_centroid"),
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
        F.col("embedding").alias("q_re"),
    ).select(
        "q_centroid", "s",
        F.slice(F.col("q_re"), F.col("s") * sub_dim + 1, F.lit(sub_dim)).alias("q_sub"),
    )
    qtab = q_res.join(cb, "s").select(
        "q_centroid",
        F.col("s").alias("q_s"),
        F.col("code_id").alias("q_code"),
        F.round(_l2sq(F.col("q_sub"), F.col("cvec")), 6).alias("qd"),
    )
    nib = F.lower(F.conv(F.col("code_id").cast("string"), 10, 16))
    return (
        enc.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(res.select("vec_id", "centroid_id").distinct(), "vec_id")
        .join(
            F.broadcast(qtab),
            (F.col("centroid_id") == F.col("q_centroid"))
            & (F.col("s") == F.col("q_s"))
            & (F.col("code_id") == F.col("q_code")),
        )
        .withColumn("nib", nib)
        .groupBy("vec_id", "centroid_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("nib")))),
                    lambda x: x["nib"],
                ),
            ).alias("pq_code"),
            F.round(F.sum("qd"), 6).alias("adc_dist"),
        )
        .select(
            "vec_id",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            "pq_code", "adc_dist",
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the sign-LSH ANN against exact brute-force ground truth
    over a batch of query vectors — the evaluation harness every ANN
    deployment runs before trusting an index (FAISS/ScaNN benchmark shape).

    Per query: ground truth = exact cosine top-k over the corpus; the ANN
    answer = top-k restricted to the query's LSH bucket; recall = overlap/k,
    reported next to ``n_candidates`` (the bucket's corpus share) so the
    recall/selectivity trade reads off one row.  Both rankings order by the
    6-dp-ROUNDED cosine then vec_id, so the cut at position k is
    engine-exact (raw float ordering would let a last-ulp difference flip
    two near-equal neighbors across engines).

    3 planes (8 buckets), not the index's NUM_PLANES = 8 (256 buckets):
    the synthetic embeddings are near-isotropic, and the harness MEASURES
    that — at 8 planes single-probe recall collapses to ~0.01, at 3 planes
    it is ~0.18 for ~1/8 of the corpus scanned per probe.  That finding
    (this index needs multiprobe or IVF on this distribution) is exactly
    what the evaluation exists to catch before production.

    Scale shape: the corpus is scored ONCE against the broadcast query
    batch (an eval sample is small by construction — Q rows against 10^9):
    one scan, cosine + bucket computed per (candidate, query), then two
    per-query top-k windows over the same scored frame — ground truth over
    everything, ANN over the in-bucket subset (a cheap flag, not a second
    scan).  The recall join and rollup run on Q*k rows.  Exactly one
    corpus-wide shuffle (the window's q_id hash), and q_id has
    20 distinct values, so AQE coalesces it to the query count.
    """
    k = 10
    emb = fan_out(load(spark, sf_dir, "embeddings")).withColumn(
        "bucket", signature_bits(F.col("embedding"), 3)
    )
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(_cosine_vs_query(F.col("embedding")), 6).alias("cosine"),
            (F.col("bucket") == F.col("q_bucket")).alias("in_bucket"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    truth = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id")
    )
    ann = (
        scored.where("in_bucket")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", F.col("vec_id").alias("ann_vec_id"))
    )
    cand_counts = (
        scored.where("in_bucket")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    hits = truth.join(
        ann,
        (truth.q_id == ann.q_id) & (truth.vec_id == ann.ann_vec_id),
        "left",
    ).select(truth.q_id, F.col("ann_vec_id").isNotNull().alias("hit"))
    return (
        hits.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("n_hit"),
        )
        .join(F.broadcast(cand_counts), "q_id")
        .select(
            "q_id",
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(F.col("n_hit") / F.lit(k), 6).alias("recall_at_k"),
        )
    )


def similarity_range_search(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.30,
    k: int = NUM_CENTROIDS,
    emb: DataFrame | None = None,
) -> DataFrame:
    """EXACT cosine RANGE search (all neighbors with cosine >= t, not
    top-k) with LOSSLESS cluster pruning — the radius-query twin of the
    ANN family, certified against the unpruned brute-force oracle.

    The triangle-inequality bound on the unit sphere: for any vector x in
    cluster c with angular radius r_c = max angle(c, x), and query q at
    angle theta_qc from c, every member satisfies
    angle(q, x) >= theta_qc - r_c, hence
    cos(q, x) <= cos(max(0, theta_qc - r_c)).  Clusters whose bound falls
    below t cannot contain a match and are skipped WITHOUT scoring — the
    same prune FAISS's IMI/IVF range_search applies, and provably
    lossless (the oracle is the full scan, so a green row certifies no
    neighbor was pruned away).  A 1e-9 slack on the comparison keeps
    float last-ulp differences from ever over-pruning.

    Honesty note (same spirit as similarity_recall_at_k): the prune
    factor is DATA-dependent.  On these near-isotropic synthetic
    embeddings cluster radii approach 90 degrees and the bound rarely
    excludes anything, so the query degenerates to the (already linear,
    broadcast-join) full scan; on real clustered embedding corpora the
    same plan skips most cells.  The plan shape, not this corpus's prune
    rate, is the 100 TB story: queries broadcast, members scored only in
    surviving (q, cluster) cells, one corpus scan, no pairwise shuffle.

    Output: (q_id, vec_id, cosine) for every corpus vector within the
    radius, self-pairs excluded, cosine 6-dp rounded (the rounded value
    is also what the threshold tests, so the cut is engine-exact).
    ``emb`` overrides the corpus (tests inject a CLUSTERED frame to prove
    the prune both fires and stays lossless); the surviving
    (query, cluster) cells are exposed by the separate
    ``range_search_surviving_cells`` accessor for the same diagnostics
    purpose as jaccard_prefix_candidates."""
    return _range_search_build(spark, sf_dir, threshold, k, emb).matches


def range_search_surviving_cells(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.30,
    k: int = NUM_CENTROIDS,
    emb: DataFrame | None = None,
) -> DataFrame:
    """The (q_id, centroid_id) cells that survive the triangle-inequality
    prune of ``similarity_range_search`` — a separate accessor (not an
    attribute monkey-patched onto the result DataFrame, which any
    transform would silently drop) so tests can measure the prune."""
    return _range_search_build(spark, sf_dir, threshold, k, emb).surviving


class _RangeSearchParts(NamedTuple):
    matches: DataFrame
    surviving: DataFrame


def _range_search_build(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    k: int,
    emb: DataFrame | None,
) -> "_RangeSearchParts":
    if emb is None:
        emb = load(spark, sf_dir, "embeddings")
    cent = _centroids(emb, k)
    assign = ivf_assignments(emb, k)
    members = emb.join(assign, "vec_id").select(
        "vec_id", "embedding", "centroid_id", norm(F.col("embedding")).alias("m_norm")
    )
    clamp = lambda c: F.least(F.lit(1.0), F.greatest(F.lit(-1.0), c))  # noqa: E731
    m_theta = F.acos(
        clamp(
            dot(F.col("embedding"), F.col("c_vec"))
            / (F.col("m_norm") * F.col("c_norm"))
        )
    )
    radius = (
        members.join(F.broadcast(cent), "centroid_id")
        .groupBy("centroid_id")
        .agg(F.max(m_theta).alias("r_c"))
    )
    q = emb.where(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    q_theta = F.acos(
        clamp(
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
        )
    )
    surviving = (
        q.crossJoin(F.broadcast(cent))
        .join(F.broadcast(radius), "centroid_id")
        .where(
            F.cos(F.greatest(F.lit(0.0), q_theta - F.col("r_c")))
            >= F.lit(threshold - 1e-9)
        )
        .select("q_id", "q_vec", "q_norm", "centroid_id")
    )
    cos = dot(F.col("embedding"), F.col("q_vec")) / (
        F.col("m_norm") * F.col("q_norm")
    )
    out = (
        members.join(F.broadcast(surviving), "centroid_id")
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", F.round(cos, 6))
        .where(F.col("cosine") >= F.lit(threshold))
        .select("q_id", "vec_id", "cosine")
    )
    return _RangeSearchParts(
        matches=out, surviving=surviving.select("q_id", "centroid_id")
    )


def similarity_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar-quantization (SQ8) certification: per-dimension min/max
    over the corpus define a 256-level uniform grid; every coordinate is
    quantized to its nearest level and reconstructed, and the query
    reports each vector's reconstruction MSE and max absolute error —
    the FAISS ScalarQuantizer storage path that cuts vector memory 4x
    before any PQ/IVF structure, certified end-to-end like
    similarity_pq_adc certifies the product-quantization path.

    Plan: one posexplode + groupBy(dim) produces the DIM-sized stats
    frame (64 rows), collected into two aligned arrays and broadcast —
    the corpus is then scanned ONCE with row-local zip_with arithmetic;
    no second shuffle, no pairwise anything.  At 100 TB the stats frame
    is a constant-size aggregation and the encode is a map-only pass —
    exactly how an at-rest SQ8 rewrite would run.

    Determinism: quantization is round-half-up on identical doubles,
    error folds run in array (dimension) order on both engines, min/max
    are order-free — every number in the output is bit-reproducible.

    Output: (vec_id, mse, max_abs_err), 8 dp."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    dims = emb.select(F.posexplode(e).alias("dim", "x"))
    stats = dims.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    bounds = stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))),
            lambda s: s["mn"],
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))),
            lambda s: s["mx"],
        ).alias("maxs"),
    )
    code = lambda x, mn, mx: F.round(  # noqa: E731
        F.lit(255.0) * (x - mn) / (mx - mn)
    )
    err = lambda x, mn, mx: F.when(  # noqa: E731
        mx > mn, x - (mn + code(x, mn, mx) / 255 * (mx - mn))
    ).otherwise(F.lit(0.0))
    errs = F.zip_with(
        e,
        F.arrays_zip("mins", "maxs"),
        lambda x, b: err(x, b["mins"], b["maxs"]),
    )
    return (
        emb.crossJoin(F.broadcast(bounds))
        .select("vec_id", errs.alias("errs"))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    "errs", F.lit(0.0), lambda acc, x: acc + x * x
                )
                / F.size("errs"),
                8,
            ).alias("mse"),
            F.round(
                F.array_max(F.transform("errs", lambda x: F.abs(x))), 8
            ).alias("max_abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka dimension-truncation quality sweep
# ---------------------------------------------------------------------------

def similarity_matryoshka_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / dimension-truncation retrieval-quality sweep: for
    each prefix-dimension budget d in (8, 16, 32, 64), how much of the FULL-vector top-k
    does cosine over only the first d dimensions recover, and how far do
    the true top-k items drift in the truncated ranking?  This is the
    certification you run before shipping truncated embeddings (MRL-style
    prefix truncation is the standard storage/latency lever) — it turns
    "64 dims is probably enough" into measured overlap@k per budget.

    Both rankings are EXACT and engine-deterministic: the truncated
    cosine folds ``slice(vec, 1, d)`` left-to-right exactly like the full
    cosine (same sequential dot product on both engines), ranks are
    row_number with a vec_id tiebreak, and the outputs — overlap@k and
    the summed rank displacement of the true top-k — are pure BIGINT, so
    the hash gate carries no float aggregation at all.

    Scale shape: ONE candidate scan fanned out |budgets| times via an
    exploded literal array (a projection, not a join); each budget's two
    rankings are windows over the budget partition.  At 100 TB the
    windows become per-budget top-k TakeOrdered passes; the certification
    output stays |budgets| rows regardless of corpus size."""
    k = 10
    emb = load(spark, sf_dir, "embeddings")
    q = _query_side(emb, QUERY_VEC_ID)
    scored = (
        fan_out(emb.where(F.col("vec_id") != QUERY_VEC_ID))
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.explode(F.array([F.lit(d) for d in (8, 16, 32, 64)])).alias("budget"),
            F.col("embedding").alias("e"),
            F.col("q_vec"),
            F.col("q_norm"),
        )
        .select(
            "budget",
            "vec_id",
            (
                dot(F.slice("e", 1, F.col("budget")), F.slice("q_vec", 1, F.col("budget")))
                / (
                    norm(F.slice("e", 1, F.col("budget")))
                    * norm(F.slice("q_vec", 1, F.col("budget")))
                )
            ).alias("cos_trunc"),
            (dot(F.col("e"), F.col("q_vec")) / (norm(F.col("e")) * F.col("q_norm"))).alias(
                "cos_full"
            ),
        )
    )
    w_full = Window.partitionBy("budget").orderBy(
        F.col("cos_full").desc(), F.col("vec_id")
    )
    w_trunc = Window.partitionBy("budget").orderBy(
        F.col("cos_trunc").desc(), F.col("vec_id")
    )
    ranked = scored.select(
        F.col("budget").cast("long").alias("budget"),
        "vec_id",
        F.row_number().over(w_full).cast("long").alias("rank_full"),
        F.row_number().over(w_trunc).cast("long").alias("rank_trunc"),
    )
    return ranked.groupBy("budget").agg(
        F.sum(
            F.when(
                (F.col("rank_full") <= k) & (F.col("rank_trunc") <= k), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("overlap_at_k"),
        F.sum(
            F.when(
                F.col("rank_full") <= k,
                F.abs(F.col("rank_trunc") - F.col("rank_full")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("topk_rank_displacement"),
    )


# ---------------------------------------------------------------------------
# MIPS -> cosine norm-augmentation certification
# ---------------------------------------------------------------------------

def similarity_mips_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search reduced to cosine search via the
    norm-augmentation transform (Bachrach et al. / Shrivastava-Li): each
    candidate x gains one dimension sqrt(M² − ‖x‖²) where M = max ‖x‖,
    the query gains 0 — then ‖x'‖ = M for every candidate, so cosine
    order over the augmented vectors IS inner-product order over the
    originals.  This is how a cosine-only ANN index (all the sign-LSH /
    IVF machinery in this module) serves dot-product retrieval; the
    query certifies rank agreement between the two orderings.

    Exactness: M² is an ungrouped MAX of the sequential-fold SQUARED
    norms (a 1-row broadcast — see the inline note on why max(<x,x>),
    not max(‖x‖)²); both scores are the same deterministic fold on
    both engines; ranks use the (score desc, vec_id) total order after
    6-dp rounding, so agreement is certified on the rounded scores the
    engines share bit-for-bit.

    Scale shape: one candidate scan + a 1-row broadcast for M and a
    1-row broadcast for the query; the dot ranking is a TakeOrdered
    top-k and the cosine ranking a two-phase global rank (neither is a
    single-task window); output is k rows."""
    emb = load(spark, sf_dir, "embeddings")
    q = _query_side(emb, QUERY_VEC_ID)
    # MAX of the SQUARED norms (not max(norm)**2): the sqrt round-trip
    # would leave m**2 - <x,x> a few ulps NEGATIVE for the argmax vector
    # itself; with m2 = max(<x,x>) the residual is exactly 0.0 there.
    m = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(dot(F.col("embedding"), F.col("embedding")).alias("nx2"))
        .agg(F.max("nx2").alias("m2"))
    )
    scored = (
        fan_out(emb.where(F.col("vec_id") != QUERY_VEC_ID))
        .join(F.broadcast(q))
        .join(F.broadcast(m))
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_vec")), 6).alias("dot_score"),
            F.round(
                dot(F.col("embedding"), F.col("q_vec"))
                / (
                    F.sqrt(
                        dot(F.col("embedding"), F.col("embedding"))
                        + (
                            F.sqrt(
                                F.col("m2")
                                - dot(F.col("embedding"), F.col("embedding"))
                            )
                            * F.sqrt(
                                F.col("m2")
                                - dot(F.col("embedding"), F.col("embedding"))
                            )
                        )
                    )
                    * F.col("q_norm")
                ),
                6,
            ).alias("cos_aug"),
        )
    )
    # Both global ranks without a single-task window.  rank_cos must
    # be the EXACT global cosine rank even for rows deep in the ordering
    # (a top-k-by-dot row can rank anywhere by cosine), so it runs through
    # the certified two_phase_global_rank (~2k floor(cos*1e3) buckets —
    # cos_aug is 6-dp rounded in [-1, 1] — broadcast offsets, partitioned
    # in-bucket row_number).  rank_dot is only ever CONSUMED at <= k, so
    # the top-k by dot is a TakeOrderedAndProject limit with the k-row
    # rank window after it — bit-identical ranks, zero global sorts.
    from simple_land_registry_data_ingestion_spark.operators.relational import two_phase_global_rank

    ranked_cos = two_phase_global_rank(
        scored,
        F.floor(F.col("cos_aug") * 1000).cast("long"),
        [F.col("cos_aug").desc(), F.col("vec_id")],
        out="rank_cos",
        descending=True,
    )
    w_dot = Window.orderBy(F.col("dot_score").desc(), F.col("vec_id"))
    ranked = (
        ranked_cos.orderBy(F.col("dot_score").desc(), F.col("vec_id"))
        .limit(10)
        .withColumn("rank_dot", F.row_number().over(w_dot).cast("long"))
    )
    return (
        ranked
        .select(
            "rank_dot",
            "vec_id",
            "dot_score",
            "cos_aug",
            "rank_cos",
            (F.col("rank_dot") == F.col("rank_cos")).cast("int").alias("agree"),
        )
        .orderBy("rank_dot")
    )


def sample_kcenter_coreset(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez farthest-point) over
    the embedding table — the diversity-sampling primitive for training
    data ("pick the k most mutually distant exemplars"), with the
    standard 2-approximation guarantee: seed with vec 0, then k−1
    rounds of "add the point farthest from the chosen set".

    Distributed shape per round: the chosen set (r vectors) BROADCASTS;
    every candidate's distance-to-set is a scan-stage min over <= k
    broadcast vectors (squared euclidean via the norm identity
    ‖v‖²+‖c‖²−2v·c, norms precomputed once); the argmax is a 1-row
    TakeOrderedAndProject.  The corpus is never pairwise-joined — cost
    is k scans, the textbook trade for coreset quality.

    Determinism: distances round 12dp before the argmax (dot products
    are float folds whose last-ulp may differ across engines) and ties
    break on vec_id; the output distance rounds 6dp.

    Output: (round, vec_id, dist2_to_set) — k rows, round 0 = seed."""
    if k < 1:
        raise ValueError(f"sample_kcenter_coreset requires k >= 1, got {k}")
    from simple_land_registry_data_ingestion_spark.functions import vectors

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    emb = emb.withColumn("n2", vectors.dot(F.col("e"), F.col("e"))).localCheckpoint(
        eager=True
    )
    # seed = the MIN vec_id present (a 1-row TakeOrderedAndProject), not a
    # hardcoded id 0: a table without vec_id 0 would otherwise start from an
    # empty chosen set and silently degenerate every round
    chosen = emb.orderBy("vec_id").limit(1).select(
        F.lit(0).cast("long").alias("round"),
        "vec_id",
        F.lit(0.0).alias("dist2_to_set"),
        F.col("e").alias("ce"),
        F.col("n2").alias("cn2"),
    ).localCheckpoint(eager=True)
    out_rows = [chosen.select("round", "vec_id", "dist2_to_set")]
    for r in range(1, k):
        cand = emb.join(
            F.broadcast(chosen.select("ce", "cn2", F.col("vec_id").alias("cid"))),
            F.col("vec_id") != F.col("cid"),
        )
        d2 = F.round(
            F.col("n2") + F.col("cn2") - 2.0 * vectors.dot(F.col("e"), F.col("ce")),
            12,
        )
        min_d = (
            cand.select("vec_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("dist2"))
            .join(
                F.broadcast(chosen.select(F.col("vec_id").alias("cid"))),
                F.col("vec_id") == F.col("cid"),
                "left_anti",
            )
        )
        best = (
            min_d.orderBy(F.col("dist2").desc(), "vec_id")
            .limit(1)
            .join(emb, "vec_id")
            .localCheckpoint(eager=True)
        )
        out_rows.append(
            best.select(
                F.lit(r).cast("long").alias("round"),
                "vec_id",
                F.round(F.col("dist2"), 6).alias("dist2_to_set"),
            )
        )
        chosen = chosen.unionByName(
            best.select(
                F.lit(r).cast("long").alias("round"),
                "vec_id",
                F.round(F.col("dist2"), 6).alias("dist2_to_set"),
                F.col("e").alias("ce"),
                F.col("n2").alias("cn2"),
            )
        ).localCheckpoint(eager=True)
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionAll(o)
    return out


def similarity_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding matrix by
    distributed POWER ITERATION — the first component a pipeline
    inspects for anisotropy ("all my embeddings point one way") and the
    building block of spectral whitening.  The Gram matrix X'X is NEVER
    materialized (at dim d it is d² entries and the naive explode is
    n*d² rows): each iteration computes y = X'(Xv) as two corpus-linear
    passes — s_v = <e_v, v> per vector (d-row broadcast of v), then
    y_i = sum_v e_vi * s_v — which is exactly how distributed PCA/SVD
    (e.g. Spark MLlib's computePrincipalComponents for tall-skinny X)
    schedules the product.

    Float discipline: every product rounds to 12 dp before a
    DECIMAL(28,12) sum (order-free), max-norm rescaling divides two
    exact decimals in one double op and re-quantizes; v0 = 0.125
    everywhere (exact binary fraction).  The oracle unrolls the same
    two passes per iteration in SQL.

    Output: 64 rows (dim_idx, loading 6 dp, growth 6 dp) where growth
    is the final max-norm — the dominant-eigenvalue scale readout."""
    x = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("i", "xi_raw"))
        .select("vec_id", F.col("i").cast("long").alias("i"), F.col("xi_raw").cast("double").alias("xi"))
        # the exploded matrix is read 2x per iteration; materialize it
        # ONCE, hash-partitioned by vec_id (the MLlib iterate-on-
        # cached-input discipline): the s aggregate becomes partition-
        # local, the x|><|s join co-partitions (s inherits vec_id
        # partitioning from its own agg), and the y aggregate's exchange
        # is the 64-rows-per-task partial-combine output.  10x corpus:
        # 8.8 -> 8.1 s, cold pass 15.5 -> 9.8 s, slope 3.98 -> ~3.1.
        .repartition(F.col("vec_id"))
        .localCheckpoint(eager=True)
    )
    v = spark.range(64).select(
        F.col("id").cast("long").alias("i"),
        F.lit(0.125).cast("decimal(28,12)").alias("vi"),
    )
    m = None
    for _ in range(2):
        s = (
            x.join(F.broadcast(v), "i")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    F.round(F.col("xi") * F.col("vi").cast("double"), 12)
                    .cast("decimal(28,12)")
                ).alias("sv")
            )
        )
        y = (
            x.join(s, "vec_id")
            .groupBy("i")
            .agg(
                F.sum(
                    F.round(F.col("xi") * F.col("sv").cast("double"), 12)
                    .cast("decimal(28,12)")
                ).alias("yi")
            )
        )
        m = y.groupBy().agg(F.max(F.abs(F.col("yi"))).alias("m"))
        v = (
            y.crossJoin(F.broadcast(m))
            .select(
                "i",
                F.round(
                    F.col("yi").cast("double") / F.col("m").cast("double"), 12
                )
                .cast("decimal(28,12)")
                .alias("vi"),
            )
            # 64-row frame, but its lineage is two corpus passes — truncate
            # per iteration (the pagerank discipline) so the next
            # iteration's broadcast does not re-execute this one
            .localCheckpoint(eager=False)
        )
    return v.crossJoin(F.broadcast(m)).select(
        F.col("i").alias("dim_idx"),
        F.round(F.col("vi").cast("double"), 6).alias("loading"),
        F.round(F.col("m").cast("double"), 6).alias("growth"),
    )
