"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k as the exact baseline, and a random-
hyperplane LSH (SimHash-for-vectors) bucketed variant as the scale
path. Beyond the reference surface (nickderobertis/pd-utils has no
vector operators).

Scale design (the 100 TB posture):

- The query set is always the SMALL side: it is broadcast, so
  brute-force scoring is a map-only pass over the corpus — no
  shuffle; the only exchange is the final per-query top-k
  (``row_number`` over query partitions, k rows per query survive).
- The LSH variant buckets the corpus by hyperplane-sign signature
  (one shuffle on the signature); each query probes only its own
  bucket, turning O(|corpus|) scoring per query into
  O(|bucket|) — the classic recall/cost dial (more planes = smaller
  buckets = faster + lower recall).
- All dot products run JVM-side via ``zip_with``/``aggregate`` in
  DOUBLE precision (left-fold in element order, so results are
  bit-reproducible and oracle-checkable across engines). No Python
  UDFs in the hot path.

Hyperplane determinism: plane weights are ±1 derived from md5 parity
(plane p, dim d -> first hex nibble of ``md5('p:d')`` odd/even), so
signatures are a pure function of the vector — reproducible across
engines and runs with no RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pd_utils_spark.utils import materialize, query_scope


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array columns (left fold in
    element order — bit-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    d = dot(a, b)
    den = norm(a) * norm(b)
    return F.when(den > 0, d / den)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    qidcol: str = "query_id",
    exclude_self: bool = True,
    out_sim: str = "cosine",
) -> DataFrame:
    """Exact cosine top-k: every query scored against every corpus
    vector. ``queries`` must be small — it is broadcast, making this a
    map-only scan of the corpus plus one top-k exchange.

    Output: (query_id, vec_id, cosine, rank) with rank 1..k per query,
    ties broken by ``idcol`` ascending for determinism.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(idcol).alias(qidcol), F.col(veccol).alias("__qvec__")
    )
    scored = corpus.select(idcol, veccol).crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(F.col(idcol) != F.col(qidcol))
    scored = scored.withColumn(out_sim, cosine(F.col(veccol), F.col("__qvec__")))
    w = Window.partitionBy(qidcol).orderBy(F.desc(out_sim), F.col(idcol))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qidcol, idcol, out_sim, "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    labelcol: str,
    k: int = 10,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    qidcol: str = "query_id",
    out_sim: str = "cosine",
    keep_unlabeled: bool = False,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    query, the ``k`` corpus vectors MOST similar by cosine whose
    ``labelcol`` DIFFERS from the query's — the near-misses that teach
    an embedding model its decision boundary (random negatives are
    trivially separable; hard negatives are where the gradient is).
    Output: ``(query_id, query_label, vec_id, label, cosine, rank)``,
    rank 1..k per query, ties broken by ``idcol`` for determinism.
    Self-pairs are excluded by id.

    Scale shape — same contract as :func:`brute_force_topk`: the
    query batch is broadcast (mining runs per training batch, so
    queries are small by construction), the corpus is scanned once
    map-only with the label inequality applied BEFORE ranking (rows
    of the query's own class never reach the top-k heap), and the
    only exchange is the per-query top-k. For corpus-scale query
    sets, mine in batches or feed an IVF/LSH candidate set through
    the same window.

    NULL labels are EXCLUDED from both sides BY DEFAULT (a contract
    change in r7 — before that, unlabeled corpus rows were mined as
    negatives): an unlabeled corpus row is not a certified negative
    for any query (its true class may equal the query's — mining it
    would poison the contrastive batch), and an unlabeled query has
    no class to contrast against. ``keep_unlabeled=True`` restores
    the pre-r7 corpus-side behavior — NULL-label corpus rows are
    treated as universal negatives and mined for every query (the
    ``~eqNullSafe`` inequality already admits them; useful when
    "unlabeled" MEANS "known out-of-class" in your pipeline).
    Unlabeled QUERIES are always dropped — no flag revives a query
    with no class to contrast against.
    """
    from pyspark.sql import Window

    q = queries.filter(F.col(labelcol).isNotNull()).select(
        F.col(idcol).alias(qidcol),
        F.col(veccol).alias("__qvec__"),
        F.col(labelcol).alias("query_label"),
    )
    corp = corpus.select(idcol, veccol, labelcol)
    if not keep_unlabeled:
        corp = corp.filter(F.col(labelcol).isNotNull())
    scored = (
        corp
        .crossJoin(F.broadcast(q))
        .filter(
            (F.col(idcol) != F.col(qidcol))
            & ~F.col(labelcol).eqNullSafe(F.col("query_label"))
        )
        .withColumn(out_sim, cosine(F.col(veccol), F.col("__qvec__")))
    )
    w = Window.partitionBy(qidcol).orderBy(F.desc(out_sim), F.col(idcol))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qidcol, "query_label", idcol, labelcol, out_sim, "rank")
    )


def hyperplane_signature(
    df: DataFrame,
    veccol: str = "embedding",
    planes: int = 8,
    dims: int | None = None,
    out: str = "signature",
) -> DataFrame:
    """Random-hyperplane sign signature: bit p of the output is 1 iff
    ``sum_d w(p,d) * vec[d] > 0`` with deterministic md5-parity ±1
    weights. Vectors close in angle agree on most bits (SimHash for
    vectors). ``dims`` is REQUIRED: plan construction must stay lazy
    (an implicit ``.first()`` here would be a hidden driver action in
    the middle of callers' plans)."""
    if dims is None:
        raise ValueError(
            "dims is required: pass the embedding length explicitly "
            "(inferring it would run an eager .first() during plan "
            "construction)"
        )
    sig = None
    vec = F.col(veccol)
    for p in range(planes):
        weights = F.array(*[F.lit(_plane_weight(p, d)) for d in range(dims)])
        proj = dot(vec, weights)
        bit = F.when(proj > 0, F.lit(2**p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = bit if sig is None else sig + bit
    return df.withColumn(out, sig)


def _plane_weight(p: int, d: int) -> float:
    """Deterministic ±1.0 from md5 parity — engine-portable."""
    import hashlib

    h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 1 else -1.0


def plane_weight_sql(p: str, d: str) -> str:
    """DuckDB expression mirroring ``_plane_weight`` for oracle SQL
    (p, d are SQL expressions)."""
    return (
        f"CASE WHEN ('0x' || substr(md5(cast({p} AS varchar) || ':' || "
        f"cast({d} AS varchar)), 1, 1))::BIGINT % 2 = 1 THEN 1.0 ELSE -1.0 END"
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 8,
    dims: int | None = None,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    qidcol: str = "query_id",
    exclude_self: bool = True,
    out_sim: str = "cosine",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: queries only score corpus vectors in their
    own hyperplane-signature bucket, then exact cosine rerank. Recall
    dials: fewer planes (bigger buckets) or ``multiprobe=1`` (also
    probe every bucket one sign-flip away — planes+1 buckets per
    query, the standard multi-probe LSH recall boost for the same
    index).

    One shuffle (corpus bucketing); the query side is broadcast.
    """
    from pyspark.sql import Window

    c = hyperplane_signature(corpus.select(idcol, veccol), veccol, planes, dims)
    q = hyperplane_signature(
        queries.select(F.col(idcol).alias(qidcol), F.col(veccol).alias("__qvec__")),
        "__qvec__",
        planes,
        dims,
    ).withColumnRenamed("signature", "__qsig__")
    if multiprobe:
        if multiprobe != 1:
            raise NotImplementedError("only hamming-distance-1 multiprobe supported")
        probes = F.array(
            F.col("__qsig__"),
            *[F.col("__qsig__").bitwiseXOR(F.lit(1 << p)) for p in range(planes)],
        )
        q = q.withColumn("__qsig__", F.explode(probes))
    joined = c.join(
        F.broadcast(q), F.col("signature") == F.col("__qsig__"), "inner"
    )
    if exclude_self:
        joined = joined.filter(F.col(idcol) != F.col(qidcol))
    if multiprobe:
        joined = joined.dropDuplicates([qidcol, idcol])
    scored = joined.withColumn(out_sim, cosine(F.col(veccol), F.col("__qvec__")))
    w = Window.partitionBy(qidcol).orderBy(F.desc(out_sim), F.col(idcol))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qidcol, idcol, out_sim, "rank")
    )


def ivf_assign(
    df: DataFrame,
    veccol: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    out: str = "cell",
):
    """Fit a KMeans coarse quantizer (the IVF index of
    FAISS-style ANN) and assign every vector to its nearest centroid
    cell. Returns (assigned DataFrame, fitted model). Training runs on
    (a sample of) the corpus; assignment is a map-only transform.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__v__", array_to_vector(F.col(veccol)))
    km = KMeans(k=nlist, seed=seed, featuresCol="__v__", predictionCol=out)
    model = km.fit(feat)
    assigned = model.transform(feat).drop("__v__")
    return assigned, model


def ivf_centroid_table(model, spark) -> DataFrame:
    """(cell, centroid) lookup from a fitted KMeans model — the
    broadcastable coarse-quantizer table of the IVF index."""
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, ["cell", "centroid"]).withColumn(
        "centroid", F.col("centroid").cast("array<float>")
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    qidcol: str = "query_id",
    exclude_self: bool = True,
    out_sim: str = "cosine",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed into
    ``nlist`` KMeans cells; each query scores only the ``nprobe``
    cells whose centroids are nearest (by cosine), then exact cosine
    rerank. The standard FAISS-IVF recipe on Spark primitives: one
    shuffle to bucket the corpus, centroid table broadcast, probe
    join is an equi-join on cell id.

    Fit once / probe many: ``ivf_assign`` + ``ivf_centroid_table`` +
    ``ivf_probe_topk`` expose the stages so one KMeans fit can serve
    several probe depths or query batches.
    """
    assigned, model = ivf_assign(corpus.select(idcol, veccol), veccol, nlist, seed)
    cent_df = ivf_centroid_table(model, corpus.sparkSession)
    return ivf_probe_topk(
        assigned, cent_df, queries, k, nprobe, idcol, veccol, qidcol,
        exclude_self, out_sim,
    )


def ivf_probe_topk(
    assigned: DataFrame,
    cent_df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    qidcol: str = "query_id",
    exclude_self: bool = True,
    out_sim: str = "cosine",
) -> DataFrame:
    """Probe stage of IVF ANN: given a cell-assigned corpus
    (``ivf_assign``) and the centroid table (``ivf_centroid_table``),
    score each query against the ``nprobe`` nearest cells only."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(idcol).alias(qidcol), F.col(veccol).alias("__qvec__")
    )
    # query -> nprobe nearest cells (by cosine to centroid)
    qc = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "__csim__", cosine(F.col("__qvec__"), F.col("centroid"))
    )
    w = Window.partitionBy(qidcol).orderBy(F.desc("__csim__"), F.col("cell"))
    probes = (
        qc.withColumn("__pr__", F.row_number().over(w))
        .filter(F.col("__pr__") <= nprobe)
        .select(qidcol, "__qvec__", "cell")
    )

    scored = assigned.join(F.broadcast(probes), on="cell")
    if exclude_self:
        scored = scored.filter(F.col(idcol) != F.col(qidcol))
    scored = scored.withColumn(out_sim, cosine(F.col(veccol), F.col("__qvec__")))
    wr = Window.partitionBy(qidcol).orderBy(F.desc(out_sim), F.col(idcol))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(qidcol, idcol, out_sim, "rank")
    )


def quantize_embeddings(
    df: DataFrame,
    veccol: str = "embedding",
    idcol: str = "vec_id",
    bits: int = 8,
    out: str = "q_embedding",
    scale_out: str = "q_scale",
) -> DataFrame:
    """Symmetric linear quantization of an ``array<float>`` column to
    ``bits``-bit signed integers with one per-vector scale:
    ``q_i = round(x_i / scale)``, ``scale = max|x| / (2^(bits-1)-1)``.
    At 100 TB of float32 embeddings this is the standard 4x storage /
    bandwidth cut (int8) that brute-force and IVF scans take before
    rescoring survivors at full precision; dequantization is
    ``q_i * scale``.

    Pure column expressions (two array folds per row) — no shuffle, no
    UDF. Zero vectors get scale 0 and all-zero codes. Engine-portable:
    the same max/round/divide math is expressible in any SQL engine,
    so quantized codes hash-match an external oracle.
    """
    if not 2 <= bits <= 32:
        raise ValueError(f"bits must be in [2, 32]: {bits}")
    qmax = (1 << (bits - 1)) - 1
    v = F.col(veccol)
    absmax = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = absmax / F.lit(float(qmax))
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x.cast("double") / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(idcol),
        q.alias(out),
        F.round(scale, 9).alias(scale_out),
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    qidcol: str = "query_id",
    idcol: str = "vec_id",
    out: str = "recall",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against exact
    ground truth: ``|approx ∩ exact| / |exact|`` for each query — the
    quality dial every ANN deployment needs next to its speedup
    (tune ``planes``/``multiprobe``/``nprobe`` until measured recall
    clears the bar, on a sampled query set at corpus scale).

    Both inputs are (qidcol, idcol, ...) top-k frames (e.g.
    ``ann_lsh_topk`` vs ``brute_force_topk``). Two small aggregates +
    one semi-join on the k-sized result frames — never touches the
    corpus; cost is O(queries x k).
    """
    a = approx.select(qidcol, idcol)
    e = exact.select(qidcol, idcol)
    hits = (
        e.join(a, [qidcol, idcol], "left_semi")
        .groupBy(qidcol)
        .agg(F.count(F.lit(1)).alias("__hits__"))
    )
    totals = e.groupBy(qidcol).agg(F.count(F.lit(1)).alias("__k__"))
    return totals.join(hits, qidcol, "left").select(
        qidcol,
        (F.coalesce(F.col("__hits__"), F.lit(0)) / F.col("__k__")).alias(out),
    )


def label_centroids(
    df: DataFrame,
    labelcol: str = "label",
    veccol: str = "embedding",
    out: str = "centroid",
) -> DataFrame:
    """Per-label mean vector (class prototypes — the building block
    for nearest-centroid classification and per-class dedup).

    Element-wise mean across rows: posexplode to (label, dim, value),
    one hash aggregation (map-side combined — shuffle is
    |labels| x dims rows), then reassembled into an ordered array.
    """
    ex = df.select(
        F.col(labelcol), F.posexplode(F.col(veccol)).alias("__d__", "__v__")
    )
    per_dim = ex.groupBy(labelcol, "__d__").agg(
        F.avg(F.col("__v__").cast("double")).alias("__m__")
    )
    return (
        per_dim.groupBy(labelcol)
        .agg(
            F.array_sort(F.collect_list(F.struct("__d__", "__m__"))).alias("__s__")
        )
        .select(labelcol, F.transform("__s__", lambda s: s["__m__"]).alias(out))
    )


def embedding_drift(
    df: DataFrame,
    groupcol: str = "source",
    veccol: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between groups: the pairwise cosine
    similarity of per-group centroid vectors — ``(group_a, group_b,
    centroid_cosine)`` for every unordered pair, lowest similarity
    (highest drift) first. The semantic complement of the token-space
    ``source_kl_drift``: two sources can share vocabulary yet embed
    differently (translated text, paraphrase mills) or vice versa.

    Scale shape: per-group centroids via one |groups| x dims
    aggregation (``label_centroids``), then an all-pairs join over the
    tiny centroid frame only — the corpus is touched once.
    """
    cents = label_centroids(df, groupcol, veccol, out="__c__")
    a = cents.select(
        F.col(groupcol).alias("group_a"), F.col("__c__").alias("__ca__")
    )
    b = cents.select(
        F.col(groupcol).alias("group_b"), F.col("__c__").alias("__cb__")
    )
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            cosine(F.col("__ca__"), F.col("__cb__")).alias("centroid_cosine"),
        )
        .orderBy("centroid_cosine", "group_a", "group_b")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    planes: int = 8,
    dims: int | None = None,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    out_sim: str = "cosine",
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold), candidates
    generated by shared hyperplane signature — near-identical vectors
    agree on every sign bit, so recall at thresholds ~>=0.95 is high
    while the join stays bucket-local. Output (id_a, id_b, cosine)
    with id_a < id_b.

    ``max_bucket`` caps the signature-bucket self-join fan-out: a
    degenerate corpus (e.g. all-identical vectors) would otherwise put
    N rows in one bucket and go quadratic. Buckets over the cap are
    dropped entirely (their pair count is already > max_bucket^2/2 —
    at that density you want exact dedup, not pairwise output); None
    keeps all buckets.
    """
    sig = hyperplane_signature(df.select(idcol, veccol), veccol, planes, dims)
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("signature")
        sig = (
            sig.withColumn("__n__", F.count("*").over(w))
            .filter(F.col("__n__") <= max_bucket)
            .drop("__n__")
        )
    # Materialize before the self-join: the sides are separate plan
    # subtrees (one gets broadcast under AQE), so an un-materialized sig
    # frame executes the planes x dims signature projection and the
    # bucket-cap window once PER SIDE. Lazy + fault-tolerant (persist,
    # or reliable checkpoint when a checkpoint dir is configured) —
    # see utils.materialize.
    sig = materialize(sig)
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.signature") == F.col("b.signature"))
            & (F.col(f"a.{idcol}") < F.col(f"b.{idcol}")),
        )
        .select(
            F.col(f"a.{idcol}").alias("id_a"),
            F.col(f"b.{idcol}").alias("id_b"),
            cosine(F.col(f"a.{veccol}"), F.col(f"b.{veccol}")).alias(out_sim),
        )
        .filter(F.col(out_sim) >= threshold)
    )
    return pairs

def dedup_embeddings(
    df: DataFrame,
    threshold: float = 0.99,
    planes: int = 8,
    dims: int | None = None,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Semantic (embedding-space) deduplication, SemDeDup-style: keep
    one representative (smallest id) per cluster of near-identical
    vectors. Candidates come from shared hyperplane-LSH signatures
    (the scale-safe analogue of SemDeDup's k-means cells — bucket
    membership is a pure function of the vector, so the whole
    pipeline is deterministic and oracle-checkable), verified by exact
    cosine >= ``threshold``, then closed transitively with
    ``connected_components`` so chains collapse to a single survivor.
    The corpus is touched by one signature scan and one final
    left-anti join; the iterative closure runs on the (tiny) verified
    pair graph only.
    """
    from pd_utils_spark.extensions.dedup import dedup_connected

    pairs = embedding_near_dup_pairs(
        df, threshold, planes, dims, idcol, veccol, max_bucket=max_bucket
    )
    return dedup_connected(df, pairs.select("id_a", "id_b"), idcol=idcol)


# ------------------------------------------------------------- kmeans

def _kmeans_scored_expr(veccol: str, centroids: list) -> Column:
    """``array<struct(dist, cid)>`` of squared-L2 distances to every
    centroid for one row, fully JVM-side: the centroid list is
    inlined as an array-of-arrays literal, each candidate scored by
    an ordered left fold (bit-reproducible). No crossJoin, no UDF."""
    # one nested-list literal, not k x dims F.lit() calls: the latter
    # builds the expression tree through k*dims py4j round-trips and
    # dominated fit time at k=8, dims=64
    carr = F.lit([[float(v) for v in c] for c in centroids])
    return F.transform(
        carr,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(veccol),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
            i.alias("cid"),
        ),
    )


def _kmeans_assign_expr(veccol: str, centroids: list) -> Column:
    """Nearest-centroid id for one row: ``array_min`` over
    ``struct(dist, cid)`` picks the argmin with lowest-cid tie-break —
    a map-only projection (see :func:`_kmeans_scored_expr`)."""
    return F.array_min(_kmeans_scored_expr(veccol, centroids))["cid"]


def kmeans_assign_probes(
    df: DataFrame,
    centroids: list,
    probes: int = 2,
    veccol: str = "embedding",
    out: str = "cells",
) -> DataFrame:
    """Attach the ``probes`` NEAREST centroid ids as an array (squared
    L2, (dist, cid) lexicographic order — same tie-break as
    :func:`kmeans_assign`, whose output equals element 0 here). The
    soft-assignment half of multi-probe SemDeDup: a vector sitting
    near a cell boundary is also indexed into its runner-up cell, so
    boundary-straddling near-dup pairs meet in at least one shared
    cell (the IVF ``nprobe`` idea applied to dedup). Map-only
    projection, one ``array_sort`` of k structs per row."""
    if probes < 1:
        raise ValueError(f"probes must be >= 1: {probes}")
    scored = F.slice(
        F.array_sort(_kmeans_scored_expr(veccol, centroids)),
        1,
        min(probes, len(centroids)),
    )
    return df.withColumn(out, F.transform(scored, lambda s: s["cid"]))


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    idcol: str = "vec_id",
    veccol: str = "embedding",
) -> list:
    """Distributed Lloyd's k-means over an ``array<float>`` column,
    returning the fitted centroids as plain nested lists
    ``[k][dims]`` (broadcastable, serializable, engine-neutral — the
    same contract as :func:`pq_fit` codebooks).

    Deterministic by construction, unlike ``pyspark.ml.KMeans``
    (k-means|| init draws from an RNG seeded per partition): init is
    the ``k`` lowest-id vectors, each Lloyd's round assigns every
    point to its nearest centroid (squared L2, lowest-cid tie-break)
    and recomputes centroids as per-dimension means; a cluster that
    goes empty keeps its previous centroid.

    Scale shape — the classic broadcast-iterate loop (how Spark ML
    itself runs Lloyd's): centroid state is O(k x dims) and lives on
    the driver between rounds; each round is ONE map-only pass over
    the corpus (assignment is an inlined literal expression — no
    join) plus a ``(cluster, dim)`` hash aggregation whose shuffle is
    k x dims rows after map-side combine, regardless of corpus size.
    ``iters`` full scans total: when ``iters > 1`` the (id, vector)
    projection is pinned for the duration of the fit, in its own
    :func:`~pd_utils_spark.utils.query_scope` that releases it before
    returning (error paths too), so a derived upstream frame (e.g.
    the normalized projection :func:`semantic_dedup_kmeans` builds)
    is computed once, not ``iters + 1`` times; a plain parquet scan
    pays one cheap cache write for the same read volume.
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0: {k}, {iters}")
    work = df.select(idcol, veccol)
    with query_scope():
        if iters > 1:
            work = materialize(work)
        seed_rows = work.orderBy(idcol).limit(k).collect()
        if len(seed_rows) < k:
            raise ValueError(f"k={k} exceeds row count {len(seed_rows)}")
        cents = [[float(x) for x in r[1]] for r in seed_rows]
        for _ in range(iters):
            assigned = work.select(
                _kmeans_assign_expr(veccol, cents).alias("__c__"),
                F.col(veccol),
            )
            per_dim = (
                assigned.select(
                    "__c__",
                    F.posexplode(F.col(veccol)).alias("__d__", "__v__"),
                )
                .groupBy("__c__", "__d__")
                .agg(F.avg(F.col("__v__").cast("double")).alias("__m__"))
                .collect()
            )
            by_cid: dict = {}
            for r in per_dim:
                by_cid.setdefault(r["__c__"], {})[r["__d__"]] = r["__m__"]
            cents = [
                [by_cid[cid][d] for d in sorted(by_cid[cid])]
                if cid in by_cid
                else list(cents[cid])
                for cid in range(k)
            ]
    return cents


def kmeans_assign(
    df: DataFrame,
    centroids: list,
    veccol: str = "embedding",
    out: str = "cluster",
) -> DataFrame:
    """Attach the nearest-centroid id (squared L2, lowest-cid
    tie-break) for fitted ``centroids`` — a map-only projection, the
    serving half of :func:`kmeans_fit`."""
    return df.withColumn(out, _kmeans_assign_expr(veccol, centroids))


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    out: str = "cluster",
) -> DataFrame:
    """Fit + assign in one call: Lloyd's k-means cluster ids for every
    row (see :func:`kmeans_fit` for the algorithm and scale shape)."""
    return kmeans_assign(df, kmeans_fit(df, k, iters, idcol, veccol), veccol, out)


def semantic_dedup_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.99,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """SemDeDup exactly as published (Abbas et al. 2023: k-means the
    embeddings, compare only within each cluster): Lloyd's cells from
    :func:`kmeans`, exact cosine >= ``threshold`` pairs inside each
    cell, transitive closure, keep the lowest id per duplicate group.
    The hyperplane-bucketed :func:`dedup_embeddings` is the
    alternative candidate generator; k-means cells adapt to the data
    distribution (tighter cells where vectors concentrate) at the
    cost of ``iters`` extra corpus scans and the usual SemDeDup
    caveat that near-dups straddling a cell boundary are missed.

    Scale shape: pair generation is cell-local (one shuffle on the
    cell id; each cell's pair set is |cell|^2 worst case — pick k so
    cells fit, the paper uses k ~ sqrt(N)); the closure runs on the
    verified pair graph only. Each cell evaluates its pairs as ONE
    dense numpy ``V @ V.T`` inside ``applyInPandas`` — BLAS does the
    quadratic term, not a per-pair Catalyst fold (the interpreted
    higher-order-function dot was measured ~50x slower on the same
    pair count, and a cell-keyed shuffle join additionally collapses
    to <= k-way parallelism that AQE then coalesces further). The
    |cell|^2 score matrix is evaluated in row chunks so memory stays
    O(chunk x |cell|), and ties/threshold use the same float64
    cosine = dot / (norm_a * norm_b) arithmetic as :func:`cosine`
    (BLAS summation order can differ in the last ulps; a pair
    sitting EXACTLY on the threshold is the only case that could
    flip, which a real-valued corpus does not produce).

    ``probes > 1`` (multi-probe soft assignment, the r6-measured
    boundary mitigation) indexes each vector into its ``probes``
    nearest cells so boundary-straddling pairs meet in a shared cell
    — see :func:`semantic_cell_pairs` for the cost model.
    """
    from pd_utils_spark.extensions.dedup import dedup_connected

    pairs = semantic_cell_pairs(df, k, iters, threshold, idcol, veccol, probes)
    return dedup_connected(df, pairs, idcol=idcol)


def semantic_cell_pairs(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.99,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """The candidate-pair stage of :func:`semantic_dedup_kmeans`,
    exposed on its own: ``(id_a, id_b)`` with ``id_a < id_b`` for
    every within-cell pair at cosine >= ``threshold``. Feed this to
    :func:`pd_utils_spark.extensions.dedup.candidate_recall` against
    a :func:`brute_force_pairs` truth to MEASURE the SemDeDup
    cell-boundary recall loss instead of taking it on faith — the
    published caveat, quantified. Same scale shape as the parent
    (cell-local chunked-BLAS ``applyInPandas``).

    ``probes > 1`` is the boundary mitigation for that measured loss:
    each vector is indexed into its ``probes`` nearest cells
    (:func:`kmeans_assign_probes`), so a pair split by one boundary
    still meets wherever either side's runner-up cell is the other's
    cell. Cost model: the corpus is replicated ``probes``-fold into
    cells, so average cell size grows ~``probes``x and the
    within-cell BLAS term ~``probes^2``x worst case; duplicate pairs
    from multiply-shared cells are removed by one distinct. The
    `candidate_recall_semantic*` audit rows pin the measured
    recall/cost tradeoff (probes=1 vs probes=2) on real data."""
    if probes < 1:
        raise ValueError(f"probes must be >= 1: {probes}")
    cents = kmeans_fit(df, k, iters, idcol, veccol)
    if probes == 1:
        cells = kmeans_assign(df, cents, veccol, out="__cell__")
        return _grouped_cosine_pairs(cells, "__cell__", threshold, idcol, veccol)
    probed = kmeans_assign_probes(df, cents, probes, veccol, out="__cells__")
    cells = probed.select(
        idcol, veccol, F.explode("__cells__").alias("__cell__")
    )
    return _grouped_cosine_pairs(
        cells, "__cell__", threshold, idcol, veccol
    ).distinct()


def _grouped_cosine_pairs(
    df: DataFrame,
    groupcol: str,
    threshold: float,
    idcol: str,
    veccol: str,
) -> DataFrame:
    """All within-group pairs at cosine >= threshold, one dense
    chunked ``V @ V.T`` per group (BLAS does the quadratic term; the
    score matrix is evaluated in row chunks so memory stays
    O(chunk x |group|))."""
    import numpy as np
    import pandas as pd

    def cell_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[idcol].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.asarray(
            [np.asarray(v, dtype="float64") for v in pdf[veccol].to_numpy()[order]]
        )
        nrm = np.sqrt((V * V).sum(axis=1))
        out_a: list = []
        out_b: list = []
        chunk = max(1, 8_388_608 // max(1, len(ids)))  # ~64 MiB of scores
        for s in range(0, len(ids), chunk):
            e = min(s + chunk, len(ids))
            scores = V[s:e] @ V.T
            den = nrm[s:e, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den > 0, scores / den, -np.inf)
            ii, jj = np.nonzero(cos >= threshold)
            keep = ids[s:e][ii] < ids[jj]  # id_a < id_b, no self-pairs
            out_a.append(ids[s:e][ii][keep])
            out_b.append(ids[jj][keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=ids.dtype),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=ids.dtype),
            }
        )

    id_type = dict(df.dtypes)[idcol]
    return df.groupBy(groupcol).applyInPandas(
        cell_pairs, f"id_a {id_type}, id_b {id_type}"
    )


def brute_force_pairs(
    df: DataFrame,
    threshold: float,
    blocks: int = 8,
    idcol: str = "vec_id",
    veccol: str = "embedding",
) -> DataFrame:
    """EXACT cosine-threshold self-join: every pair ``(id_a, id_b)``,
    ``id_a < id_b``, with cosine >= ``threshold`` — no candidate
    generation, no recall loss. This is the GROUND-TRUTH generator
    for :func:`pd_utils_spark.extensions.dedup.candidate_recall`
    audits of the approximate paths (hyperplane buckets, SemDeDup
    cells, IVF probes); it is O(n^2) BY DEFINITION, so bound the
    input (audit a sample, not the corpus) — the audit certifies the
    generator, the generator handles the corpus.

    Scale shape (within its quadratic budget): triangle block
    decomposition — rows are hashed into ``blocks`` buckets, every
    unordered bucket pair ``(bi <= bj)`` becomes one task whose two
    sides meet in a chunked dense ``A @ B.T`` (BLAS, not a per-pair
    Catalyst fold). Replication is ``blocks + 1`` copies of each row;
    per-task memory is O(chunk x |bucket|); parallelism is
    ``blocks * (blocks + 1) / 2`` tasks, so the quadratic work
    spreads evenly over the cluster instead of landing on one
    executor."""
    import numpy as np
    import pandas as pd

    if blocks < 1:
        raise ValueError(f"blocks must be >= 1: {blocks}")
    spark = df.sparkSession
    base = df.select(idcol, veccol).withColumn(
        "__blk__",
        F.pmod(F.xxhash64(F.col(idcol)), F.lit(blocks)).cast("int"),
    )
    grid = spark.createDataFrame(
        [(i, j) for i in range(blocks) for j in range(i, blocks)],
        "bi int, bj int",
    )
    left = base.join(
        F.broadcast(grid), F.col("__blk__") == F.col("bi")
    ).withColumn("__side__", F.lit(0))
    right = base.join(
        F.broadcast(grid), F.col("__blk__") == F.col("bj")
    ).withColumn("__side__", F.lit(1))
    both = left.unionByName(right)

    def block_pairs(key, pdf):
        bi, bj = key
        empty = pd.DataFrame({"id_a": [], "id_b": []})
        if bi == bj:
            pdf = pdf[pdf["__side__"] == 0]
            if len(pdf) < 2:
                return empty
            ids = pdf[idcol].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            V = np.asarray(
                [np.asarray(v, dtype="float64")
                 for v in pdf[veccol].to_numpy()[order]]
            )
            nrm = np.sqrt((V * V).sum(axis=1))
            out_a, out_b = [], []
            chunk = max(1, 8_388_608 // max(1, len(ids)))
            for s in range(0, len(ids), chunk):
                e = min(s + chunk, len(ids))
                scores = V[s:e] @ V.T
                den = nrm[s:e, None] * nrm[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(den > 0, scores / den, -np.inf)
                ii, jj = np.nonzero(cos >= threshold)
                keep = ids[s:e][ii] < ids[jj]
                out_a.append(ids[s:e][ii][keep])
                out_b.append(ids[jj][keep])
            if not out_a:
                return empty
            return pd.DataFrame(
                {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
            )
        a = pdf[pdf["__side__"] == 0]
        b = pdf[pdf["__side__"] == 1]
        if len(a) == 0 or len(b) == 0:
            return empty
        ia = a[idcol].to_numpy()
        ib = b[idcol].to_numpy()
        A = np.asarray([np.asarray(v, dtype="float64") for v in a[veccol]])
        B = np.asarray([np.asarray(v, dtype="float64") for v in b[veccol]])
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        out_a, out_b = [], []
        chunk = max(1, 8_388_608 // max(1, len(ib)))
        for s in range(0, len(ia), chunk):
            e = min(s + chunk, len(ia))
            scores = A[s:e] @ B.T
            den = na[s:e, None] * nb[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den > 0, scores / den, -np.inf)
            ii, jj = np.nonzero(cos >= threshold)
            lo = np.minimum(ia[s:e][ii], ib[jj])
            hi = np.maximum(ia[s:e][ii], ib[jj])
            keep = lo < hi  # drop self-pairs (same id hashed twice impossible, guard anyway)
            out_a.append(lo[keep])
            out_b.append(hi[keep])
        if not out_a:
            return empty
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    id_type = dict(df.dtypes)[idcol]
    return both.groupBy("bi", "bj").applyInPandas(
        block_pairs, f"id_a {id_type}, id_b {id_type}"
    )


# ---------------------------------------------------------------- PQ

def pq_fit(
    df: DataFrame,
    veccol: str = "embedding",
    idcol: str = "vec_id",
    m: int = 8,
    ncodes: int = 16,
    sample: int = 2048,
    iters: int = 10,
) -> list:
    """Fit product-quantization codebooks: the vector space splits
    into ``m`` contiguous subspaces and each gets a ``ncodes``-entry
    codebook from Lloyd's algorithm on a DETERMINISTIC sample (rows
    ordered by md5 of the id — reproducible across runs, partitionings
    and cluster sizes, unlike ``df.sample``). Returns nested lists
    ``[m][ncodes][d/m]`` (plain data — broadcastable, serializable,
    engine-neutral).

    Driver-side fit is the right shape: the sample is a few thousand
    rows regardless of corpus size (classic PQ practice — FAISS trains
    on ~100k samples for billion-vector indexes), so fitting is O(1)
    in corpus size while encode/probe stay fully distributed.
    """
    import numpy as np

    if m < 1 or ncodes < 2:
        raise ValueError(f"need m >= 1 and ncodes >= 2: {m}, {ncodes}")
    rows = (
        df.select(F.col(veccol).alias("v"))
        .orderBy(F.md5(F.col(idcol).cast("string")))
        .limit(sample)
        .collect()
    )
    X = np.array([r.v for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible by m={m}")
    dsub = d // m
    if len(X) < ncodes:
        raise ValueError(f"sample too small: {len(X)} rows < ncodes={ncodes}")
    codebooks = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[:ncodes].copy()  # deterministic init: first sample rows
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ncodes):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        codebooks.append([[float(x) for x in row] for row in C])
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list,
    veccol: str = "embedding",
    idcol: str = "vec_id",
    out: str = "pq_codes",
) -> DataFrame:
    """Encode each vector as ``m`` small codes (nearest codebook entry
    per subspace) — the PQ compression step: at ncodes<=256 each code
    is one byte, so a 64-dim float32 vector (256 B) becomes m=8 bytes,
    a 32× storage/bandwidth cut. Pure column expressions with the
    codebooks inlined as literals (no UDF, no shuffle, no driver
    action); at 100 TB this is a map-only pass over the scan.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    v = F.col(veccol)
    # explode-join-aggregate form, NOT m*ncodes inline distance
    # expressions: the expression form exceeds whole-stage-codegen
    # limits at realistic (m, ncodes) and falls back to interpreted
    # evaluation (measured 27 s vs ~2 s at sf0.1, m=16, ncodes=32).
    # Here each vector explodes to m subvector rows, joins the
    # broadcast (j, code, centroid) table, and takes the min-distance
    # code per (vector, subspace) — every step stays in codegen and
    # the shuffle carries (id, j, code) triples only.
    subs = F.array(*[F.slice(v, j * dsub + 1, dsub) for j in range(m)])
    ex = df.select(F.col(idcol), F.posexplode(subs).alias("j", "__sub__"))
    cbdf = pq_codebook_table(codebooks, df.sparkSession)
    d2 = F.aggregate(
        F.zip_with(
            F.col("__sub__"),
            F.col("centroid"),
            lambda x, c_: (x.cast("double") - c_) ** 2,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = (
        ex.join(F.broadcast(cbdf), "j")
        .groupBy(idcol, "j")
        .agg(F.min(F.struct(d2.alias("d"), F.col("code"))).alias("__b__"))
    )
    return best.groupBy(idcol).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("j"), F.col("__b__.code")))),
            lambda s: s["code"],
        ).alias(out)
    )


def pq_codebook_table(codebooks: list, spark) -> DataFrame:
    """Codebooks as a (j, code, centroid) DataFrame — the broadcast
    side of the ADC probe join."""
    rows = [
        (j, c, codebooks[j][c])
        for j in range(len(codebooks))
        for c in range(len(codebooks[j]))
    ]
    return spark.createDataFrame(
        rows, "j int, code int, centroid array<double>"
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks_df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    qidcol: str = "query_id",
    out: str = "pq_codes",
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query dots
    its subvectors against every codebook entry ONCE (the lookup
    table — ``Q x m x ncodes`` tiny rows, built by a broadcast join),
    then a corpus vector's approximate score is the SUM of ``m`` table
    lookups — no full-precision corpus vector is ever read at probe
    time. Output: ``(query_id, vec_id, adc_dot)`` rows, ``k`` per
    query, approximate-dot descending.

    Scale shape: the corpus side explodes to ``m`` rows per vector
    (8-byte keys), the LUT side is broadcast, and the sum is one
    partial-agg shuffle on (query, vec). Standard practice composes
    this AFTER an IVF cell restriction; here it is the standalone
    probe so the recall harness can measure PQ error in isolation.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(idcol).alias(qidcol), F.col(veccol).alias("__qvec__")
    )
    dsub = F.size(F.col("centroid"))
    lut = q.crossJoin(F.broadcast(codebooks_df)).select(
        qidcol,
        "j",
        "code",
        dot(
            F.slice(F.col("__qvec__"), F.col("j") * dsub + 1, dsub),
            F.col("centroid"),
        ).alias("__pdot__"),
    )
    ex = encoded.select(
        F.col(idcol), F.posexplode(F.col(out)).alias("j", "code")
    )
    scored = (
        ex.join(F.broadcast(lut), ["j", "code"])
        .groupBy(qidcol, idcol)
        .agg(F.sum("__pdot__").alias("adc_dot"))
    )
    if exclude_self:
        scored = scored.filter(F.col(qidcol) != F.col(idcol))
    w = Window.partitionBy(qidcol).orderBy(F.desc("adc_dot"), F.col(idcol))
    return (
        scored.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= k)
        .drop("__rk__")
    )


def ann_ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ncodes: int = 16,
    seed: int = 42,
    sample: int = 2048,
    idcol: str = "vec_id",
    veccol: str = "embedding",
    qidcol: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ: the billion-vector index shape — an IVF coarse
    quantizer restricts each query to ``nprobe`` cells, and the
    candidates in those cells are scored from their PQ CODES via
    asymmetric distance (the full-precision corpus vectors are never
    read at probe time). This is the FAISS ``IVFx,PQy`` composition on
    Spark primitives: at 100 TB the scan reads m-byte code columns
    (16-32× less IO than the float vectors), the probe join is an
    equi-join on cell id, and the ADC lookup table is a broadcast of
    ``Q x m x ncodes`` tiny rows.

    Returns ``(query_id, vec_id, adc_dot)``, ``k`` rows per query.
    Compose with an exact rerank over the returned ids (reading full
    vectors for just ``k`` candidates) when exact ordering matters —
    see ``q_ann_pq_topk`` for the measured rerank-recovery harness.
    """
    from pyspark.sql import Window

    assigned, model = ivf_assign(corpus.select(idcol, veccol), veccol, nlist, seed)
    cent_df = ivf_centroid_table(model, corpus.sparkSession)
    cb = pq_fit(corpus, veccol, idcol, m=m, ncodes=ncodes, sample=sample)
    enc = pq_encode(corpus, cb, veccol, idcol)
    codes_with_cell = assigned.select(idcol, "cell").join(enc, idcol)

    q = queries.select(
        F.col(idcol).alias(qidcol), F.col(veccol).alias("__qvec__")
    )
    qc = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "__csim__", cosine(F.col("__qvec__"), F.col("centroid"))
    )
    w = Window.partitionBy(qidcol).orderBy(F.desc("__csim__"), F.col("cell"))
    probes = (
        qc.withColumn("__pr__", F.row_number().over(w))
        .filter(F.col("__pr__") <= nprobe)
        .select(qidcol, "cell")
    )
    # per-query ADC lookup table (tiny; broadcast)
    cbdf = pq_codebook_table(cb, corpus.sparkSession)
    dsub = F.size(F.col("centroid"))
    lut = q.crossJoin(F.broadcast(cbdf)).select(
        qidcol,
        "j",
        "code",
        dot(
            F.slice(F.col("__qvec__"), F.col("j") * dsub + 1, dsub),
            F.col("centroid"),
        ).alias("__pdot__"),
    )
    cands = codes_with_cell.join(F.broadcast(probes), "cell")
    if exclude_self:
        cands = cands.filter(F.col(idcol) != F.col(qidcol))
    scored = (
        cands.select(qidcol, idcol, F.posexplode("pq_codes").alias("j", "code"))
        .join(F.broadcast(lut), [qidcol, "j", "code"])
        .groupBy(qidcol, idcol)
        .agg(F.sum("__pdot__").alias("adc_dot"))
    )
    wr = Window.partitionBy(qidcol).orderBy(F.desc("adc_dot"), F.col(idcol))
    return (
        scored.withColumn("__rk__", F.row_number().over(wr))
        .filter(F.col("__rk__") <= k)
        .drop("__rk__")
    )


def pca_fit(
    df: DataFrame,
    k: int,
    veccol: str = "embedding",
) -> list:
    """Fit a ``k``-component PCA basis on the (mean-centered) vector
    column — the embedding compression/whitening step (project 768-d
    model outputs to the 64-128 dims that retain the similarity
    structure, cutting ANN cost proportionally). Returns plain nested
    lists ``(components [k][d], mean [d], explained_variance [k])`` —
    engine-neutral data, broadcastable into :func:`pca_project`.

    Built on MLlib's distributed PCA (covariance + eigh — one pass
    over the corpus); the component SIGN is then fixed so each
    component's largest-magnitude coordinate is positive (SVD signs
    are otherwise arbitrary, which would break reproducibility across
    runs and partitionings).
    """
    from pyspark.ml.feature import PCA as MLPca
    from pyspark.ml.functions import array_to_vector

    feat = df.select(array_to_vector(F.col(veccol)).alias("__v__"))
    model = MLPca(k=k, inputCol="__v__", outputCol="__p__").fit(feat)
    pc = model.pc.toArray()  # d x k
    # distributed per-dim mean (same construction as label_centroids)
    ex = df.select(F.posexplode(F.col(veccol)).alias("__d__", "__x__"))
    mrows = (
        ex.groupBy("__d__").agg(F.avg(F.col("__x__").cast("double")).alias("m"))
        .orderBy("__d__")
        .collect()
    )
    mean = [float(r.m) for r in mrows]
    comps = []
    for j in range(pc.shape[1]):
        c = pc[:, j]
        imax = int(abs(c).argmax())
        if c[imax] < 0:
            c = -c
        comps.append([float(x) for x in c])
    ev = [float(x) for x in model.explainedVariance]
    return comps, mean, ev


def pca_project(
    df: DataFrame,
    components: list,
    mean: list,
    veccol: str = "embedding",
    out: str = "pca",
    explained_variance: list | None = None,
    whiten: bool = False,
    total_variance: float | None = None,
) -> DataFrame:
    """Project vectors onto a fitted PCA basis: ``out[j] = (x - mean)
    . components[j]``. Pure column expressions with the basis inlined
    (k dot products per row — JVM-side, no UDF, map-only); the fitted
    basis is O(k*d) floats, trivially shippable to any engine.

    ``whiten=True`` divides each component by its standard deviation
    (``sqrt(explained_variance[j] * total_variance)``) so projected
    components have unit variance — the preprocessing many
    similarity/clustering steps assume. Requires ``explained_variance``
    (from :func:`pca_fit`) and ``total_variance`` (sum of per-dim
    sample variances of the fit corpus).
    """
    scales = [1.0] * len(components)
    if whiten:
        if explained_variance is None or total_variance is None:
            raise ValueError(
                "whiten=True needs explained_variance and total_variance"
            )
        scales = [
            1.0 / (ev * total_variance) ** 0.5 if ev * total_variance > 0 else 0.0
            for ev in explained_variance
        ]
    v = F.col(veccol)
    centered = F.zip_with(
        v,
        F.array(*[F.lit(float(x)) for x in mean]),
        lambda x, m_: x.cast("double") - m_,
    )
    cols = [
        (
            F.aggregate(
                F.zip_with(
                    centered,
                    F.array(*[F.lit(float(x)) for x in comp]),
                    lambda x, c_: x * c_,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(float(scales[j]))
        ).alias(f"__pc{j}__")
        for j, comp in enumerate(components)
    ]
    return df.select("*", F.array(*cols).alias(out)).drop(
        *[f"__pc{j}__" for j in range(len(components))]
    )


def silhouette_kmeans(
    df: DataFrame,
    centroids: list,
    idcol: str = "vec_id",
    veccol: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per point against
    fitted ``centroids``: ``(idcol, cluster, silhouette)`` with
    ``s = (b - a) / max(a, b)`` where ``a`` is the Euclidean distance
    to the point's own (nearest) centroid and ``b`` the distance to
    the nearest OTHER centroid — the O(n*k) silhouette variant
    (Hruschka et al.) that replaces the classic O(n^2) pairwise
    definition, which is the only honest form at corpus scale.
    ``s`` is in [0, 1] here (assignment is argmin, so a <= b); near 0
    means the point sits on a cell boundary — the SemDeDup failure
    mode worth monitoring — and duplicate centroids yield 0.

    Scale shape: a map-only projection — the centroid list is inlined
    as ONE array literal, per-point distances come from a
    ``transform`` + ordered-fold over it, and ``array_sort`` picks
    the two smallest; no join, no shuffle, nothing collected. Pair
    with :func:`kmeans_fit` (O(k x dims) driver state).
    """
    if len(centroids) < 2:
        raise ValueError(f"need >= 2 centroids: {len(centroids)}")
    carr = F.lit([[float(v) for v in c] for c in centroids])
    scored = F.transform(
        carr,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(veccol),
                    c,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
            i.alias("cid"),
        ),
    )
    srt = F.array_sort(scored)
    a = F.sqrt(srt[0]["dist"])
    b = F.sqrt(srt[1]["dist"])
    return df.select(
        F.col(idcol),
        srt[0]["cid"].alias("cluster"),
        F.when(F.greatest(a, b) > 0, (b - a) / F.greatest(a, b))
        .otherwise(F.lit(0.0))
        .alias("silhouette"),
    )
