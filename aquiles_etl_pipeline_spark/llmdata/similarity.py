"""Similarity search over embedding columns (array<float>).

Two paths:

  brute-force cosine top-k — exact; native higher-order functions
      (zip_with + aggregate), embarrassingly parallel map then
      TakeOrdered.  The correctness baseline.
  LSH (random hyperplanes)  — the 100 TB path: b-bit sign signatures,
      candidates restricted to matching buckets (probe multiple bands),
      verified with exact cosine.  Hyperplanes are deterministic
      Rademacher vectors derived from seeded hashes, so signatures are
      reproducible with no driver-side randomness.

No UDFs anywhere; everything is Catalyst expressions over arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..numerics import pround
from ..partitioning import fan_out


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_sim(a: F.Column, b: F.Column) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_sim_batch(a: F.Column, b: F.Column, single_eval: bool = False) -> F.Column:
    """Arrow-batched cosine for row-pair verification: higher-order
    array expressions evaluate interpreted per element, so on hundreds
    of thousands of candidate pairs one numpy batch per Arrow chunk is
    the 10-100x path.

    ``single_eval=True`` marks the UDF non-deterministic (it is not —
    this is the documented Spark workaround): when a caller FILTERS on
    the emitted column and also returns it, the optimizer pushes the
    filter below the projection and duplicates the ArrowEvalPython
    node, so every surviving pair pays the cosine twice (the r10 plan
    audit caught exactly this in the near-dup verifier).  The
    non-deterministic mark forbids that duplication; the value is
    unchanged.  Leave it False where the column feeds aggregates or
    joins, where the mark would block legitimate rewrites."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma = np.asarray(va.tolist(), dtype=np.float64)
        mb = np.asarray(vb.tolist(), dtype=np.float64)
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(num / den)

    if single_eval:
        _cos = _cos.asNondeterministic()
    return _cos(a, b)


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_sim(F.col(vec_col), q)
    return (
        df.select(id_col, sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def _plane_signs(plane: int, dim: int) -> list[float]:
    """Deterministic Rademacher (+/-1) hyperplane from sha256 — computed
    ONCE driver-side and baked into the plan as an array literal, so the
    per-row work is a 64-element multiply-add, not dim x planes string
    hashes per vector."""
    import hashlib

    return [
        1.0 if hashlib.sha256(f"hp{plane}:{j}".encode()).digest()[0] % 2 == 0 else -1.0
        for j in range(dim)
    ]


def lsh_signature(vec_col: F.Column, num_planes: int = 16, dim: int = 64) -> F.Column:
    """num_planes-bit sign signature packed into a long.

    Dense matrix-times-matrix is the one place the Catalyst expression
    route loses: higher-order array functions evaluate interpreted,
    per-row, per-element (~ms/row for 16x64 planes), while an
    Arrow-batched Pandas UDF does the whole batch in one numpy matmul.
    Signatures stay deterministic — the plane matrix is sha256-derived
    (see _plane_signs), identical on every executor."""
    from pyspark.sql.functions import pandas_udf

    assert num_planes <= 64
    planes = np.array(
        [_plane_signs(p, dim) for p in range(num_planes)], dtype=np.float64
    ).T  # (dim, num_planes)
    weights = 1 << np.arange(num_planes, dtype=np.uint64)

    @pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        bits = (m @ planes) >= 0.0
        packed = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
        return pd.Series(packed.view(np.int64))

    return _sig(vec_col)


def lsh_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Approximate top-k with multi-probe LSH: probe buckets sharing at
    least one signature band with the query — including buckets within
    Hamming distance 1 of each query band (Lv et al., VLDB'07), which
    buys recall without extra hash tables — then exact cosine within the
    candidate set.  At 100 TB the bucket join prunes the scan to a tiny
    candidate fraction; signatures would be precomputed + bucketed."""
    bits_per_band = num_planes // bands
    sig = lsh_signature(F.col(vec_col), num_planes, dim=len(query_vec))
    with_sig = df.withColumn("_sig", sig)
    banded = with_sig.select(
        id_col,
        vec_col,
        *[
            F.shiftrightunsigned("_sig", bits_per_band * b)
            .bitwiseAND(F.lit((1 << bits_per_band) - 1))
            .alias(f"_band_{b}")
            for b in range(bands)
        ],
    )
    qdf = banded.sparkSession.createDataFrame([(list(map(float, query_vec)),)], f"{vec_col}: array<double>")
    qrow = qdf.select(
        *[
            F.shiftrightunsigned(
                lsh_signature(F.col(vec_col), num_planes, dim=len(query_vec)), bits_per_band * b
            )
            .bitwiseAND(F.lit((1 << bits_per_band) - 1))
            .alias(f"_band_{b}")
            for b in range(bands)
        ]
    ).collect()[0]
    match_any = None
    for b in range(bands):
        qband = int(qrow[f"_band_{b}"])
        probes = [qband] + [qband ^ (1 << i) for i in range(bits_per_band)]
        cond = F.col(f"_band_{b}").isin(probes)
        match_any = cond if match_any is None else (match_any | cond)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        banded.where(match_any)
        .select(id_col, cosine_sim(F.col(vec_col), q).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def exact_cosine_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rows_per_block: int = 8192,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine similarity >= threshold — the verifiable
    brute-force baseline the LSH/IVF paths approximate.

    Physical shape: a fully distributed block-pair (triangle) join — no
    driver-side collect of the vector table anywhere.  Each vector gets
    a block id (hash mod B); every row is replicated to the B block
    PAIRS it participates in ((min(b,j), max(b,j)) for all j), and an
    ``applyInPandas`` over the (bi, bj) groups runs one dense GEMM per
    tile, emitting only qualifying (id_a < id_b) pairs.  The quadratic
    work happens inside BLAS; the quadratic pair *data* never hits a
    shuffle — only the n*B replicated input rows do.

    Scale: shuffle volume is n*B rows; per-task memory is two
    (n/B x dim) tiles; parallelism is B(B+1)/2 tiles.  B defaults to
    ceil(n/rows_per_block) (one distributed count to size it), so tiles
    stay ~rows_per_block² pairs regardless of n — at 1e6 x 64-dim
    vectors that's B=123, 3.9 GB replicated shuffle, 7.6k tiles, and no
    single machine ever holds the table.  The LSH/IVF paths remain the
    sub-quadratic 100 TB answer; this is the exact baseline that stays
    runnable."""
    spark = df.sparkSession
    if n_blocks is None:
        n = df.count()  # distributed action, sizes the tiling; no data moves
        n_blocks = max(1, -(-n // rows_per_block))
    blocked = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    pair_structs = F.array(*[
        F.struct(
            F.least(F.col("_blk"), F.lit(j)).alias("bi"),
            F.greatest(F.col("_blk"), F.lit(j)).alias("bj"),
        )
        for j in range(n_blocks)
    ])
    replicated = blocked.select(
        "_id", "_vec", "_blk", F.explode(F.array_distinct(pair_structs)).alias("_bp")
    ).select("_id", "_vec", "_blk", F.col("_bp.bi").alias("_bi"), F.col("_bp.bj").alias("_bj"))

    thr = float(threshold)

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        m = np.asarray(pdf["_vec"].tolist(), dtype=np.float64)
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        if bi == bj:  # diagonal tile: upper triangle of one block
            s = mn @ mn.T
            ii, jj = np.nonzero((s >= thr) & (ids[:, None] < ids[None, :]))
            return pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj], "cosine_sim": s[ii, jj]})
        a = pdf["_blk"].to_numpy() == bi
        ids_a, ids_b = ids[a], ids[~a]
        s = mn[a] @ mn[~a].T
        ii, jj = np.nonzero((s >= thr) & (ids_a[:, None] != ids_b[None, :]))
        return pd.DataFrame(
            {
                "id_a": np.minimum(ids_a[ii], ids_b[jj]),
                "id_b": np.maximum(ids_a[ii], ids_b[jj]),
                "cosine_sim": s[ii, jj],
            }
        )

    return replicated.groupBy("_bi", "_bj").applyInPandas(
        tile, "id_a: long, id_b: long, cosine_sim: double"
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    salt: int = 8,
) -> DataFrame:
    """Batched brute-force k-NN join: top-k corpus neighbors for EVERY
    query vector (the retrieval-eval / hard-negative-mining primitive).

    Physical shape: the query set broadcasts (it is the small side by
    construction); similarity is one Arrow-batched GEMM-shaped pass over
    corpus x queries; top-k selection is TWO-PHASE — a salted local
    rank (partition key (query, salt)) keeps any single reducer from
    receiving a query's entire N similarities, then the global rank
    runs over only Q x salt x k survivors.  Both phases order by the
    same (rounded score DESC, id) keys, so phase 1's locally-kept rows
    are always a superset of the global top-k and results are
    deterministic across engines."""
    from pyspark.sql.window import Window

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv")
        )
    )
    scored = (
        fan_out(corpus)
        .select(id_col, vec_col)
        .crossJoin(q)
        .select(
            F.col("_qid").alias(query_id_col),
            id_col,
            pround(cosine_sim_batch(F.col(vec_col), F.col("_qv")), 4).alias("cosine_sim"),
        )
    )
    order = [F.desc("cosine_sim"), F.asc(id_col)]
    local = Window.partitionBy(
        query_id_col, F.pmod(F.xxhash64(id_col), F.lit(salt))
    ).orderBy(*order)
    glob = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        scored.withColumn("_lr", F.row_number().over(local))
        .where(F.col("_lr") <= k)
        .withColumn("_gr", F.row_number().over(glob))
        .where(F.col("_gr") <= k)
        .drop("_lr", "_gr")
    )


def _spherical_kmeans(x: np.ndarray, n_cells: int, seed: int, iters: int = 8) -> np.ndarray:
    """Deterministic spherical k-means (unit centroids, cosine
    assignment) — the IVF coarse quantizer."""
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    c = xn[rng.choice(len(xn), size=min(n_cells, len(xn)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(xn @ c.T, axis=1)
        for j in range(len(c)):
            members = xn[assign == j]
            if len(members):
                mean = members.mean(axis=0)
                norm = np.linalg.norm(mean)
                if norm > 0:
                    c[j] = mean / norm
    return c


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int | None = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 4,
    sample_size: int = 4096,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: a spherical
    k-means coarse quantizer partitions vectors into cells; a query
    probes only its n_probe nearest cells and reranks exactly inside
    them.  The complementary ANN design to lsh_ann_topk: IVF adapts to
    the data distribution (centroids live where vectors are) where LSH
    is data-oblivious.

    Scale: the quantizer trains on a bounded driver-side sample (that
    is how FAISS-style IVF trains too); assignment is one batched
    matmul per Arrow chunk; at 100 TB the cell id becomes a partition/
    bucket key so a probe prunes file scans instead of filtering rows.
    """
    sample = df.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    x = np.asarray([r[0] for r in sample], dtype=np.float64)
    cents = _spherical_kmeans(x, n_cells, seed)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _cell(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        return pd.Series(np.argmax(vn @ cents.T, axis=1).astype(np.int32))

    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / np.linalg.norm(q)
    probes = [int(p) for p in np.argsort(-(cents @ qn))[:n_probe]]
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = (
        fan_out(df)
        .withColumn("_cell", _cell(F.col(vec_col)))
        .where(F.col("_cell").isin(probes))
        .select(id_col, cosine_sim_batch(F.col(vec_col), qcol).alias("cosine_sim"))
    )
    if k is None:  # probe-all/exact grading mode: caller ranks the scores
        return scored
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 64,
    bands: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) via banded LSH
    buckets + exact verification — embedding-space analogue of minhash
    dedup.  Only (id, band) flows through the self-join; vectors join
    back for exact cosine on the small deduped candidate set, so the
    shuffle never carries dim-sized arrays x bands.

    Defaults (64 planes = 8 bands x 8 bits, one packed long): for
    cosine >= 0.9 pairs (p_bit ~ 0.856) recall is ~93%, while random
    pairs collide per band at 2^-8 — narrow bands are what make LSH
    prune; 4-bit bands pass ~1/16 of ALL pairs per band and drown the
    verifier."""
    from .dedup import bucket_pairs

    if dim is None:
        # dim probe costs one tiny driver job; callers that know the
        # embedding width pass it and skip the round trip
        first = df.select(vec_col).first()
        dim = len(first[0]) if first else 0
    bits_per_band = num_planes // bands
    # fan out: one input file = one partition = one core for the
    # signature matmul; at scale inputs are already many partitions
    df = fan_out(df)
    with_sig = df.withColumn("_sig", lsh_signature(F.col(vec_col), num_planes, dim=dim))
    stacked = with_sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftrightunsigned("_sig", bits_per_band * b)
                    .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                    .alias("band_val"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band_id", "bb.band_val")
    # in-bucket pair expansion (ONE groupBy exchange) instead of a
    # bucket self-join — no persist, nothing cached after the query;
    # the signature pipeline is evaluated once.  The verification
    # join-backs below re-scan the input relation for vectors (column-
    # pruned parquet scan); callers composing an expensive lineage
    # should materialize it upstream.
    buckets = (
        stacked.groupBy("band_id", "band_val")
        .agg(F.collect_list(id_col).alias("_ids"))
        .where(F.size("_ids") >= 2)
    )
    pairs = bucket_pairs(buckets).dropDuplicates(["id_a", "id_b"])
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_sim_batch(F.col("va"), F.col("vb"), single_eval=True).alias(
                "cosine_sim"
            ),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Row-wise absmax int8 scalar quantization — the standard scheme
    for shrinking an embedding store 4x (float32 -> int8 + one scale
    per vector) while keeping ANN recall: q_i = round(127 * v_i /
    max|v|), dequantized as q_i * scale with scale = max|v| / 127.

    Pure shuffle-free projection (whole-stage codegen, higher-order
    array functions only), so it runs at full scan speed over any
    corpus size.  The per-DIMENSION global-minmax variant (FAISS SQ8)
    needs one extra bounded aggregation — per-dim partial min/max
    combine map-side to #dims rows per task — and swaps the literal
    row scale for broadcast per-dim arrays; same projection otherwise.

    Output: (id, scale, qvec int8-range ints, recon_rmse) — the rmse
    of dequantization, the quality number a pipeline monitors when
    deciding int8 is safe for its recall target.  All double math is
    fixed-order (left fold), so results are bit-reproducible.
    Degenerate rows are defined, not accidental: an empty vector gets
    recon_rmse 0.0 (not the NULL that 0.0/0 would produce) and a NULL
    scale (array_max of nothing), matching the SQL twin exactly.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # hoist the scale through its own projection: inlining the array_max
    # subtree inside the per-element lambda would replicate it per
    # element in the generated code (dim-fold codegen blowup); as a
    # named column it is computed once per row
    scaled = df.select(F.col(id_col), v.alias("_v")).withColumn(
        "_scale", F.array_max(F.transform("_v", F.abs)) / F.lit(127.0)
    )
    qvec = F.when(
        F.col("_scale") == F.lit(0.0), F.transform("_v", lambda x: F.lit(0))
    ).otherwise(
        F.transform("_v", lambda x: F.round(x / F.col("_scale")).cast("int"))
    )
    base = scaled.select(F.col(id_col), "_v", "_scale", qvec.alias("qvec"))
    err2 = F.aggregate(
        F.zip_with("_v", "qvec", lambda a, q: F.pow(a - q.cast("double") * F.col("_scale"), F.lit(2.0))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return base.select(
        id_col,
        pround("_scale", 6).alias("scale"),
        "qvec",
        F.when(F.size("_v") == 0, F.lit(0.0))
        .otherwise(pround(F.sqrt(err2 / F.size("_v")), 6))
        .alias("recon_rmse"),
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: embedding-cosine near-dup
    pairs (banded LSH + exact verification, embedding_near_dup_pairs)
    unioned into connected components, with the minimum id elected as
    each cluster's canonical representative — keep ``is_canonical`` and
    a semantically-deduplicated corpus remains.

    Document-level text dedup (dedup_clusters) misses paraphrases and
    re-encodings; this is the embedding-space analogue over the same
    component/canonical contract.

    Output: (id, component_id, cluster_size, is_canonical).

    Scale: EXACT-duplicate collapse runs first (the dedup_clusters
    lesson applied to embedding space): identical vectors have
    identical cosine neighborhoods, so each identical-vector group
    enters LSH pair mining as ONE representative (the group min id)
    and expands back through the id->rep mapping AFTER components
    resolve.  On a dup-heavy corpus this removes the quadratic
    in-bucket candidate blowup (a group of g identical vectors lands
    in the same bucket in EVERY band, costing O(g^2) candidate pairs
    x bands) before it is ever materialized.  Losslessness is exact,
    not assumed: a group only collapses when its computed self-cosine
    clears ``threshold`` (true for every nonzero vector at practical
    thresholds; zero/NaN/NULL vectors fail the check and stay
    singletons, matching pairwise semantics where their cosine is
    never >= threshold).  Because members of a collapsed group share
    identical neighborhoods, component membership and the min-id
    canonical are unchanged by the collapse (rep = group min, so the
    component min over reps IS the min over expanded members).
    Remaining shape: pair mining shuffles band keys (never vectors,
    see embedding_near_dup_pairs); the component loop shuffles (node,
    label) pairs over REP grain and converges in O(log diameter)
    rounds; the size join is label-keyed and AQE-broadcastable when
    clusters are few.
    """
    from .dedup import connected_components

    # materialize the projected (id, vec) frame ONCE before the probe:
    # the probe (which makes this function eager anyway), the exact-dup
    # group collapse, and the pair miner's internal rescans all read
    # this checkpoint instead of each re-executing the caller's
    # upstream plan — on the no-dup fast path that turns probe+miner
    # from two upstream scans into one (review-found rescan)
    df = df.select(F.col(id_col), F.col(vec_col)).localCheckpoint()

    # data-adaptive fork: with NO duplicate vector anywhere (the common
    # shape of an already-deduplicated corpus) the collapse machinery
    # is pure overhead — a vector-keyed shuffle plus three joins for an
    # identity mapping.  The probe is ONE map-side-combining aggregate
    # (count vs distinct xxhash64 of the vector bytes): identical
    # vectors always share a hash, so n == d proves no-dups exactly;
    # a hash collision can only send us down the collapse path, whose
    # real array-equality groupBy is collision-free — never wrong,
    # merely slower.  On dup-heavy corpora the collapse removes the
    # quadratic in-bucket blowup, which is the trade that matters at
    # 100 TB.
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.xxhash64(F.col(vec_col))).alias("d"),
    ).first()
    if stats["n"] == stats["d"]:
        pairs = embedding_near_dup_pairs(
            df, threshold=threshold, vec_col=vec_col, id_col=id_col, dim=dim
        ).select("id_a", "id_b")
        labels = connected_components(pairs, df.select(id_col), id_col=id_col)
        return _label_output(labels, id_col)
    m = df.select(F.col(id_col).alias("_node"), F.col(vec_col).alias("_v"))
    groups = (
        m.groupBy("_v")
        .agg(F.min("_node").alias("_rep"), F.count(F.lit(1)).alias("_g"))
        .where(
            F.col("_v").isNotNull()
            # NaN-bearing vectors must stay singletons: Spark's total
            # ordering makes NaN >= threshold (and NaN > 0) TRUE, so
            # without this guard identical NaN vectors would collapse
            # into one cluster that the pairwise miner (whose Arrow
            # NaN cosine nulls out of the >= filter) would never form
            # (review-found regression)
            & ~F.exists("_v", lambda x: F.isnan(x.cast("double")))
            & (F.col("_g") >= 2)
            # lazy CaseWhen: the cosine division only evaluates on
            # nonzero-norm groups (ANSI mode errors on 0/0, and a zero
            # vector's self-cosine is undefined -> ineligible anyway)
            & (
                F.when(
                    _norm(F.col("_v")) > 0,
                    cosine_sim(F.col("_v"), F.col("_v")),
                )
                >= F.lit(threshold)
            )
        )
        .select("_v", "_rep")
    )
    # NULL-vector rows never match the array-equality join (SQL NULL
    # keys), so they coalesce to self-reps — per-row identity, exactly
    # the pre-collapse behavior.  mapping feeds THREE consumers (the
    # rep filter, the expansion join, and through rep_rows the miner's
    # three internal rescans) — localCheckpoint it and the rep-filtered
    # vector rows so the vector groupBy and the semi-join run once,
    # not per consumer (the miner's documented materialize-upstream
    # contract; PERSIST_PRONE covers the drain).
    mapping = (
        m.join(groups, "_v", "left")
        .select("_node", F.coalesce("_rep", F.col("_node")).alias("_rep"))
        .localCheckpoint()
    )
    rep_rows = df.join(
        mapping.where(F.col("_node") == F.col("_rep")).select(
            F.col("_node").alias("_rid")
        ),
        F.col(id_col) == F.col("_rid"),
        "left_semi",
    ).localCheckpoint()
    pairs = embedding_near_dup_pairs(
        rep_rows, threshold=threshold, vec_col=vec_col, id_col=id_col, dim=dim
    ).select("id_a", "id_b")
    rep_labels = connected_components(
        pairs, rep_rows.select(id_col), id_col=id_col
    )
    labels = mapping.join(
        rep_labels, mapping["_rep"] == rep_labels["_n"]
    ).select(F.col("_node").alias("_n"), "_comp")
    return _label_output(labels, id_col)


def _label_output(labels, id_col: str):
    """Shared semantic_dedup output assembly: cluster sizes + min-id
    canonical election over a (_n, _comp) labels frame — one place for
    the output contract regardless of which dedup branch produced the
    labels."""
    sizes = labels.groupBy("_comp").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "_comp").select(
        F.col("_n").alias(id_col),
        F.col("_comp").alias("component_id"),
        "cluster_size",
        (F.col("_n") == F.col("_comp")).alias("is_canonical"),
    )


def embedding_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic benchmark decontamination: flag every training vector
    whose cosine similarity to ANY benchmark vector reaches
    ``threshold`` — the embedding-space complement of the 8-gram
    overlap check (sampling.benchmark_ngram_overlap), catching
    paraphrased/translated eval leakage that token overlap misses.

    Output: (id, max_benchmark_cos, contaminated) — one row per
    training vector, max similarity rounded to 4dp for engine-portable
    comparison.

    Physical strategy: the benchmark set is small by construction
    (eval suites are thousands of rows, not billions), so it
    BROADCASTS; the training side streams through a map-only
    crossJoin + partial max — no shuffle of the 100 TB side at all.
    The per-pair cosine is the same index-ordered aggregate DuckDB's
    list_cosine_similarity computes, so exactness carries to the
    oracle bit-for-bit.  For benchmark sets too big to broadcast,
    pre-bucket both sides with lsh_signature and join on band keys
    (same shape as embedding_near_dup_pairs).
    """
    b = F.broadcast(
        benchmark.select(
            F.col(id_col).alias("_bid"), F.col(vec_col).alias("_bv")
        )
    )
    sim = cosine_sim(F.col(vec_col), F.col("_bv"))
    # LEFT broadcast-NLJ, not crossJoin: an empty benchmark set must
    # yield every training vector with max_benchmark_cos=null /
    # contaminated=false — a cross join would silently emit ZERO rows,
    # reading as "no training data" instead of "nothing contaminated"
    return (
        train.select(id_col, vec_col)
        .join(b, F.lit(True), "left")
        .groupBy(id_col)
        .agg(pround(F.max(sim), 4).alias("max_benchmark_cos"))
        .withColumn(
            "contaminated",
            F.coalesce(F.col("max_benchmark_cos") >= threshold, F.lit(False)),
        )
    )


def kmeans_train_distributed(
    df: DataFrame,
    n_cells: int = 16,
    iters: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init_sample: int = 4096,
) -> np.ndarray:
    """Distributed spherical k-means trainer (Lloyd iterations over the
    FULL dataset) — the scale-path upgrade of _spherical_kmeans's
    bounded-sample training.

    Per iteration: assignment is an Arrow-batched matmul against the
    broadcast centroid matrix; the centroid update posexplodes UNIT
    vectors to (cell, pos, value) and sum-aggregates — the shuffle and
    the driver collect are both O(n_cells x dim) (map-side partial
    sums), NEVER O(rows).  This is exactly MLlib KMeans' dataflow,
    specialized to cosine/spherical geometry.

    Init stays a bounded deterministic sample (seeded choice over the
    first ``init_sample`` rows by id) — k-means init from a sample is
    standard (FAISS trains the whole quantizer that way); the Lloyd
    refinement is what sees all data.

    Returns the (n_cells, dim) unit-norm centroid matrix; feed to
    assign_cells / ivf_topk-style probing.
    """
    from pyspark.sql.functions import pandas_udf

    init = df.orderBy(id_col).limit(init_sample).select(vec_col).collect()
    x = np.asarray([r[0] for r in init], dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    c = xn[rng.choice(len(xn), size=min(n_cells, len(xn)), replace=False)].copy()

    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda e: e.cast("double") * e.cast("double")),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
    )
    unit = F.transform(v, lambda e: e.cast("double") / norm)
    units = df.select(unit.alias("_u"))

    for _ in range(iters):
        cents = c  # rebind: the udf closure must capture THIS round's matrix

        @pandas_udf("int")
        def _cell(vecs: pd.Series) -> pd.Series:
            m = np.asarray(vecs.tolist(), dtype=np.float64)
            return pd.Series(np.argmax(m @ cents.T, axis=1).astype(np.int32))

        stats = (
            units.withColumn("_cell", _cell(F.col("_u")))
            .select("_cell", F.posexplode("_u").alias("_pos", "_val"))
            .groupBy("_cell", "_pos")
            .agg(F.sum("_val").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        new_c = c.copy()
        sums = np.zeros_like(c)
        counts = np.zeros(len(c))
        for r in stats:
            sums[r["_cell"], r["_pos"]] = r["_s"]
            counts[r["_cell"]] = r["_n"]
        for j in range(len(c)):
            if counts[j] > 0:
                nrm = np.linalg.norm(sums[j])
                if nrm > 0:
                    new_c[j] = sums[j] / nrm
        c = new_c
    return c


def assign_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Attach the IVF cell id for a trained centroid matrix (cosine
    argmax, Arrow-batched).  At 100 TB the cell id becomes the
    partition/bucket key so probes prune file scans."""
    from pyspark.sql.functions import pandas_udf

    cents = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _cell(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(np.argmax(mn @ cents.T, axis=1).astype(np.int32))

    return df.withColumn("cell", _cell(F.col(vec_col)))


def embedding_quality_stats(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space data QA per group: vector count, mean/min/max
    L2 norm, and the count of degenerate (zero-norm) vectors — the
    health check run after an embedding job before anything consumes
    the vectors (collapsed groups, scale drift between encoder
    versions, and all-zero failures show up here first).

    Exactness discipline for the mean: per-row norms are irrational
    doubles, and summing raw doubles across rows is
    aggregation-order-dependent — so each norm is ROUNDED to 6dp and
    cast to exact decimal BEFORE the sum (the catalog.money pattern
    for values that are not naturally decimal).  Min/max need no such
    care (order-free).

    Scale: one partial-aggregated shuffle at group grain; norms
    compute in the scan stage.
    """
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n6 = pround(norm, 6).cast("decimal(18,6)")
    base = df.select(F.col(group_col), n6.alias("_n6"))
    return base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum("_n6").cast("double") / F.count(F.lit(1))).alias("mean_norm"),
        F.min("_n6").cast("double").alias("min_norm"),
        F.max("_n6").cast("double").alias("max_norm"),
        F.sum(F.when(F.col("_n6") == 0, 1).otherwise(0)).alias("n_zero_vectors"),
    )


def centroid_similarity_matrix(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    out_round: int = 6,
) -> DataFrame:
    """Pairwise cosine similarity between per-group embedding
    CENTROIDS — the dataset-similarity / cluster-drift matrix ("how
    close is source A's embedding mass to source B's?").

    Exactness trick: cosine is scale-invariant, so the mean never has
    to be materialized — cos(sum_a/n_a, sum_b/n_b) = cos(sum_a,
    sum_b).  Each element is rounded to 6dp and scaled to INTEGER
    micros before summing, so the per-dimension sums are exact bigint
    in any row order (the q86/q166 discipline applied per dimension);
    dot products of those sums run in decimal(38,0) (bigint would
    overflow at ~1e9-scale sums squared) and divide once as double.

    Scale: the explode emits (group, dim, micros) triples only —
    partial aggregation collapses them map-side to |groups| x dim
    rows, which then broadcast through a tiny self-join.  Never
    row-pair-grain anything.
    """
    sums = (
        df.select(
            F.col(group_col).alias("_g"),
            F.posexplode(vec_col).alias("_d", "_v"),
        )
        .select(
            "_g",
            "_d",
            F.round(F.col("_v").cast("double") * F.lit(1e6))
            .cast("bigint")
            .alias("_m"),
        )
        .groupBy("_g", "_d")
        .agg(F.sum("_m").cast("decimal(38,0)").alias("_s"))
    )
    # norms aggregate PER GROUP over the group's own dimensions —
    # computing them inside the pair join would silently shrink a
    # group's norm to only the dims the partner also has (wrong, and
    # inconsistent across pairs) whenever embeddings are ragged or
    # carry NULL elements
    norms = sums.groupBy("_g").agg(
        F.sum(F.col("_s") * F.col("_s")).alias("_n2")
    )
    a = sums.select(
        F.col("_g").alias("_ga"), "_d", F.col("_s").alias("_sa")
    )
    b = sums.select(
        F.col("_g").alias("_gb"), "_d", F.col("_s").alias("_sb")
    )
    prods = (
        a.join(F.broadcast(b), "_d")
        .where(F.col("_ga") <= F.col("_gb"))
        .groupBy("_ga", "_gb")
        .agg(F.sum(F.col("_sa") * F.col("_sb")).alias("_dot"))
    )
    na = norms.select(F.col("_g").alias("_ga"), F.col("_n2").alias("_na"))
    nb = norms.select(F.col("_g").alias("_gb"), F.col("_n2").alias("_nb"))
    return (
        prods.join(F.broadcast(na), "_ga")
        .join(F.broadcast(nb), "_gb")
        .select(
            F.col("_ga").alias(f"{group_col}_a"),
            F.col("_gb").alias(f"{group_col}_b"),
            F.round(
                F.col("_dot").cast("double")
                / (
                    F.sqrt(F.col("_na").cast("double"))
                    * F.sqrt(F.col("_nb").cast("double"))
                ),
                out_round,
            ).alias("centroid_cosine"),
        )
    )
