"""Similarity search over embedding columns (``array<float>``).

Two paths (BASELINE.json north star):
- ``brute_force_topk`` — exact cosine top-k. The small (query) side is
  broadcast, so the big side streams through one stage with no shuffle;
  per-pair dot products run as JVM higher-order functions. Exact path
  doubles as the recall oracle for the approximate path.
- ``lsh_topk`` — random-hyperplane (sign) LSH: bucket by a b-bit sign
  signature, probe only same-bucket (and optionally neighboring-band)
  candidates. At 100 TB the bucket join replaces the docs×queries cross
  product; hyperplanes derive deterministically from (plane, dim) hashes
  so there is no RNG state to ship.

Numeric determinism: float components are quantized to integers
(``round(x * 1e7)`` — a deterministic double op) and dot products /
norms accumulate in exact 64-bit integer arithmetic, which is
order-independent — so cosine values are bit-identical across Spark and
the DuckDB oracle regardless of partitioning or summation order. The
quantization (~1e-7 relative) defines the metric; both sides compute
the *same* metric exactly.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from . import local_rows_df, note_fixpoint_branch

QUANT_SCALE = 10_000_000  # 1e7: float32 has ~7 significant digits


def _quantize(v):  # Column -> Column (array<long>)
    return F.transform(
        v, lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast("long")
    )


def _int_dot(a, b):  # Column(array<long>) x2 -> Column(long)
    """Exact integer dot product via fold — order-independent because
    integer addition is associative and exact."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def with_norm(df: DataFrame, vec_col: str, out: str = "_norm") -> DataFrame:
    """Adds quantized vector ``_qv`` and double norm ``out`` (in
    quantized units)."""
    q = _quantize(F.col(vec_col))
    return df.withColumn("_qv", q).withColumn(
        out, F.sqrt(_int_dot(F.col("_qv"), F.col("_qv")).cast("double"))
    )


# Driver fast-path bounds for kcenter_sample: the greedy loop may run
# locally only when the quantized table is provably driver-sized —
# at most this many rows AND this many int64 cells (rows × dim; 4M
# cells ≈ 32 MB). Past either bound the k-round distributed loop runs
# unchanged. The dim is probed with a 1-row job BEFORE any collect, so
# an unexpectedly wide vector can never pull an unbounded payload.
_KCENTER_DRIVER_ROWS = 100_000
_KCENTER_DRIVER_CELLS = 4_000_000


def _kcenter_driver_picks(
    cur: DataFrame, id_col: str, k: int
) -> list[tuple[int, int]] | None:
    """Exact driver-side replay of the greedy k-center recurrence over
    a (id, _qv array<long>) table that fits the measured bounds;
    ``None`` when the table is too large/ragged/null-bearing for the
    fast path (caller falls through to the distributed loop).

    Bit-identical to the distributed loop by construction: inputs are
    the ALREADY-quantized int64 vectors, distances are exact integer
    sums (order-independent), and both argmaxes break ties by
    (score desc, id asc) — the same total order as
    ``orderBy(desc, asc).limit(1)``."""
    probe = cur.select(F.size("_qv").alias("_d")).first()
    if probe is None:  # empty input: let the shared empty path handle it
        return []
    dim = probe["_d"]
    if dim is None or dim < 0:
        return None  # null vector — distributed path owns the semantics
    n = cur.count()
    if n > _KCENTER_DRIVER_ROWS or n * max(dim, 1) > _KCENTER_DRIVER_CELLS:
        return None
    rows = cur.collect()
    ids = np.empty(n, dtype=np.int64)
    try:
        mat = np.empty((n, dim), dtype=np.int64)
        for i, r in enumerate(rows):
            ids[i] = r[0]
            v = r[1]
            if v is None or len(v) != dim or any(x is None for x in v):
                return None  # ragged/null — fall back
            mat[i] = v
    except (TypeError, ValueError, OverflowError):
        return None
    alive = np.ones(n, dtype=bool)

    def argbest(score: np.ndarray) -> int:
        # max score, ties to smallest id, among alive rows only
        cand = np.flatnonzero(alive)
        best = cand[score[cand] == score[cand].max()]
        return best[ids[best].argmin()]

    i0 = argbest((mat * mat).sum(axis=1))
    picks = [(int(ids[i0]), 1)]
    alive[ids == ids[i0]] = False
    d = mat - mat[i0]
    mind = (d * d).sum(axis=1)
    for r in range(2, k + 1):
        if not alive.any():
            break
        nxt = argbest(mind)
        picks.append((int(ids[nxt]), r))
        c = mat[nxt]
        alive[ids == ids[nxt]] = False
        d = mat - c
        np.minimum(mind, (d * d).sum(axis=1), out=mind)
    return picks


def kcenter_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
) -> DataFrame:
    """Greedy k-center / farthest-point diversity sample (Gonzalez
    1985, public algorithm): pick the max-norm point, then k-1 times
    the point FARTHEST from everything picked so far — the classic
    coverage-maximizing selection for training-data diversity (the
    2-approximation to the k-center objective).

    Determinism/exactness: distances are EXACT INT64 squared euclidean
    over the quantized vectors (``QUANT_SCALE``), so every argmax is a
    discrete comparison — no float summation order anywhere — and ties
    break by smallest id. Output ``(vec_id, pick_order)`` (1-based).

    Scale shape: each round ships exactly ONE center through the
    driver (k x dim int literals total) and folds it into a running
    min-distance column — the scan stays distributed, the per-round
    work is one ``least()`` update plus one TakeOrdered(1), and
    lineage cuts every 8 rounds bound the plan. Driver memory is
    O(k·dim), never O(n). The rounds are SEQUENTIAL driver
    round-trips by construction (greedy selection is inherently
    iterative), so wall-clock grows linearly in k regardless of data
    size — right for diversity SELECTION (k in the tens/hundreds),
    wrong for clustering-scale k: past ``k=256`` the call fails
    loudly; use k-means-style assignment (or IVF cells) for
    thousands of centers instead."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > 256:
        raise ValueError(
            f"kcenter_sample runs k sequential driver rounds and is bounded "
            f"at k=256 (got {k}); for clustering-scale center counts use a "
            f"parallel assignment algorithm, not greedy farthest-point"
        )
    cur = df.select(
        F.col(id_col).cast("long").alias(id_col), _quantize(F.col(vec_col)).alias("_qv")
    ).localCheckpoint(eager=True)

    # Measured-cardinality fast path: greedy selection is k SEQUENTIAL
    # argmax rounds, so the distributed loop below costs k driver
    # round-trip jobs even when the quantized table is kilobytes. When
    # the table provably fits the driver (row AND cell bounds, dim
    # probed before collecting anything wide), run the SAME integer
    # recurrence in one collect + a numpy loop — every distance is the
    # identical exact int64 sum and every tie breaks (score desc, id
    # asc) exactly like the orderBy().limit(1) path, so the pick
    # sequence (and the DuckDB recursive-CTE hash) is unchanged. The
    # distributed loop stays the production path for corpora past the
    # bound — same discipline as graph._BROADCAST_NODE_BOUND.
    picks = _kcenter_driver_picks(cur, id_col, k)
    if picks is not None:
        note_fixpoint_branch("kcenter_sample", "driver")
        return local_rows_df(
            df.sparkSession, picks, f"{id_col} long, pick_order long"
        )

    note_fixpoint_branch("kcenter_sample", "distributed")
    first = (
        cur.withColumn("_n2", _int_dot(F.col("_qv"), F.col("_qv")))
        .orderBy(F.col("_n2").desc(), F.col(id_col).asc())
        .limit(1)
        .select(id_col, "_qv")
        .first()
    )
    if first is None:
        return local_rows_df(df.sparkSession, [], f"{id_col} long, pick_order long")
    picks = [(int(first[0]), 1)]
    center = [int(x) for x in first[1]]

    def dist_to(center_vals: list[int]):
        lit_arr = F.array(*[F.lit(x) for x in center_vals])
        return F.aggregate(
            F.zip_with(F.col("_qv"), lit_arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    cur = cur.where(F.col(id_col) != picks[0][0]).withColumn("_mind", dist_to(center))
    for r in range(2, k + 1):
        nxt = (
            cur.orderBy(F.col("_mind").desc(), F.col(id_col).asc())
            .limit(1)
            .select(id_col, "_qv")
            .first()
        )
        if nxt is None:  # fewer than k points
            break
        picks.append((int(nxt[0]), r))
        center = [int(x) for x in nxt[1]]
        cur = cur.where(F.col(id_col) != picks[-1][0]).withColumn(
            "_mind", F.least(F.col("_mind"), dist_to(center))
        )
        if r % 8 == 0:
            cur = cur.localCheckpoint(eager=True)
    return local_rows_df(df.sparkSession, picks, f"{id_col} long, pick_order long")


def cosine_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All (query, corpus) cosine similarities; query side broadcast."""
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("qid"), F.col("_qv").alias("_qvq"), F.col("_norm").alias("_qn")
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nid"), F.col("_qv").alias("_cvq"), F.col("_norm").alias("_cn")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("nid"))
        .withColumn(
            "cosine",
            F.round(
                _int_dot(F.col("_qvq"), F.col("_cvq")).cast("double")
                / (F.col("_qn") * F.col("_cn")),
                9,
            ),
        )
        .select("qid", "nid", "cosine")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query (ties broken by neighbor id —
    deterministic output)."""
    pairs = cosine_pairs(queries, corpus, vec_col, id_col)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def mine_contrastive_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    k_neg: int = 5,
    pos_threshold: float = 0.9,
    neg_ceiling: float | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Contrastive-pair mining for embedding-model training: per
    anchor, every corpus item at cosine ≥ ``pos_threshold`` becomes a
    ``positive`` (ranked by similarity), and the ``k_neg`` MOST
    similar items strictly below ``neg_ceiling`` (default: the
    positive threshold) become ``hard_negative`` — the near-miss
    examples that carry the training signal easy random negatives
    lack (public technique: hard/in-batch negative mining, e.g. DPR,
    Karpukhin et al. 2020; RocketQA). Output:
    ``(qid, nid, cosine, role, rank)`` with rank dense per (anchor,
    role), ties broken by neighbor id.

    This is the EXACT path (one scored pass, broadcast anchors): both
    bands come from the same cosine stream, so the plan scores each
    (anchor, item) pair once and splits by predicate — anchor sets
    are query-sized (bounded), corpus-sized work is one broadcast
    scan. At 100 TB swap the scored stream for IVF/LSH candidates
    (``ivf_topk``/``lsh_topk``) and keep the same band-split; the
    exact form stays as the recall oracle."""
    if k_neg < 1:
        raise ValueError(f"k_neg must be >= 1, got {k_neg}")
    ceiling = pos_threshold if neg_ceiling is None else neg_ceiling
    if ceiling > pos_threshold:
        raise ValueError(
            f"neg_ceiling {ceiling} must not exceed pos_threshold "
            f"{pos_threshold} (a pair cannot be both bands)"
        )
    scored = cosine_pairs(queries, corpus, vec_col, id_col)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    pos = (
        scored.where(F.col("cosine") >= pos_threshold)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("role", F.lit("positive"))
    )
    neg = (
        scored.where(F.col("cosine") < ceiling)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k_neg)
        .withColumn("role", F.lit("hard_negative"))
    )
    return pos.unionByName(neg).select("qid", "nid", "cosine", "role", "rank")


def embedding_neardup_pairs_exact(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs embedding-cosine near-duplicates (id_a < id_b,
    cosine ≥ t) via cross join — O(n²), the ORACLE/verification path
    only. The production path is ``embedding_neardup_pairs`` (sign-LSH
    bucketed candidates + exact rerank), which this one exists to
    measure recall against."""
    a = with_norm(df, vec_col).select(
        F.col(id_col).alias("id_a"), F.col("_qv").alias("_va"), F.col("_norm").alias("_na")
    )
    b = with_norm(df, vec_col).select(
        F.col(id_col).alias("id_b"), F.col("_qv").alias("_vb"), F.col("_norm").alias("_nb")
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                _int_dot(F.col("_va"), F.col("_vb")).cast("double")
                / (F.col("_na") * F.col("_nb")),
                9,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 16,
    bits_per_band: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, scale path: banded sign-LSH
    candidates (equi-join on (band, value) — a pair is a candidate if it
    agrees on ANY band) + exact integer-cosine rerank of candidates only.

    Cost is docs × bands signature rows plus the candidate set — never
    docs². Recall rises with ``bands`` and falls with ``bits_per_band``;
    the defaults give >0.99 per-pair candidate probability at cosine 0.9
    ((1-(1-(1-θ/π)^8)) per band, θ=acos(0.9), unioned over 16 bands).
    Exact recall is pinned against ``embedding_neardup_pairs_exact`` in
    tests; candidates are verified exactly, so precision is 1.0 — output
    pairs are always true pairs.
    """
    # lazy lineage cut: the signature stage (an Arrow matmul pass over
    # every vector) feeds BOTH sides of the bucket self-join — without
    # the cut it executes once per side. docs × bands rows of three
    # scalars, far smaller than the vectors themselves.
    sig = sign_lsh_bands(df, vec_col, id_col, bands, bits_per_band).localCheckpoint(
        eager=False
    )
    cand = (
        sig.select(F.col(id_col).alias("id_a"), "band", "val")
        .join(sig.select(F.col(id_col).alias("id_b"), "band", "val"), ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _rerank_candidate_pairs(df, cand, threshold, vec_col, id_col)


def _rerank_candidate_pairs(
    df: DataFrame,
    cand: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact integer-cosine verification of a candidate (id_a, id_b)
    set: joins vectors back, keeps pairs >= threshold. Shared by every
    bucketed near-dup path, so precision is 1.0 by construction no
    matter how sloppy the candidate generator was.

    Both pair sides re-derive quantize+norm from the source rather than
    share a persisted copy: the table is VECTOR-sized (unlike the
    stat-sized tables this package lineage-cuts), so pinning it trades
    a pruned column scan for corpus-scale executor memory — measured a
    wash at bench scale and a bad trade at 100 TB."""
    a = with_norm(df, vec_col).select(
        F.col(id_col).alias("id_a"), F.col("_qv").alias("_va"), F.col("_norm").alias("_na")
    )
    b = with_norm(df, vec_col).select(
        F.col(id_col).alias("id_b"), F.col("_qv").alias("_vb"), F.col("_norm").alias("_nb")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine",
            F.round(
                _int_dot(F.col("_va"), F.col("_vb")).cast("double")
                / (F.col("_na") * F.col("_nb")),
                9,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 64,
    centroids: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style near-dup pairs (Abbas et al. 2023, arXiv 2303.09540): k-means-cluster the embedding space, then
    compare ONLY within-cell pairs exactly. Cost is Σ|cell|² ≈ n²/k —
    the quadratic term shrinks linearly with cell count — and the cell
    equi-join shuffles each vector once. Pairs straddling a cell
    boundary are missed by construction (recall pinned on planted
    clusters in tests/test_llm_ops.py); emitted pairs are exact."""
    if centroids is None:
        centroids = train_ivf_centroids(df, n_cells, vec_col, id_col)
    asg = ivf_assign(df, centroids, nprobe=1, vec_col=vec_col, id_col=id_col)
    cand = (
        asg.select(F.col(id_col).alias("id_a"), "cell")
        .join(asg.select(F.col(id_col).alias("id_b"), "cell"), "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return _rerank_candidate_pairs(df, cand, threshold, vec_col, id_col)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 64,
    centroids: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Corpus after SemDeDup: within-cell near-dup pairs → connected
    components → one representative (minimum id — deterministic; the
    paper's lowest-centroid-similarity keeper is a diversity heuristic,
    not a semantics requirement) per cluster, singletons untouched."""
    from .dedup import dedup_keep_representative

    pairs = semantic_dedup_pairs(df, threshold, n_cells, centroids, vec_col, id_col)
    return dedup_keep_representative(df, pairs, id_col)


# ---------------------------------------------------------------------------
# Approximate path: random-hyperplane LSH
# ---------------------------------------------------------------------------


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition a vector table by id before per-batch Python work iff
    it arrives under-partitioned (the fixtures are single-row-group
    parquet → one task; at 100 TB an under-split scan would serialize
    the signature stage no matter the cluster size)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, id_col)


def _hyperplanes(dim: int, bits: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: entry (i, j) from a
    splitmix64-style integer mix of (i, j) — no RNG state, same planes on
    every executor and every run."""
    idx = (np.arange(bits, dtype=np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15)
           + np.arange(dim, dtype=np.uint64)[None, :] * np.uint64(0xBF58476D1CE4E5B9))
    z = idx
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    # map to (-0.5, 0.5) uniformly
    return (z.astype(np.float64) / 2**64) - 0.5


def sign_lsh_bands(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 16,
    bits_per_band: int = 8,
) -> DataFrame:
    """Banded sign-LSH signatures: ``bands`` rows per vector of
    (id, band, val) where ``val`` packs ``bits_per_band`` hyperplane
    signs. Vectorized numpy matmul in Arrow batches; hyperplanes derive
    deterministically from (bit, dim) integer mixes, and the embedding
    dimension is read from each batch executor-side — no driver action
    at plan-build time, and an empty input yields an empty result."""
    total_bits = bands * bits_per_band

    schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("val", T.LongType()),
        ]
    )

    def sig(batches):
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None:
                planes = _hyperplanes(mat.shape[1], total_bits)
            proj = mat @ planes.T  # (n, total_bits)
            bits = (proj >= 0).astype(np.uint64).reshape(len(pdf), bands, bits_per_band)
            weights = np.left_shift(np.uint64(1), np.arange(bits_per_band, dtype=np.uint64))
            vals = (bits * weights).sum(axis=2)  # (n, bands)
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf[id_col].to_numpy().astype("int64"), bands),
                    "band": np.tile(np.arange(bands, dtype="int32"), len(pdf)),
                    "val": vals.reshape(-1).astype("int64"),
                }
            )

    return (
        _spread(df.select(F.col(id_col).cast("long").alias(id_col), vec_col), id_col)
        .mapInPandas(sig, schema=schema)
        .withColumnRenamed("_id", id_col)
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    bands: int = 16,
    bits_per_band: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates = vectors agreeing with the query
    on any LSH band, then exact cosine rerank of candidates only. The
    (band, val) equi-join replaces the cross join; recall is measured
    against ``brute_force_topk`` in tests/test_llm_ops.py."""
    qs = sign_lsh_bands(queries, vec_col, id_col, bands, bits_per_band).withColumnRenamed(id_col, "qid")
    cs = sign_lsh_bands(corpus, vec_col, id_col, bands, bits_per_band).withColumnRenamed(id_col, "nid")
    cand = (
        qs.join(cs, ["band", "val"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )

    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("qid"), F.col("_qv").alias("_qvq"), F.col("_norm").alias("_qn")
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nid"), F.col("_qv").alias("_cvq"), F.col("_norm").alias("_cn")
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "nid")
        .withColumn(
            "cosine",
            F.round(
                _int_dot(F.col("_qvq"), F.col("_cvq")).cast("double")
                / (F.col("_qn") * F.col("_cn")),
                9,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# Approximate path: IVF (inverted-file index, coarse k-means quantizer)
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means centroids for an IVF index, trained driver-side
    on a deterministic sample — the standard IVF recipe: the quantizer
    is tiny (cells × dim floats) and trains on a bounded sample no
    matter the corpus size; only the ASSIGNMENT pass scales with data.

    The sample is the ``sample_size`` vectors with the smallest
    xxhash64(id) — partitioning-independent and stable across runs, so
    the index is reproducible (same property as
    operators/sampling.deterministic_sample). TakeOrdered keeps the
    collect bounded at any corpus size.
    """
    sample = (
        df.select(F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_h", F.xxhash64(F.col("_id")))
        .orderBy("_h", "_id")
        .limit(sample_size)
        .select("_v")
        .collect()
    )
    if not sample:
        raise ValueError("cannot train an IVF quantizer on an empty corpus")
    X = np.array([r["_v"] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(n_cells, len(X))
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = (X @ cent.T).argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[j] = v / n
    return cent


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell) rows: each vector's ``nprobe`` nearest cells by
    cosine. Vectorized matmul per Arrow batch; the centroid matrix
    ships in the task closure (cells × dim — kilobytes). Ties break to
    the lowest cell id (stable argsort), so assignment is
    deterministic."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    schema = T.StructType(
        [T.StructField("_id", T.LongType()), T.StructField("cell", T.IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ cent.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf[id_col].to_numpy().astype("int64"), order.shape[1]),
                    "cell": order.reshape(-1).astype("int32"),
                }
            )

    return (
        _spread(df.select(F.col(id_col).cast("long").alias(id_col), vec_col), id_col)
        .mapInPandas(assign, schema=schema)
        .withColumnRenamed("_id", id_col)
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 64,
    nprobe: int = 8,
    centroids: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via an IVF index: corpus vectors live in their
    single nearest cell, queries probe their ``nprobe`` nearest cells,
    and only same-cell candidates are exactly reranked (integer-exact
    cosine, same metric as the brute-force oracle).

    The cell equi-join replaces the docs × queries cross product;
    recall is recall(nprobe/n_cells) and is pinned on planted clusters
    in tests/test_llm_ops.py. Each corpus vector has exactly one cell,
    so candidate pairs are already unique — no dedup shuffle."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells, vec_col, id_col)
    cq = ivf_assign(queries, centroids, nprobe, vec_col, id_col).withColumnRenamed(
        id_col, "qid"
    )
    cc = ivf_assign(corpus, centroids, 1, vec_col, id_col).withColumnRenamed(
        id_col, "nid"
    )
    cand = cq.join(cc, "cell").where(F.col("qid") != F.col("nid")).select("qid", "nid")

    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("qid"), F.col("_qv").alias("_qvq"), F.col("_norm").alias("_qn")
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nid"), F.col("_qv").alias("_cvq"), F.col("_norm").alias("_cn")
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "nid")
        .withColumn(
            "cosine",
            F.round(
                _int_dot(F.col("_qvq"), F.col("_cvq")).cast("double")
                / (F.col("_qn") * F.col("_cn")),
                9,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed codes + asymmetric-distance scan
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    n_cells: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the PERSISTABLE IVF index — the ANN family's standing
    artifact, completing the symmetry with the MinHash signature
    index, the bench-gram index, and the LM count table: train the
    quantizer once, write both tables through the warehouse sink, and
    every later batch searches/inserts against the read-back copies
    without touching the original corpus.

    Returns ``(centroid_table, vector_table)``:

    - centroid_table ``(cell int, c array<double>)`` — the frozen
      quantizer, cells × dim (kilobytes).
    - vector_table ``(nid long, cell int, _cvq array<long>, _cn
      double)`` — each corpus vector in its single nearest cell with
      its quantized form and norm precomputed, so probing never
      re-reads or re-quantizes corpus vectors.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells, vec_col, id_col)
    spark = corpus.sparkSession
    centroid_table = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(centroids)],
        "cell int, c array<double>",
    )
    assigned = ivf_assign(corpus, centroids, 1, vec_col, id_col).withColumnRenamed(
        id_col, "nid"
    )
    vectors = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nid"), F.col("_qv").alias("_cvq"),
        F.col("_norm").alias("_cn"),
    )
    return centroid_table, assigned.join(vectors, "nid").select(
        "nid", "cell", "_cvq", "_cn"
    )


def _centroids_from_table(centroid_table: DataFrame) -> np.ndarray:
    rows = centroid_table.select("cell", "c").orderBy("cell").collect()
    if not rows:
        raise ValueError("centroid table is empty")
    if [r.cell for r in rows] != list(range(len(rows))):
        raise ValueError("centroid table must carry cells 0..k-1 exactly once")
    return np.array([r.c for r in rows], dtype=np.float64)


def ivf_index_insert(
    vector_table: DataFrame,
    centroid_table: DataFrame,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Fold a new batch of vectors into a persisted IVF index with the
    quantizer FROZEN — standard IVF ingestion (FAISS's add-after-train
    contract): new vectors assign to their nearest EXISTING cell and
    append; the centroids never move, so earlier assignments stay
    valid and ``insert(build(A), B) ≡ build(A ∪ B, centroids=frozen)``
    exactly (pytest-pinned). Distribution drift degrades cell balance
    over time — the standard answer is a periodic re-train + re-assign
    (a fresh :func:`build_ivf_index`), not incremental centroid
    updates."""
    if not {"nid", "cell", "_cvq", "_cn"} <= set(vector_table.columns):
        raise ValueError(
            f"vector_table must be a build_ivf_index result; got "
            f"{vector_table.columns}"
        )
    centroids = _centroids_from_table(centroid_table)
    assigned = ivf_assign(new_vectors, centroids, 1, vec_col, id_col).withColumnRenamed(
        id_col, "nid"
    )
    vectors = with_norm(new_vectors, vec_col).select(
        F.col(id_col).alias("nid"), F.col("_qv").alias("_cvq"),
        F.col("_norm").alias("_cn"),
    )
    return vector_table.select("nid", "cell", "_cvq", "_cn").unionByName(
        assigned.join(vectors, "nid").select("nid", "cell", "_cvq", "_cn")
    )


def ivf_topk_index(
    queries: DataFrame,
    centroid_table: DataFrame,
    vector_table: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`ivf_topk` against a PERSISTED index: queries assign to
    their ``nprobe`` nearest cells of the read-back quantizer and
    rerank exactly against the read-back vector table — identical
    output to ``ivf_topk(queries, corpus, centroids=same)`` by
    construction (pytest-pinned), but the corpus is never re-read,
    re-assigned, or re-quantized: the steady-state search cost is the
    query side plus the probed cells only."""
    centroids = _centroids_from_table(centroid_table)
    if not {"nid", "cell", "_cvq", "_cn"} <= set(vector_table.columns):
        raise ValueError(
            f"vector_table must be a build_ivf_index result; got "
            f"{vector_table.columns}"
        )
    cq = ivf_assign(queries, centroids, nprobe, vec_col, id_col).withColumnRenamed(
        id_col, "qid"
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("qid"), F.col("_qv").alias("_qvq"),
        F.col("_norm").alias("_qn"),
    )
    scored = (
        cq.join(vector_table, "cell")
        .where(F.col("qid") != F.col("nid"))
        .join(F.broadcast(q), "qid")
        .withColumn(
            "cosine",
            F.round(
                _int_dot(F.col("_qvq"), F.col("_cvq")).cast("double")
                / (F.col("_qn") * F.col("_cn")),
                9,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def train_pq_codebooks(
    df: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace k-means codebooks for product quantization: the
    dim-D space splits into ``n_subspaces`` contiguous slices, each
    quantized independently to ``n_centroids`` centroids. Codebooks are
    (m, k, D/m) floats — kilobytes — trained driver-side on the same
    deterministic hash-picked sample the IVF quantizer uses; encoding a
    100 TB corpus to m bytes/vector is the part that scales.
    """
    sample = (
        df.select(F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_h", F.xxhash64(F.col("_id")))
        .orderBy("_h", "_id")
        .limit(sample_size)
        .select("_v")
        .collect()
    )
    if not sample:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    X = np.array([r["_v"] for r in sample], dtype=np.float64)
    dim = X.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    k = min(n_centroids, len(X))
    rng = np.random.default_rng(seed)
    books = np.empty((n_subspaces, k, sub), dtype=np.float64)
    for m in range(n_subspaces):
        Xm = X[:, m * sub : (m + 1) * sub]
        cent = Xm[rng.choice(len(Xm), size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((Xm[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                members = Xm[assign == j]
                if len(members):
                    cent[j] = members.mean(axis=0)
        books[m] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, code_0..code_{m-1}) rows: each vector as m small ints —
    scalar columns, so the code table parquet-compresses and the gate
    canonicalizer sorts it. Vectorized nearest-centroid per subspace in
    Arrow batches; ties break to the lowest code (argmin)."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k, sub = books.shape
    schema = T.StructType(
        [T.StructField("_id", T.LongType())]
        + [T.StructField(f"code_{i}", T.IntegerType()) for i in range(m)]
    )

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = {"_id": pdf[id_col].to_numpy().astype("int64")}
            for i in range(m):
                Xm = mat[:, i * sub : (i + 1) * sub]
                d2 = ((Xm[:, None, :] - books[i][None, :, :]) ** 2).sum(axis=2)
                out[f"code_{i}"] = d2.argmin(axis=1).astype("int32")
            yield pd.DataFrame(out)

    return (
        _spread(df.select(F.col(id_col).cast("long").alias(id_col), vec_col), id_col)
        .mapInPandas(enc, schema=schema)
        .withColumnRenamed("_id", id_col)
    )


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query builds an (m, k)
    distance table against the codebooks driver-side-free — the tables
    ship with the task — and the compressed corpus is scanned with
    per-code lookups, no original vectors touched. The scan is a
    mapInPandas over the code table joined to nothing: at 100 TB the
    working set is the m-byte codes, 16-64× smaller than the floats.

    Approximation error is the quantization error; recall vs the exact
    metric is pinned on planted clusters in tests."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, kk, sub = books.shape
    q_rows = queries.select(
        F.col(id_col).cast("long").alias("qid"), F.col(vec_col).alias("_v")
    ).collect()
    if not q_rows:
        return local_rows_df(
            corpus_codes.sparkSession, [], "qid long, nid long, rank long, adc_dist double"
        )
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["_v"] for r in q_rows], dtype=np.float64)
    # (n_q, m, k) lookup tables: squared distance of each query slice to
    # every centroid of that subspace
    tables = np.empty((len(qids), m, kk), dtype=np.float64)
    for i in range(m):
        Qm = Q[:, i * sub : (i + 1) * sub]
        tables[:, i, :] = ((Qm[:, None, :] - books[i][None, :, :]) ** 2).sum(axis=2)

    schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("nid", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )
    code_cols = [f"code_{i}" for i in range(m)]

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = pdf[code_cols].to_numpy()  # (n_c, m)
            n_c = len(pdf)
            # dist[q, c] = sum_i tables[q, i, codes[c, i]]
            dist = np.zeros((len(qids), n_c), dtype=np.float64)
            for i in range(m):
                dist += tables[:, i, :][:, codes[:, i]]
            nid = pdf[id_col].to_numpy().astype("int64")
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids, n_c),
                    "nid": np.tile(nid, len(qids)),
                    "adc_dist": dist.reshape(-1),
                }
            )

    scored = corpus_codes.mapInPandas(scan, schema=schema).where(
        F.col("qid") != F.col("nid")
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc_dist"), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("adc_dist", 9).alias("adc_dist"))
    )


# ---------------------------------------------------------------------------
# Dimensionality reduction: exact one-pass PCA (moments -> driver eig)
# ---------------------------------------------------------------------------


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA over the FULL corpus in one distributed pass.

    The sufficient statistics of PCA are (n, Σx, Σxxᵀ) — d + d² numbers
    regardless of corpus size. Each partition reduces its rows to one
    such moment row inside an Arrow-batched mapInPandas (numpy BLAS
    Gram update, no per-row Python); a salted applyInPandas combine
    tree-reduces P partition rows to ≤64, and the driver sums those and
    eigendecomposes the d×d covariance — driver work is O(d³), driver
    memory O(d²), both independent of row count. This is the textbook
    scalable-PCA shape for tall-skinny matrices (n ≫ d; for d in the
    thousands you would switch to randomized SVD).

    Returns ``(mean (d,), explained_variance (k,), components (k, d))``
    with eigenvalues descending and each component's sign fixed so its
    largest-|entry| coordinate is positive — fully deterministic given
    the same moments.
    """
    head = df.select(vec_col).first()
    if head is None:
        raise ValueError("cannot fit PCA on an empty corpus")
    d = len(head[0])

    moment_schema = "n long, s array<double>, g array<double>"

    def partial(batches):
        n, s, g = 0, np.zeros(d), np.zeros((d, d))
        for pdf in batches:
            X = np.array(list(pdf["_v"]), dtype=np.float64)
            if len(X):
                n += len(X)
                s += X.sum(axis=0)
                g += X.T @ X
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf["n"].sum())
        s = np.sum([np.asarray(v) for v in pdf["s"]], axis=0)
        g = np.sum([np.asarray(v) for v in pdf["g"]], axis=0)
        return pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.tolist()]})

    partials = (
        df.select(F.col(vec_col).alias("_v"))
        .mapInPandas(partial, schema=moment_schema)
        .withColumn("_salt", F.spark_partition_id() % 64)
        .groupBy("_salt")
        .applyInPandas(
            lambda p: combine(p.drop(columns=["_salt"])), schema=moment_schema
        )
        .collect()
    )
    n = sum(r["n"] for r in partials)
    if n == 0:
        raise ValueError("cannot fit PCA on an empty corpus")
    s = np.sum([np.asarray(r["s"]) for r in partials], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in partials], axis=0).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0  # symmetrize away float drift
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][: min(k, d)]
    comps = evecs[:, order].T  # (k, d)
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, np.maximum(evals[order], 0.0), comps


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    fitted: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Project each vector onto the top-k principal components.

    Output: ``id_col, pc1..pck (double)`` — scalar columns (array
    outputs break downstream canonicalization). The projection itself
    runs JVM-side: each component becomes a literal-array zip_with /
    aggregate dot product minus a precomputed scalar offset, so the hot
    per-row path is whole-stage-codegen arithmetic with the tiny (k·d)
    model shipped inside the plan — the broadcast-the-model pattern.
    """
    mean, _, comps = fitted if fitted is not None else pca_fit(df, vec_col, k)
    out_cols = [F.col(id_col)]
    for i, c in enumerate(comps):
        lit = F.array(*[F.lit(float(x)) for x in c])
        offset = float(np.dot(mean, c))
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out_cols.append((dot - F.lit(offset)).alias(f"pc{i + 1}"))
    return df.select(*out_cols)


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the serving/storage
    compression step of an embedding pipeline (4× over float32, 8× over
    float64; the same scheme faiss/sentence-transformers use for scalar
    quantization).

    Output (long form, one row per dimension): ``id_col, dim (int),
    q (int in [-127,127]), scale (double, the vector's max |x|)``.
    Dequantization is ``q * scale / 127``. An all-zero vector gets
    ``q = 0, scale = 0``.

    Bit-exactness: ``scale`` is an exact fold-max of exact float→double
    widenings, and each code is ``round((x·127)/scale)`` — two IEEE ops
    in fixed order then a half-away-from-zero round, identical in any
    engine stating the same expression, so the query hash-matches a SQL
    oracle. Everything is whole-stage-codegen JVM arithmetic (aggregate
    + posexplode) — no Python in the path, no shuffle at all: the
    operator is embarrassingly parallel per row.
    """
    reserved = {"dim", "q", "scale", "_x"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with reserved names: {sorted(clash)}")

    scale = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
        scale.alias("scale"),
    )
    q = F.when(
        F.col("scale") > 0,
        F.round((F.col("_x").cast("double") * F.lit(127.0)) / F.col("scale")),
    ).otherwise(F.lit(0.0))
    return exploded.select(
        F.col(id_col),
        F.col("dim").cast("int").alias("dim"),
        q.cast("int").alias("q"),
        F.col("scale"),
    )


def embedding_group_outliers(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str = "label",
    k: int = 20,
) -> DataFrame:
    """Embedding-space outlier screening: each vector's cosine to its
    GROUP CENTROID, bottom-``k`` per group — the distance-to-centroid
    quality filter large multimodal/text corpora run (mislabeled or
    off-distribution items sit far from their cluster's center; the
    LAION-style curation heuristic, SemDeDup's complement: SemDeDup
    drops what is too CLOSE to something else, this flags what is too
    FAR from everything in its group).

    Exactness: vectors quantize once (``QUANT_SCALE``); the centroid
    is carried as its un-divided integer SUM vector, because cosine to
    the mean is invariant to the 1/n scale —
    ``cos(v, S/n) = Σ(v·S) / (‖v‖·‖S‖)`` — so every aggregation is an
    exact integer/decimal sum (order-independent; decimal(38,0) for
    the v·S products, whose magnitude exceeds int64) and the one
    double expression at the end is deterministic → hash-matchable.

    Scale shape: centroid sums are one partial-aggregated groupBy over
    the exploded stream into a (groups × dim)-row table — broadcast
    territory — rebuilt as sorted arrays and broadcast-joined back on
    the group key; the per-vector dot runs as a fixed-order fold over
    the two arrays (no second explode, no self-join). The bottom-k
    window partitions by group over scalar rows.

    Output: ``(id_col, group_col, centroid_cosine, rk)`` with rk=1 the
    furthest-from-centroid vector of its group; ties break by id.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dec = "decimal(38,0)"
    xq = df.select(
        F.col(id_col), F.col(group_col), _quantize(F.col(emb_col)).alias("_xq")
    )
    ex = xq.select(
        id_col, group_col, F.posexplode("_xq").alias("_i", "_x")
    )
    cent = (
        ex.groupBy(group_col, "_i")
        .agg(F.sum("_x").alias("_s"))  # ≤ n·QUANT_SCALE per element: int64-safe
    )
    cent_arr = cent.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_s"))),
            lambda st: st.getField("_s"),
        ).alias("_sarr"),
        F.sum(
            F.col("_s").cast(dec) * F.col("_s").cast(dec)
        ).alias("_ns"),  # ‖S‖²: S² can exceed int64 → exact decimal
    )
    dotted = xq.join(F.broadcast(cent_arr), group_col).select(
        F.col(id_col),
        F.col(group_col),
        F.aggregate(
            F.zip_with(
                "_xq", "_sarr", lambda a, b: a.cast(dec) * b.cast(dec)
            ),
            F.lit(0).cast(dec),
            lambda acc, x: acc + x,
        ).alias("_dot"),
        F.aggregate(
            F.col("_xq"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * x,
        ).alias("_nv"),
        F.col("_ns"),
    )
    cosine = F.round(
        F.col("_dot").cast("double")
        / (
            F.sqrt(F.col("_nv").cast("double"))
            * F.sqrt(F.col("_ns").cast("double"))
        ),
        9,
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("centroid_cosine").asc(), F.col(id_col).asc()
    )
    return (
        dotted.select(id_col, group_col, cosine.alias("centroid_cosine"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


def semantic_contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SEMANTIC decontamination pairs: training vectors whose cosine to
    ANY benchmark vector reaches ``threshold`` — the embedding-space
    complement of the n-gram decontamination family
    (`operators/decontam.py`): n-gram overlap catches verbatim and
    lightly-edited benchmark copies, embedding cosine catches
    PARAPHRASED ones (the contamination screen eval-suite hygiene
    actually needs both halves of).

    Production shape: the benchmark side is SMALL BY NATURE (eval
    suites are thousands of rows, the corpus is billions), so bench is
    broadcast and the corpus streams through ONE stage — cost is
    |train| x |bench| exact integer dots with no shuffle of the train
    side at all, linear in the corpus. For benchmark sets past
    broadcast size use ``semantic_contamination_pairs_lsh``.

    Exactness: the repo-wide quantized-integer cosine (QUANT_SCALE
    components, int64 dots/norms, one rounded double division), so
    output hash-matches a SQL oracle.

    Output: ``(train_id, bench_id, cosine)``, one row per flagged
    (train, bench) pair.
    """
    tr = with_norm(train, vec_col).select(
        F.col(id_col).alias("train_id"),
        F.col("_qv").alias("_tv"),
        F.col("_norm").alias("_tn"),
    )
    be = with_norm(bench, vec_col).select(
        F.col(id_col).alias("bench_id"),
        F.col("_qv").alias("_bv"),
        F.col("_norm").alias("_bn"),
    )
    return (
        tr.crossJoin(F.broadcast(be))
        .withColumn(
            "cosine",
            F.round(
                _int_dot(F.col("_tv"), F.col("_bv")).cast("double")
                / (F.col("_tn") * F.col("_bn")),
                9,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("train_id", "bench_id", "cosine")
    )


def semantic_contamination_pairs_lsh(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 16,
    bits_per_band: int = 8,
) -> DataFrame:
    """Scale path for benchmark sets past broadcast size: banded
    sign-LSH candidates ACROSS the two tables (equi-join on
    (band, value) under the SAME deterministic hyperplanes — the
    planes derive from (plane, dim) hashes, so both sides signature
    identically with no RNG state) + exact integer-cosine rerank of
    candidates only. Precision 1.0 by construction (candidates are
    exactly verified); recall vs the exact path is pinned in pytest.
    Cost: signature streams + the candidate set — never
    |train| x |bench|."""
    sig_t = sign_lsh_bands(train, vec_col, id_col, bands, bits_per_band).select(
        F.col(id_col).alias("train_id"), "band", "val"
    )
    sig_b = sign_lsh_bands(bench, vec_col, id_col, bands, bits_per_band).select(
        F.col(id_col).alias("bench_id"), "band", "val"
    )
    cand = (
        sig_t.join(sig_b, ["band", "val"]).select("train_id", "bench_id").distinct()
    )
    tr = with_norm(train, vec_col).select(
        F.col(id_col).alias("train_id"),
        F.col("_qv").alias("_tv"),
        F.col("_norm").alias("_tn"),
    )
    be = with_norm(bench, vec_col).select(
        F.col(id_col).alias("bench_id"),
        F.col("_qv").alias("_bv"),
        F.col("_norm").alias("_bn"),
    )
    return (
        cand.join(tr, "train_id")
        .join(be, "bench_id")
        .withColumn(
            "cosine",
            F.round(
                _int_dot(F.col("_tv"), F.col("_bv")).cast("double")
                / (F.col("_tn") * F.col("_bn")),
                9,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("train_id", "bench_id", "cosine")
    )


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "broadcast",
) -> DataFrame:
    """The screen itself: training rows whose embedding is NOT within
    ``threshold`` cosine of any benchmark vector (left-anti join on
    the flagged id set — the decontaminate() twin of the n-gram
    family)."""
    if method == "broadcast":
        pairs = semantic_contamination_pairs(train, bench, threshold, vec_col, id_col)
    elif method == "lsh":
        pairs = semantic_contamination_pairs_lsh(train, bench, threshold, vec_col, id_col)
    else:
        raise ValueError(f"method must be 'broadcast' or 'lsh', got {method!r}")
    flagged = pairs.select(F.col("train_id").alias(id_col)).distinct()
    return train.join(flagged, id_col, "left_anti")


def kmeans_fit_assign(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 10,
) -> DataFrame:
    """Distributed full-corpus Lloyd's k-means (Lloyd 1957/1982 —
    MLlib's own recipe re-expressed on DataFrames): assign every
    vector to its nearest centroid (squared Euclidean), recompute
    centroids as member means, repeat a FIXED ``iterations`` times;
    returns the final assignment ``(id_col, cluster_id, sq_dist)``.

    Complements :func:`train_ivf_centroids`, which trains the IVF
    quantizer driver-side on a bounded hash-sample (right for a tiny
    quantizer); THIS path scans the whole corpus per round — the
    regime where cluster structure must reflect ALL the data
    (cluster-balanced coresets, per-cluster mixture caps, SemDeDup
    cells at full fidelity).

    Determinism: init centroids are the k vectors with the smallest
    (xxhash64(id), id) — partitioning-independent, no RNG; per-round
    member means compute per-DIMENSION from exact integer sums of the
    1e7-quantized components (the module's standard trick), divided
    once — so the fold order the shuffle picks cannot change a
    centroid by even one ulp, and reruns are byte-identical. Empty
    clusters keep their previous centroid (the standard fixed-k
    convention).

    Shape per round: one Arrow-batched assignment pass (centroid
    matrix rides the closure — k·dim doubles, broadcast-sized by
    definition) + one groupBy(cluster) over posexploded quantized
    components; the k·dim partial-sum table collects to the driver
    exactly like MLlib's reduce — bounded by the model size, never the
    corpus. Iterations times two jobs; assignment lineage never
    stacks (each round reads the parquet scan afresh with new
    centroids)."""
    from typing import Iterator as _Iterator

    if k < 1:
        raise ValueError(f"kmeans_fit_assign: k must be >= 1, got {k}")
    if iterations < 1:
        raise ValueError(
            f"kmeans_fit_assign: iterations must be >= 1, got {iterations}"
        )
    base = df.select(
        F.col(id_col).alias("_id"), _quantize(F.col(vec_col)).alias("_q")
    ).localCheckpoint(eager=True)

    init = (
        base.withColumn("_h", F.xxhash64(F.col("_id")))
        .orderBy("_h", "_id")
        .limit(k)
        .select("_q")
        .collect()
    )
    if not init:
        return local_rows_df(
            df.sparkSession, [], f"`{id_col}` long, cluster_id long, sq_dist double"
        )
    cent = np.array([r["_q"] for r in init], dtype=np.float64)

    def assign_with(c: np.ndarray):
        cc = c.copy()

        def run(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
            for pdf in batches:
                X = np.array(pdf["_q"].tolist(), dtype=np.float64)
                # ||x-c||² = ||x||² - 2x·c + ||c||²; argmin over c
                d = (
                    -2.0 * (X @ cc.T)
                    + (cc * cc).sum(axis=1)[None, :]
                )
                a = d.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "_id": pdf["_id"].values,
                        "cluster_id": a.astype("int64"),
                        "_sq": d[np.arange(len(a)), a]
                        + (X * X).sum(axis=1),
                    }
                )

        return base.mapInPandas(run, "_id long, cluster_id long, _sq double")

    for _ in range(iterations):
        asg = assign_with(cent)
        sums = (
            asg.join(base, "_id")
            .select("cluster_id", F.posexplode("_q").alias("dim", "v"))
            .groupBy("cluster_id", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cent.copy()
        acc: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            acc.setdefault(r.cluster_id, {})[r.dim] = (r.s, r.n)
        for cid, dims in acc.items():
            vec = np.array(
                [dims[j][0] / dims[j][1] for j in sorted(dims)], dtype=np.float64
            )
            new[cid] = vec
        cent = new

    final = assign_with(cent)
    return final.select(
        F.col("_id").alias(id_col),
        "cluster_id",
        # distances are in quantized units²; scale back to float units
        F.round(F.col("_sq") / float(QUANT_SCALE) ** 2, 6).alias("sq_dist"),
    )


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 8,
    seed: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim``
    components with a Rademacher (±1) matrix (Achlioptas, JCSS 2003:
    sign entries preserve pairwise distances in expectation exactly
    like Gaussian ones, and need no float matrix at all) — the cheap
    dimensionality reducer for ANN pre-bucketing and sketching where
    :func:`pca_fit` (data-dependent, sample-trained) is overkill.

    The projection matrix is never materialized: entry sign(i, j) is
    the parity of an md5 hex digit of ``seed:i:j`` — deterministic,
    engine-portable (the deterministic_sample discipline), identical
    on every executor and every run, and O(1) memory at any
    dimensionality. Components quantize to int64 at 1e7 (the module's
    embedding discipline), so each output component is an EXACT
    integer sum ``Σ qᵢ·sᵢⱼ``; the scaled readout divides once by
    ``1e7·√out_dim`` (both engines fold the same IEEE constant).

    Output long-form: ``(id, j (1-based component, long), y_int
    (long — the exact integer sum), proj (double — the JL-scaled
    value))``.

    Scale shape: posexplode × out_dim spine → one (id, j) aggregation
    with map-side combine; no shuffle of the vectors themselves, no
    driver state, no training pass."""
    if out_dim < 1:
        raise ValueError(f"random_projection: out_dim must be >= 1, got {out_dim}")
    spark = df.sparkSession
    comps = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_quantize(F.col(vec_col))).alias("_i0", "_q"),
    ).select("id", (F.col("_i0") + 1).alias("i"), "_q")
    js = spark.range(1, out_dim + 1).select(F.col("id").alias("j"))
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(seed), F.col("i").cast("string"),
                        F.col("j").cast("string"),
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    scale = 1e7 * math.sqrt(float(out_dim))
    return (
        comps.crossJoin(F.broadcast(js))
        .select("id", "j", (F.col("_q") * sign).alias("_t"))
        .groupBy("id", "j")
        .agg(F.sum("_t").cast("long").alias("y_int"))
        .select(
            "id",
            "j",
            "y_int",
            (F.col("y_int").cast("double") / F.lit(scale)).alias("proj"),
        )
    )


def random_projection_sql(
    table: str, id_expr: str, vec_expr: str, out_dim: int, seed: str
) -> str:
    """Oracle-side (DuckDB/ANSI) rendering of :func:`random_projection`
    — identical md5 sign and integer fold."""
    scale = 1e7 * math.sqrt(float(out_dim))
    return f"""
WITH comps AS (
  SELECT {id_expr} AS id,
         generate_subscripts({vec_expr}, 1) AS i,
         CAST(ROUND(CAST(unnest({vec_expr}) AS DOUBLE) * 10000000, 0) AS BIGINT) AS q
  FROM {table}
), js AS (SELECT CAST(range + 1 AS BIGINT) AS j FROM range(0, {out_dim})),
terms AS (
  SELECT id, j,
         q * (CASE WHEN CAST(('0x' || substr(md5('{seed}' || ':' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                   THEN 1 ELSE -1 END) AS t
  FROM comps CROSS JOIN js
)
SELECT id, j, CAST(SUM(t) AS BIGINT) AS y_int,
       CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) / {scale!r} AS proj
FROM terms GROUP BY id, j
"""
