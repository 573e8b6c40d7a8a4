"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products run JVM-side via ``zip_with``/``aggregate`` lambdas in
  double precision (cast first), so the DuckDB oracle reproduces values to
  ~1e-13 and a round(4) makes them hash-stable.
- ``lsh_topk``: the scale path — random-hyperplane LSH using deterministic
  md5-derived hyperplanes, bucket join, exact re-rank inside buckets.
  At 10^9 vectors the crossJoin of the baseline is impossible; this version
  shuffles each vector to ~n_tables buckets instead.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve 'pd.Series'
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine as an interpreted JVM fold over double-cast elements.

    Non-finite embeddings (NaN or inf elements) are unsupported: this
    fold returns NaN for them, while ``with_cosine``'s Arrow UDF returns
    NULL, so a threshold filter or a ranking can differ between the two.
    """
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def _dot_norms_udf():
    """Arrow-vectorized (dot, |a|, |b|) with the JVM fold's EXACT float
    semantics: elementwise float64 products, then np.cumsum — a strictly
    sequential left-to-right accumulation, bit-identical to
    ``aggregate(zip_with(a, b, *), 0.0, +)`` — and a correctly-rounded
    sqrt, identical on both sides. Only the final division (and round)
    stays JVM-side, so 0-norm vectors keep Spark's NaN/Inf comparison
    semantics unchanged. The interpreted higher-order-function fold this
    replaces evaluated ~6 expression-tree nodes per vector element per
    pair (guide §4.2: hand whole batches to vectorized native code).

    Null semantics match the fold: a NULL vector, a NULL element (NaN
    after Arrow transfer) or a length mismatch all yield NULL dot —
    and NULL/x division then yields the same NULL cosine the zip_with
    null-padding produced.

    Non-finite inputs are unsupported: a NaN element arrives as NULL, and
    a NaN dot or norm (from inf elements) leaves as NULL through Arrow's
    NaN-to-null conversion, where the JVM fold ``cosine`` gives NaN.
    Spark treats NaN as larger than every number, so ``cos_sim >= t``
    keeps a NaN row but drops a NULL one, and a descending rank puts NaN
    first but NULL last."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<dot: double, na: double, nb: double>")
    def dn(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        n = len(a)
        out_dot = [None] * n
        out_na = [None] * n
        out_nb = [None] * n
        # group rows by (len_a, len_b) so each group is one 2-D matmul-
        # shaped batch; mixed dims (rare) still vectorize per group
        groups: dict[tuple[int, int], list[int]] = {}
        for i, (va, vb) in enumerate(zip(a, b)):
            if va is None or vb is None:
                continue
            groups.setdefault((len(va), len(vb)), []).append(i)
        for (la, lb), idx in groups.items():
            A = np.asarray(
                [np.asarray(a.iloc[i], dtype=np.float64) for i in idx]
            )
            B = np.asarray(
                [np.asarray(b.iloc[i], dtype=np.float64) for i in idx]
            )
            na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1]) if la else np.zeros(len(idx))
            nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1]) if lb else np.zeros(len(idx))
            if la == lb and la:
                d = np.cumsum(A * B, axis=1)[:, -1]
            elif la == lb == 0:
                d = np.zeros(len(idx))
            else:
                # zip_with pads the shorter side with nulls → null products
                # → the JVM fold returns NULL
                d = None
            for j, i in enumerate(idx):
                out_na[i] = float(na[j])
                out_nb[i] = float(nb[j])
                out_dot[i] = float(d[j]) if d is not None else None
        return pd.DataFrame({"dot": out_dot, "na": out_na, "nb": out_nb})

    return dn


def with_cosine(df: DataFrame, va: str, vb: str, out: str = "cos_sim") -> DataFrame:
    """``df`` + rounded exact cosine of the two array columns, computed
    once through the Arrow-vectorized (dot, norms) UDF with the division
    and round(4) JVM-side (identical values to the interpreted
    zip_with/aggregate fold — pinned by tests — at a fraction of the
    per-element cost). Finite embeddings only: NaN or inf inputs come back
    NULL here but NaN from the fold (see ``_dot_norms_udf``)."""
    dn = _dot_norms_udf()
    return (
        df.withColumn("_dn", dn(F.col(va), F.col(vb)))
        .withColumn(
            out,
            F.round(
                F.col("_dn.dot") / (F.col("_dn.na") * F.col("_dn.nb")), 4
            ),
        )
        .drop("_dn")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    n_id: str = "n_id",
    vec_q: str = "qv",
    vec_n: str = "nv",
) -> DataFrame:
    """Exact top-k neighbors per query (excludes self-matches by id).

    Scale shape: corpus side should be the big relation; Spark broadcasts
    the (small) query set automatically under AQE, making this a map-only
    scan of the corpus + per-partition top-k before the final shuffle.
    """
    pairs = queries.join(corpus, F.col(q_id) != F.col(n_id))
    scored = with_cosine(pairs, vec_q, vec_n)
    # rank on the ROUNDED similarity: cross-engine float drift (~1e-13) must
    # not flip the order of near-tied neighbors
    w = Window.partitionBy(q_id).orderBy(F.desc("cos_sim"), F.asc(n_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, n_id, "cos_sim", "rank")
    )


QUANT = 1_000_000  # embedding quantization for integer-exact projections


def _hyperplane_signs(table: int, plane: int, dim: int) -> list[int]:
    """Deterministic pseudo-random hyperplane: component i has sign ±1
    derived from md5(f"{table}:{plane}:{i}") parity — reproducible in any
    engine (the DuckDB oracle rebuilds the same planes from the same md5).
    Computed ONCE driver-side and shipped as a literal array, so the
    per-row work is a single zip_with dot product (no per-row hashing)."""
    import hashlib

    return [
        1 if int(hashlib.md5(f"{table}:{plane}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
        for i in range(dim)
    ]


# NOTE: the quantization contract lives in ONE implementation
# (_lsh_buckets_pandas below: floor(x*QUANT) int64 projections against
# md5-derived ±1 planes); a former Column-based twin was removed so the
# engine-exactness contract with the DuckDB oracle cannot silently drift.


def _lsh_buckets_pandas(df: DataFrame, vec_col: str, n_tables: int, n_planes: int, dim: int) -> DataFrame:
    """All (table, plane) projections as ONE numpy matmul per Arrow batch:
    V[batch, dim] @ H.T[dim, tables*planes] → sign bits → bucket strings.
    Replaces tables×planes interpreted aggregate-lambdas per row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    H = np.array(
        [
            _hyperplane_signs(t, p, dim)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )  # [tables*planes, dim]

    @pandas_udf("array<string>")
    def buckets(v: pd.Series) -> pd.Series:
        # null-tolerant: a NULL embedding gets NO buckets (empty list — the
        # explode downstream drops it), matching cosine_topk's null
        # tolerance instead of crashing the task on np.asarray(None)
        vals = list(v)
        ok = [i for i, x in enumerate(vals) if x is not None and len(x) == dim]
        out = [[] for _ in vals]
        if ok:
            V = np.asarray([np.asarray(vals[i], dtype=np.float64) for i in ok])
            Vq = np.floor(V * QUANT).astype(np.int64)  # floor(x*QUANT) contract
            bits = (Vq @ H.T) >= 0  # [n, tables*planes], integer-exact signs
            for j, i in enumerate(ok):
                row = bits[j]
                out[i] = [
                    f"{t}#" + "".join("1" if b else "0" for b in row[t * n_planes : (t + 1) * n_planes])
                    for t in range(n_tables)
                ]
        return pd.Series(out)

    return df.withColumn("_buckets", buckets(F.col(vec_col)))


def _exact_rerank(
    cand_ids: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str,
    n_id: str,
    vec_q: str,
    vec_n: str,
) -> DataFrame:
    """Shared tail of every ANN variant: re-join vectors onto the candidate
    id pairs (query side broadcast — ANN query sets are small), exact
    cosine, deterministic top-k on the ROUNDED score."""
    cand = cand_ids.join(corpus, n_id).join(F.broadcast(queries), q_id)
    scored = with_cosine(cand, vec_q, vec_n)
    w = Window.partitionBy(q_id).orderBy(F.desc("cos_sim"), F.asc(n_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, n_id, "cos_sim", "rank")
    )


def _quantize_np(V):
    import numpy as np

    return np.floor(np.asarray(V, dtype=np.float64) * QUANT).astype(np.int64)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    q_id: str = "q_id",
    n_id: str = "n_id",
    vec_q: str = "qv",
    vec_n: str = "nv",
) -> DataFrame:
    """IVF (inverted-file) ANN: corpus vectors are assigned to their nearest
    centroid once (the inverted lists); each query probes its ``n_probe``
    nearest lists and re-ranks exactly inside them. Cost per query is
    O(corpus/n_centroids × n_probe) instead of O(corpus).

    Engine-exact like lsh_topk: centroids are a deterministic SELECTION
    (the n_centroids lowest-id corpus vectors — k-means|| init without the
    iterations; callers with offline-trained centroids pass refined ones
    by prepending them), unit-normalized and quantized so every
    assignment score is pure int64 arithmetic — the DuckDB oracle
    reproduces the inverted lists bit-for-bit. All arithmetic stages
    (int squares → exact double sum → correctly-rounded sqrt/div → floor)
    are IEEE-identical across engines.

    Scale shape: the centroid matrix (n_centroids × dim ints) broadcasts
    inside the Arrow UDF closure; corpus assignment is one numpy matmul
    per batch, one shuffle on centroid id joins lists to probes.
    """
    import numpy as np

    cent_rows = (
        corpus.select(n_id, vec_n)
        .where(F.col(vec_n).isNotNull())
        .orderBy(n_id)
        .limit(n_centroids)
        .collect()
    )
    if not cent_rows:  # empty corpus → empty result (lsh_topk parity)
        return queries.select(
            F.col(q_id),
            F.lit(None).cast(corpus.schema[n_id].dataType.simpleString()).alias(n_id),
            F.lit(None).cast("double").alias("cos_sim"),
            F.lit(None).cast("int").alias("rank"),
        ).limit(0)
    ids = [r[0] for r in cent_rows]
    Q = _quantize_np([list(r[1]) for r in cent_rows])  # [K, dim] int64
    S = (Q.astype(object) ** 2).sum(axis=1)  # exact int sums of squares
    norms = np.sqrt(np.array([float(s) for s in S]))
    with np.errstate(divide="ignore", invalid="ignore"):
        C = np.floor(Q.astype(np.float64) * QUANT / norms[:, None])
    C = np.nan_to_num(C, nan=0.0, posinf=0.0, neginf=0.0).astype(np.int64)

    from pyspark.sql.functions import pandas_udf

    # centroid ids keep the CORPUS id type (string ids work like the other
    # two top-k variants — np.int64 coercion would crash on them)
    id_type = corpus.schema[n_id].dataType.simpleString()

    @pandas_udf(f"array<{id_type}>")
    def probe(v: pd.Series) -> pd.Series:
        vals = list(v)
        ok = [i for i, x in enumerate(vals) if x is not None]
        out = [[] for _ in vals]  # null vector → no probes → no candidates
        if ok:
            Vq = _quantize_np([np.asarray(vals[i]) for i in ok])
            scores = Vq @ C.T  # [n, K] int64 — sign/ties engine-exact
            order = np.argsort(-scores, axis=1, kind="stable")  # ties → lowest ordinal
            top = order[:, :n_probe]
            for j, i in enumerate(ok):
                out[i] = [ids[c] for c in top[j]]
        return pd.Series(out)

    assigned = corpus.withColumn("_cid", probe(F.col(vec_n))[0])
    probed = queries.withColumn("_cid", F.explode(probe(F.col(vec_q))))
    cand_ids = (
        probed.select(q_id, "_cid")
        .join(assigned.select(n_id, "_cid"), "_cid")
        .where(F.col(q_id) != F.col(n_id))
        .select(q_id, n_id)
        .distinct()
    )
    return _exact_rerank(cand_ids, queries, corpus, k, q_id, n_id, vec_q, vec_n)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_tables: int = 4,
    n_planes: int = 8,
    q_id: str = "q_id",
    n_id: str = "n_id",
    vec_q: str = "qv",
    vec_n: str = "nv",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: bucket-join per hash table, exact re-rank within
    candidates. Recall grows with n_tables; cost stays ~linear in corpus."""
    if dim is None:
        first = (
            queries.where(F.col(vec_q).isNotNull())
            .select(F.size(F.col(vec_q)))
            .first()
        )
        if first is None:  # empty/all-null query set → empty result
            n_id_type = corpus.schema[n_id].dataType.simpleString()
            return queries.select(
                F.col(q_id),
                F.lit(None).cast(n_id_type).alias(n_id),
                F.lit(None).cast("double").alias("cos_sim"),
                F.lit(None).cast("int").alias("rank"),
            ).limit(0)
        dim = first[0]
    q_b = _lsh_buckets_pandas(queries, vec_q, n_tables, n_planes, dim).select(
        q_id, F.explode("_buckets").alias("bucket")
    )
    c_b = _lsh_buckets_pandas(corpus, vec_n, n_tables, n_planes, dim).select(
        n_id, F.explode("_buckets").alias("bucket")
    )
    # dedupe candidates on (q_id, n_id) ONLY — shuffling the 64-float
    # payloads through the distinct would move ~n_tables× the vector bytes;
    # vectors are re-joined once per surviving pair instead (queries side
    # broadcast: ANN query sets are small by construction)
    cand_ids = (
        q_b.join(c_b, "bucket")
        .where(F.col(q_id) != F.col(n_id))
        .select(q_id, n_id)
        .distinct()
    )
    return _exact_rerank(cand_ids, queries, corpus, k, q_id, n_id, vec_q, vec_n)


def embedding_near_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    n_tables: int = 4,
    n_planes: int = 12,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS at corpus scale — the scale
    path behind the capped all-pairs baseline (q_dedup_embedding_near):
    LSH-bucket the whole corpus (one numpy matmul per Arrow batch for
    every table×plane projection), self-join on bucket to generate
    candidate pairs (ids only shuffle — vectors never ride the join),
    then exact-cosine rescore and threshold. Cost is O(corpus × tables +
    bucket collisions), never all-pairs; raise n_planes as the corpus
    grows to hold per-bucket occupancy (and the candidate fanout) flat.

    Sign-LSH concentrates in the HIGH-similarity regime: with p planes a
    pair at angle θ survives one table with (1-θ/π)^p, so recall is near
    1 for true near-dups (cos ≥ ~0.9) and intentionally tiny for weakly
    similar pairs — which is exactly the dedup use case. Integer-exact
    bucketing (quantized embeddings × md5-derived ±1 hyperplanes, same
    scheme as lsh_topk) keeps the candidate set engine-independent, so
    the DuckDB oracle reproduces pairs exactly; recall on planted
    near-dups is gated separately in tests."""
    if dim is None:
        first = (
            df.where(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)))
            .first()
        )
        if first is None:
            return df.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(None).cast("double").alias("cos_sim"),
            ).limit(0)
        dim = first[0]
    b = _lsh_buckets_pandas(df, vec_col, n_tables, n_planes, dim).select(
        id_col, F.explode("_buckets").alias("bucket")
    )
    a_side = b.select(F.col(id_col).alias("id_a"), "bucket")
    b_side = b.select(F.col(id_col).alias("id_b"), "bucket")
    cand = (
        a_side.join(b_side, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    scored = with_cosine(cand.join(va, "id_a").join(vb, "id_b"), "_va", "_vb")
    return scored.where(F.col("cos_sim") >= threshold).select("id_a", "id_b", "cos_sim")
