"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and an IVF-bucketed
variant as the scale path (assign every vector to its nearest centroid,
then search only the query's bucket — the join key becomes the bucket id,
so work scales with bucket size, not corpus size).

All math is built-in array expressions (zip_with + aggregate) over doubles:
JVM-side, codegen, no Python in the hot path. Norms are computed once per
side BEFORE any join — never per pair.

Every search here is one generate, score, rank pipeline, and each scoring
and ranking step is written once, as a private helper the ANN and semantic
dedup operators share:

* ``_fold`` — the sequential zip_with/aggregate fold behind
  :func:`dot_expr` (double dot), ``_code_dot`` (BIGINT dot of int8 codes
  or integer projections) and ``_sq_l2`` (squared L2, rounded by each
  caller); every fold keeps its zero literal and left-to-right order, so
  the doubles match any row-at-a-time oracle bit for bit.
* ``_norm`` — the L2 norm behind :func:`with_norm` and the semantic
  member store.
* ``_cosine`` — ``round(dot / (‖a‖·‖b‖), places)``.
* ``_top_k`` — the per-partition ``row_number`` window that keeps the
  first k rows.
* ``_adc_lut`` / ``_adc_topk`` — the round-6 ADC lookup table, and the
  join, sum, round, self-filter and rank tail every PQ search shares.
* ``_code_signature`` — a vector's PQ codes in subspace order, the twin
  screen's unit of identity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparsity_spark import stores
from sparsity_spark.util import local_df


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _fold(a, b, pair, zero) -> Column:
    """Σ pair(aᵢ, bᵢ) as a sequential zip_with + aggregate fold over two
    array columns (names or Columns), starting from ``zero``."""
    return F.aggregate(F.zip_with(_col(a), _col(b), pair), zero, lambda acc, x: acc + x)


def dot_expr(a, b) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential fold — matches the
    summation order of any row-at-a-time oracle engine exactly). ``a`` and
    ``b`` are column names or Columns."""
    return _fold(a, b, lambda x, y: x * y, F.lit(0.0))


def _code_dot(a, b) -> Column:
    """Exact BIGINT dot of two integer arrays (Column exprs or names) —
    the ONE integer scoring expression sq8_topk's relevance, mmr_topk's
    relevance and redundancy penalty, and both PCA projections share."""
    return _fold(a, b, lambda x, y: x * y, F.lit(0).cast("long"))


def _sq_l2(a, b) -> Column:
    """Σ (aᵢ − bᵢ)², unrounded (each caller applies its own rounding)."""
    return _fold(a, b, lambda x, y: (x - y) * (x - y), F.lit(0.0))


def _norm(v) -> Column:
    """L2 norm of an array<double> column — one definition, so every store,
    screen and search divides by the same denominator."""
    return F.sqrt(
        F.aggregate(F.transform(_col(v), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _cosine(va, na, vb, nb, places: int) -> Column:
    """Cosine from precomputed norms, rounded to ``places`` decimals
    (half-up, BEFORE any threshold or rank, so engine float noise cannot
    flip a boundary)."""
    return F.round(dot_expr(va, vb) / (_col(na) * _col(nb)), places)


def _top_k(scored: DataFrame, by: list, order: list, k: int, cols: list) -> DataFrame:
    """The first ``k`` rows of each ``by`` group under ``order`` (which
    must end in a unique tie-break), projected to ``cols``."""
    w = Window.partitionBy(*by).orderBy(*order)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(*cols)
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add vec_d (double vector) and norm columns."""
    out = df.withColumn("vec_d", F.col(vec_col).cast("array<double>"))
    return out.withColumn("norm", _norm("vec_d"))


def _broadcast_cosine(
    embeddings: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, query_id, cosine) for every corpus × query pair,
    self-matches excluded: the (small) query set broadcasts against the
    partition-parallel corpus, cosine rounded to 4."""
    corpus = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("vec_d").alias("vc"), F.col("norm").alias("nc")
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("vec_d").alias("vq"), F.col("norm").alias("nq")
    )
    return (
        corpus.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _cosine("vq", "nq", "vc", "nc", 4))
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against the
    corpus, one pass, ranked per query with a deterministic tie-break.
    Returns (query_id, neighbor_id, cosine) with self-matches excluded.

    At 100 TB the corpus side stays partition-parallel; only the query set
    is broadcast. Cosine is rounded BEFORE ranking so engine-specific float
    noise cannot flip the top-k boundary."""
    scored = _broadcast_cosine(embeddings, queries, id_col, vec_col)
    return _top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        k,
        ["query_id", "neighbor_id", "cosine"],
    )


def projection_planes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): each coefficient
    derives from md5("plane:<p>:<d>"), so ANY engine (or a SQL oracle) can
    reproduce the exact same planes — no RNG, no seed-ordering hazards."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:8], 16) / 2**31 - 1
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def random_projection_buckets(
    embeddings: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Signed-random-projection LSH: bucket = bit vector of sign(v·plane_p).
    Cosine-similar vectors collide with high probability; the bucket id is
    the shuffle key, so near-neighbor search shuffles corpus-linear data.
    One pass, num_planes dot products per row, all built-in expressions."""
    planes = projection_planes(num_planes, dim)
    v = F.col(vec_col).cast("array<double>")
    bucket = None
    for p, plane in enumerate(planes):
        dot = dot_expr(v, F.array(*[F.lit(x) for x in plane]))
        bit = F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    return embeddings.select(F.col(id_col), bucket.alias("bucket"))


def rp_lsh_candidate_pairs(
    embeddings: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate near-neighbor pairs sharing an LSH bucket (id_a < id_b)."""
    b = random_projection_buckets(embeddings, num_planes, dim, id_col, vec_col)
    left = b.select(F.col(id_col).alias("id_a"), "bucket")
    right = b.select(F.col(id_col).alias("id_b"), "bucket")
    return (
        left.join(right, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("bucket", "id_a", "id_b")
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n: int = 1,
) -> DataFrame:
    """Assign every vector to its n nearest centroids by cosine
    (deterministic tie-break on centroid id; n=1 is plain assignment,
    n>1 is the multi-probe query path). Centroids are broadcast; one pass
    over the corpus. Returns (vec_id, centroid_id, vec_d, norm)."""
    corpus = with_norm(embeddings, vec_col).select(id_col, "vec_d", "norm")
    cents = with_norm(centroids, vec_col).select(
        F.col(centroid_id_col).alias("__cid__"),
        F.col("vec_d").alias("cv"),
        F.col("norm").alias("cn"),
    )
    scored = corpus.join(F.broadcast(cents)).withColumn(
        "cs", _cosine("vec_d", "norm", "cv", "cn", 6)
    )
    return _top_k(
        scored,
        [id_col],
        [F.col("cs").desc(), F.col("__cid__")],
        n,
        [id_col, F.col("__cid__").alias(centroid_id_col), "vec_d", "norm"],
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: search only within the query's nprobe nearest
    buckets (nprobe>1 trades a proportional candidate-set increase for
    recall — the knob that closes IVF's recall gap without touching the
    corpus layout). Bucket assignment shuffles on centroid_id; the
    per-bucket join scales with bucket population — the 100 TB path where
    brute force can't go."""
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col, centroid_id_col)
    qa = ivf_assign(queries, centroids, id_col, vec_col, centroid_id_col, n=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(centroid_id_col),
        F.col("vec_d").alias("vq"),
        F.col("norm").alias("nq"),
    )
    corpus = assigned.select(
        F.col(centroid_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.col("vec_d").alias("vc"),
        F.col("norm").alias("nc"),
    )
    scored = (
        corpus.join(qa, on=centroid_id_col)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _cosine("vq", "nq", "vc", "nc", 4))
    )
    return _top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        k,
        ["query_id", F.col(centroid_id_col), "neighbor_id", "cosine"],
    )


def grouped_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid (elementwise mean) in long (group, dim, mean_val)
    format: posexplode + one partial+final hash aggregate — work ∝ N·d with
    map-side combine, no UDF, no driver-side vectors. The long output IS the
    engine's native cell layout, so a centroid matrix is itself a
    SparseFrame-able result. Mirrors IVF centroid (re)training."""
    ex = embeddings.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    return ex.groupBy(group_col, "dim").agg(F.round(F.avg("x"), 4).alias("mean_val"))


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization, the standard ANN memory/IO reduction
    (4 bytes/dim → 1): per-vector scale = max|x|, code = ⌊x·127/scale + ½⌋.

    floor(x + 0.5) instead of round() — round() tie-breaking differs
    between engines (HALF_UP vs banker's) while floor is bit-identical
    everywhere, so an oracle reproduces codes exactly. Map-only; emits long
    (id, dim, code, scale) rows — the engine's native cell layout."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    scale = F.array_max(F.transform(x, lambda v: F.abs(v)))
    codes = F.transform(x, lambda v: F.floor(v * 127.0 / scale + 0.5).cast("int"))
    return embeddings.select(
        F.col(id_col),
        F.posexplode(codes).alias("dim", "code"),
        F.round(scale, 6).alias("scale"),
    ).select(id_col, "dim", "code", "scale")


def pq_codebook(m: int, k: int, sub_dim: int) -> list[list[list[float]]]:
    """md5-derived product-quantization codebook: codeword[s][j] is a
    sub_dim vector in [-1, 1), derived like projection_planes so any engine
    reproduces it exactly."""
    import hashlib

    return [
        [
            [
                int(hashlib.md5(f"pq:{s}:{j}:{d}".encode()).hexdigest()[:8], 16) / 2**31 - 1
                for d in range(sub_dim)
            ]
            for j in range(k)
        ]
        for s in range(m)
    ]


def pq_encode(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list | None = None,
) -> DataFrame:
    """Product-quantization codes: split each vector into m sub-vectors and
    assign each to its nearest (L2) of k codewords — 64 floats compress to
    m small ints, the standard memory-bound ANN representation. Arrow-
    batched mapInPandas: per batch one broadcasting (n × k × sub) distance
    tensor per subspace — a pure-expression formulation (zip_with +
    aggregate per codeword) is interpreted row-at-a-time by Spark's
    higher-order functions and benched ~10× slower. Distances round to 6
    decimals before the argmin (ties → lowest index) so a SQL oracle
    reproduces every code; the closure is self-contained (codebook bound as
    a default arg, imports inside). Returns (id, subspace, code) long
    rows."""
    sub = dim // m
    book = codebook or pq_codebook(m, k, sub)

    def batches(it, _book=book, _m=m, _sub=sub, _id=id_col, _vec=vec_col):
        import numpy as np
        import pandas as pd

        C = np.asarray(_book, dtype=np.float64)  # (m, k, sub)
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf[_vec].to_numpy()).astype(np.float64)
            codes = np.empty((n, _m), dtype=np.int32)
            for s in range(_m):
                xs = X[:, s * _sub : (s + 1) * _sub]
                d2 = ((xs[:, None, :] - C[s][None, :, :]) ** 2).sum(axis=2).round(6)
                codes[:, s] = d2.argmin(axis=1)  # np.argmin ties → lowest index
            yield pd.DataFrame(
                {
                    _id: np.repeat(pdf[_id].to_numpy(), _m),
                    "subspace": np.tile(np.arange(_m, dtype=np.int32), n),
                    "code": codes.reshape(-1),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        batches, schema=f"{id_col} long, subspace int, code int"
    )


def _encode_with_assignment(
    embeddings: DataFrame,
    centroids: DataFrame,
    book: list,
    m: int,
    k_code: int,
    dim: int,
    id_col: str,
    vec_col: str,
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """(id, centroid_id, subspace, code) in ONE corpus pass (r11, guide
    §2.4/§4.2): the nearest-centroid assignment rides the same Arrow
    batch as the PQ encode — the previous shape scanned the corpus twice
    (pq_encode + ivf_assign) and re-joined the two corpus-sized outputs
    on id (a full shuffle of the code rows plus the row_number window
    shuffle inside ivf_assign). The centroid set is metadata-sized
    (8-16 rows), so it travels in the task closure.

    Bit-faithfulness to ivf_assign's JVM cosine, term by term:

    * dot and norm² accumulate with an EXPLICIT sequential loop over
      dimensions (``acc += x·c`` per j) — the same left-associated
      IEEE fold order as the zip_with/aggregate expression; a plain
      ``np.sum``/``@`` would pairwise-sum and drift ulps.
    * each centroid's norm pre-folds in Python doubles (same IEEE ops
      the JVM constant-fold runs), denominator is norm·cn then one
      divide, as in the expression.
    * round-6 replicates Spark's Round(HALF_UP) exactly:
      ``Decimal(repr(v))`` parses the SHORTEST decimal representation —
      what Scala's ``BigDecimal(double)`` (Double.toString) sees — then
      quantizes HALF_UP; an exact-binary ``Decimal(v)`` or numpy's
      half-even ``round`` would disagree at representation boundaries.
    * centroids iterate in ascending id with a strict ``>`` update, so
      ties keep the LOWEST centroid id — the window's (cs desc, cid
      asc) order.

    Equality with the join+window path is pinned by a dedicated A/B
    parity test over the real embeddings plus the strict oracle rows."""
    cent_rows = sorted(
        (int(r[0]), [float(v) for v in r[1]])
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    import math

    cent_norms = []
    for _cid, cvec in cent_rows:
        acc = 0.0
        for v in cvec:
            acc += v * v
        cent_norms.append(math.sqrt(acc))
    sub = dim // m

    def batches(
        it,
        _book=book,
        _m=m,
        _sub=sub,
        _dim=dim,
        _id=id_col,
        _vec=vec_col,
        _cents=cent_rows,
        _cnorms=cent_norms,
    ):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        C = np.asarray(_book, dtype=np.float64)
        Cv = np.asarray([cv for _, cv in _cents], dtype=np.float64)
        cids = np.asarray([cid for cid, _ in _cents], dtype=np.int64)
        six = Decimal("0.000001")

        def round6(arr):
            return np.fromiter(
                (
                    float(Decimal(repr(v)).quantize(six, ROUND_HALF_UP))
                    for v in arr.tolist()
                ),
                dtype=np.float64,
                count=len(arr),
            )

        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf[_vec].to_numpy()).astype(np.float64)
            # sequential-order folds (see docstring)
            nrm2 = np.zeros(n)
            for j in range(_dim):
                nrm2 += X[:, j] * X[:, j]
            nrm = np.sqrt(nrm2)
            best_cs = np.full(n, -np.inf)
            best_cid = np.full(n, cids[0], dtype=np.int64)
            for ci in range(len(cids)):
                dot = np.zeros(n)
                c = Cv[ci]
                for j in range(_dim):
                    dot += X[:, j] * c[j]
                cs = round6(dot / (nrm * _cnorms[ci]))
                upd = cs > best_cs
                best_cs = np.where(upd, cs, best_cs)
                best_cid = np.where(upd, cids[ci], best_cid)
            codes = np.empty((n, _m), dtype=np.int32)
            for s in range(_m):
                xs = X[:, s * _sub : (s + 1) * _sub]
                d2 = ((xs[:, None, :] - C[s][None, :, :]) ** 2).sum(axis=2).round(6)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    _id: np.repeat(pdf[_id].to_numpy(), _m),
                    "centroid_id": np.repeat(best_cid, _m),
                    "subspace": np.tile(np.arange(_m, dtype=np.int32), n),
                    "code": codes.reshape(-1),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        batches,
        schema=f"{id_col} long, centroid_id long, subspace int, code int",
    )


def pq_sampled_codebook(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Data-sampled PQ codebook: codeword[s][j] is subspace s of the j-th
    lowest-id embedding — the k-means-init baseline. Deterministic, SQL-
    derivable from the table itself (``WHERE id < k``-style), and fitted
    to the data's actual range: the fixed md5 codebook spans [-1, 1) while
    this corpus sits in ±0.5, which collapsed ADC codes to 2-5 distinct
    values per subspace (measured) and recall to zero. One k·dim driver
    collect — metadata-sized."""
    sub = dim // m
    rows = (
        embeddings.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if not rows:
        raise ValueError("pq_sampled_codebook: embeddings table is empty")
    # a corpus smaller than k simply yields a smaller codebook (codes still
    # valid; the SQL oracle's LIMIT k picks the same rows)
    return [
        [[float(x) for x in r["v"][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def pq_trained_codebook(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    iters: int = 2,
    train_n: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """PROPERLY TRAINED per-subspace PQ codebook (VERDICT r5 #3): Lloyd's
    k-means on each subspace's sub-vectors, the way FAISS trains IVFPQ —
    the data-sampled codebook (:func:`pq_sampled_codebook`) is only an
    init, and quantization error (hence recall) improves substantially
    with even 2 refinement iterations (measured on the sf0.01 fixture:
    recall@10 at m=8/k=64/nprobe=3 rises 0.285 → 0.395; at m=16/k=256,
    0.52 → 0.63 — SCALE.md has the full sweep).

    100 TB shape: codebook training is METADATA-SIZED work — FAISS trains
    on a ~100k-1M sample regardless of corpus size, and so does this:
    one collect of the ``train_n`` hash-sampled rows (lowest
    md5(id-as-string), ties by id — the `kmeans_fit` init discipline, so
    id-clustered corpora cannot bias the sample), then numpy Lloyd on the
    driver. No per-iteration Spark jobs at all, unlike full-corpus
    `kmeans_fit` — the sample IS the training set.

    Engine-portable discipline (shared with `kmeans_fit`): assignment
    rounds the EUCLIDEAN distance to 6 half-away-from-zero before the
    argmin (ties → lowest code), re-averaged means round to 6
    half-away-from-zero, and an EMPTY codeword keeps its previous vector
    (codebook width must stay stable — dropping would renumber codes).
    A DuckDB oracle unrolls the identical iterations in SQL
    (queries._pq_trained_cb_parts)."""
    import numpy as np

    sub = dim // m
    rows = (
        embeddings.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(train_n)
        .collect()
    )
    if not rows:
        raise ValueError("pq_trained_codebook: embeddings table is empty")
    X = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)

    def _round6(arr):
        return np.floor(np.abs(arr) * 1e6 + 0.5) * np.sign(arr) / 1e6

    book = []
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        C = Xs[: min(k, len(Xs))].copy()
        for _ in range(iters):
            a = np.empty(len(Xs), dtype=np.int64)
            for s0 in range(0, len(Xs), 4096):
                blk = Xs[s0 : s0 + 4096]
                d2 = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                d = np.floor(np.sqrt(np.maximum(d2, 0.0)) * 1e6 + 0.5)
                a[s0 : s0 + len(blk)] = d.argmin(axis=1)
            for j in range(len(C)):
                mask = a == j
                if mask.any():
                    C[j] = _round6(Xs[mask].mean(axis=0))
                # empty codeword: keep previous vector (stable width)
        book.append([[float(x) for x in c] for c in C])
    return book


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k_code: int = 16,
    dim: int = 64,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the memory-bound
    search half of the IVF-PQ stack: the corpus is represented ONLY by its
    m small codes (from :func:`pq_encode`), and each query scores a doc by
    summing per-subspace lookup-table distances instead of touching the
    raw vectors.

    Spark shape: the per-query LUT (query × subspace × codeword → ‖q_s −
    c‖², Q·m·k rows — metadata-sized for a broadcastable query set) is
    built with slice/zip_with fold expressions and BROADCAST; the code
    table equi-joins it on (subspace, code), and one partial+final hash
    aggregate sums the m partial distances per (query, doc). Work is
    n·m·Q cheap JVM ops, shuffle is Q rows per doc after map-side combine
    — the corpus raw vectors are never read at query time, which is the
    entire point of PQ at 100 TB.

    Distances round to 6 decimals per subspace AND after the sum (same
    discipline as pq_encode) so a SQL oracle reproduces the ranking
    exactly. Ties → lowest neighbor id. Self-matches excluded.

    ``codebook`` defaults to the data-sampled one (:func:`pq_sampled_
    codebook`); pass :func:`pq_codebook`'s md5 book only when engine-fixed
    codewords matter more than fit.

    Returns (query_id, neighbor_id, adc_d2)."""
    book = codebook or pq_sampled_codebook(embeddings, m, k_code, dim, id_col, vec_col)
    codes = pq_encode(embeddings, m, k_code, dim, id_col, vec_col, codebook=book)
    lut = _adc_lut(queries, book, m, dim, id_col, vec_col)
    return _adc_topk(codes, lut, ["subspace", "code"], id_col, topk)


def _adc_lut(
    queries: DataFrame,
    book: list,
    m: int,
    dim: int,
    id_col: str,
    vec_col: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """Per-query ADC lookup table (query_id, [extra...], subspace, code,
    d2) — the round-6 per-subspace distance discipline lives HERE and only
    here, shared by plain ADC search and the IVF-PQ compositions (a
    drifted copy would silently disagree with whichever oracle guards the
    other). ``extra_cols`` pass through unchanged (:func:`ivf_pq_topk`
    keys its LUT by (query, probed centroid), since the query residual
    differs per probe bucket)."""
    sub = dim // m
    spark = queries.sparkSession
    # iterate the book's ACTUAL width — a corpus smaller than k_code yields
    # a shorter codebook, not an IndexError
    cb = local_df(
        spark,
        [(s, j, book[s][j]) for s in range(m) for j in range(len(book[s]))],
        "subspace int, code int, c array<double>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *extra_cols,
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    qsub = F.slice(F.col("vq"), F.col("subspace") * sub + 1, sub)
    return q.crossJoin(F.broadcast(cb)).select(
        "query_id",
        *extra_cols,
        "subspace",
        "code",
        F.round(_sq_l2(qsub, "c"), 6).alias("d2"),
    )


def _adc_topk(
    codes: DataFrame, lut: DataFrame, on: list, id_col: str, topk: int
) -> DataFrame:
    """The one ADC scoring body: the code rows join the BROADCAST lookup
    table on ``on``, one partial+final aggregate sums the per-subspace
    d2 per (query, doc) and rounds the sum to 6, self-matches drop, and
    each query keeps its ``topk`` nearest (ties → lowest id). Returns
    (query_id, neighbor_id, adc_d2)."""
    scored = (
        codes.join(F.broadcast(lut), on=on)
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _top_k(
        scored,
        ["query_id"],
        [F.col("adc_d2").asc(), F.col("neighbor_id")],
        topk,
        ["query_id", "neighbor_id", "adc_d2"],
    )


def write_ivfpq_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    index_table: str,
    m: int = 4,
    k_code: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_buckets: int = 16,
    codebook: list | None = None,
) -> None:
    """PERSIST the IVF-PQ index (the ANN sibling of the dedup band/hash
    stores): the corpus's (centroid_id, subspace, code, id) rows bucketed
    BY centroid_id, plus the data-sampled codebook and the centroids in
    side tables (``<index>__codebook``, ``<index>__centroids``). The raw
    vectors are never needed again at query time — the index IS the
    corpus representation, m small codes per vector.

    Bucketing on centroid_id turns the probe routing into BUCKET PRUNING:
    the query path pushes its probed bucket ids as a filter, so the scan
    reads ONLY those buckets' files (`SelectedBucketsCount: nprobe·|Q| of
    N` in the plan — asserted in tests/test_plans.py). At 100 TB the
    per-query-batch index IO is probed-buckets-sized, not corpus-sized —
    and the raw vectors are never read at all. A rebuild starts with no
    tombstones, like every other store's fresh write."""
    from sparsity_spark.util import overlap_jobs

    spark = embeddings.sparkSession
    book = codebook or pq_sampled_codebook(embeddings, m, k_code, dim, id_col, vec_col)

    # the three tables are independent of each other (different names, no
    # read-after-write among them), so their write jobs overlap from a
    # small driver thread pool (guide §2.6: actions are only sequential
    # because the driver calls them sequentially) — the two metadata-sized
    # side-table writes ride inside the corpus-sized index write's wall
    def _write_index():
        # one fused corpus pass (r11): codes + assignment from the same
        # scan, no id-keyed join/window shuffle — see _encode_with_assignment
        stores.create(
            _encode_with_assignment(
                embeddings, centroids, book, m, k_code, dim, id_col, vec_col
            ),
            index_table,
            ["centroid_id"],
            num_buckets,
        )

    def _write_codebook():
        stores._drop_table_and_location(spark, f"{index_table}__codebook")
        local_df(
            spark,
            [(s, j, book[s][j]) for s in range(m) for j in range(len(book[s]))],
            "subspace int, code int, codeword array<double>",
        ).write.mode("overwrite").saveAsTable(f"{index_table}__codebook")

    def _write_centroids():
        stores._drop_table_and_location(spark, f"{index_table}__centroids")
        centroids.write.mode("overwrite").saveAsTable(f"{index_table}__centroids")

    overlap_jobs(_write_index, _write_codebook, _write_centroids)


def _read_codebook(spark, index_table: str) -> list:
    """Reload the frozen per-subspace codebook from the index side table
    (metadata-sized: m x k_code rows)."""
    book_rows = spark.table(f"{index_table}__codebook").collect()
    mm = 1 + max(r["subspace"] for r in book_rows)
    return [
        [
            list(r["codeword"])
            for r in sorted(
                (x for x in book_rows if x["subspace"] == s), key=lambda x: x["code"]
            )
        ]
        for s in range(mm)
    ]


def append_ivfpq_index(
    new_embeddings: DataFrame,
    index_table: str,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One increment of the persisted IVF-PQ index (the ANN sibling of
    `append_band_store` / `append_member_store`): encode the new vectors
    with the index's FROZEN codebook and route them with its FROZEN
    centroids (both reloaded from the metadata-sized side tables), then
    append the (centroid_id, subspace, code, id) rows THROUGH the same
    bucket spec — the store stays bucket-pruned forever and the next
    query sees the new vectors with zero corpus-side work.

    No retrain, no corpus read: the increment costs one batch-sized
    encode + route + bucketed append. Freezing centroids/codebook per
    increment is the standard IVF maintenance discipline (add vs train in
    the FAISS sense); quantization drift from a shifting distribution is
    handled by periodic full `write_ivfpq_index` rebuilds, not per-batch
    retrains. Appending a batch then querying is bit-identical to having
    built the whole index with the same codebook/centroids up front —
    pinned by the `ann_ivfpq_append_topk` oracle row."""
    spark = new_embeddings.sparkSession
    book = _read_codebook(spark, index_table)
    m, k_code = len(book), len(book[0])
    cents = spark.table(f"{index_table}__centroids")
    # one fused batch pass (r11): codes + routing from the same scan
    rows = _encode_with_assignment(
        new_embeddings, cents, book, m, k_code, dim, id_col, vec_col
    )
    stores.append(rows, index_table)


def delete_from_ivfpq_index(
    ids: DataFrame, index_table: str, id_col: str = "vec_id"
) -> None:
    """Logical deletion from the persisted IVF-PQ index (the
    right-to-be-forgotten path a 100 TB embedding store needs): tombstone
    the ids (:func:`sparsity_spark.stores.forget`); every query path
    anti-joins them read-side, so deleted vectors stop surfacing
    immediately with ZERO index rewrite. Idempotent. Physical removal is
    :func:`compact_ivfpq_index`."""
    stores.forget(ids.select(F.col(id_col)), index_table)


def compact_ivfpq_index(spark, index_table: str) -> None:
    """Physically remove tombstoned code rows through the index's own
    centroid_id bucket spec (:func:`sparsity_spark.stores.compact`).
    Queries before and after compaction are bit-identical by
    construction."""
    stores.compact(spark, index_table)


def ivfpq_index_topk(
    queries: DataFrame,
    index_table: str,
    m: int = 4,
    dim: int = 64,
    topk: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN search against a PERSISTED :func:`write_ivfpq_index` — the
    production query path: the corpus appears ONLY as its bucketed code
    table; queries route to their nprobe buckets (broadcast centroids
    from the side table), the (query, probed bucket)-keyed ADC lookup
    table broadcasts, and the one big-side join is bucket-aligned (no
    index-side Exchange). Same round-6 ADC discipline and ranking as
    :func:`ivf_pq_topk` — results are identical by construction, which
    the oracle row proves.

    Returns (query_id, neighbor_id, adc_d2)."""
    spark = queries.sparkSession
    codes = stores.live(spark, index_table)
    cents = spark.table(f"{index_table}__centroids")
    book = _read_codebook(spark, index_table)
    mm = len(book)
    probes = ivf_assign(queries, cents, id_col, vec_col, n=nprobe)
    # probed bucket ids are metadata-sized (nprobe × |queries|): pushing
    # them as an IN filter lets the bucketed scan PRUNE to exactly those
    # buckets' files — the index read is probe-sized, never corpus-sized
    probe_ids = sorted(
        {r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()}
    )
    codes = codes.filter(F.col("centroid_id").isin(probe_ids))
    lut = _adc_lut(probes, book, mm, dim, id_col, "vec_d", extra_cols=("centroid_id",))
    return _adc_topk(codes, lut, ["centroid_id", "subspace", "code"], id_col, topk)


def _code_signature(codes: DataFrame, keys: list) -> DataFrame:
    """Pivot (keys..., subspace, code) long rows to one (keys..., sig) row
    where sig is the array of codes in subspace order — the vector's
    complete identity under the frozen codebook. array_sort on (subspace,
    code) structs orders by subspace (unique per key), so the transform
    extracts the codes positionally; one partial+final hash aggregate."""
    return codes.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda x: x["code"],
        ).alias("sig")
    )


def ivfpq_twin_screen(
    new_embeddings: DataFrame,
    index_table: str,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    intra_batch: bool = False,
) -> DataFrame:
    """CODE-IDENTITY screen against a persisted IVF-PQ index — the exact
    twin-detection primitive ADC distance cannot express (VERDICT r6 #1):
    ADC measures query-to-quantized-code distance, bounded BELOW by the
    indexed vector's quantization error (measured 68.0 for an exact twin
    in the r6 test fixture), so no ADC threshold can mean "this vector is
    already indexed". Instead, encode the batch with the index's FROZEN
    codebook, route with its FROZEN centroids, and drop any batch vector
    whose (centroid_id, code_0..code_{m-1}) signature already exists in
    the index — symmetric-distance-0, the SDC-0 rule: exact for twins
    (an identical vector always produces identical codes under the same
    codebook), and by construction treats quantization-cell collisions
    (distinct vectors sharing all m codes) as duplicates too — the screen's
    unit of identity IS the cell.

    ``intra_batch=True`` additionally keeps only the LOWEST id per
    signature within the batch itself (the keep-first discipline of
    :func:`sparsity_spark.operators.dedup.append_band_store`) so two twins
    arriving in the same increment don't both land in the index.

    Scale: the index side is read bucket-pruned to the batch's own
    centroid buckets (one metadata-sized collect of probed ids) in ONE
    scan, grouped to signatures per (id, centroid_id) within those
    buckets only — both sides through :func:`_code_signature`; the
    comparison is one equi-join on (centroid_id, sig). Work ∝ probed
    buckets, never corpus. An id indexed under two centroids (the same
    id appended twice with different vectors) contributes one signature
    per bucket.

    Returns (id_col, keep boolean) — the store-family decisions shape."""
    spark = new_embeddings.sparkSession
    book = _read_codebook(spark, index_table)
    m, k_code = len(book), len(book[0])
    cents = spark.table(f"{index_table}__centroids")
    # one fused batch pass (r11): the signature aggregate groups the
    # fused (id, centroid_id, subspace, code) rows directly — centroid_id
    # is constant per id, so carrying it through the groupBy replaces the
    # separate assignment pass + id join
    keys = [id_col, "centroid_id"]
    fused = _encode_with_assignment(
        new_embeddings, cents, book, m, k_code, dim, id_col, vec_col
    )
    batch_sig = _code_signature(fused, keys).localCheckpoint(eager=True)
    probe_ids = sorted(
        {r["centroid_id"] for r in batch_sig.select("centroid_id").distinct().collect()}
    )
    index_sig = _code_signature(
        stores.live(spark, index_table).filter(F.col("centroid_id").isin(probe_ids)),
        keys,
    )
    hit = (
        index_sig.select("centroid_id", "sig")
        .distinct()
        .withColumn("__indexed__", F.lit(True))
    )
    decisions = batch_sig.join(hit, on=["centroid_id", "sig"], how="left").select(
        id_col, "centroid_id", "sig", F.col("__indexed__").isNull().alias("keep")
    )
    if intra_batch:
        w = Window.partitionBy("centroid_id", "sig").orderBy(id_col)
        decisions = decisions.withColumn(
            "keep", F.col("keep") & (F.row_number().over(w) == 1)
        )
    return decisions.select(id_col, "keep")


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: list | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means for IVF centroid (re)training.

    The 100 TB shape: the corpus is persisted once and NEVER shuffled;
    each iteration is ONE single-stage Arrow `mapInPandas` job that (a)
    assigns every row to its nearest centroid with a vectorized numpy
    distance matrix (argmin ties → lowest centroid id, matching np.argmin)
    and (b) folds the partition down to per-centroid partial sums — each
    partition emits at most k rows of (cid, count, sum-vector). Those
    partials are collected straight to the driver and re-averaged in
    numpy: k·d·num_partitions values of driver fan-in, the same shape
    Spark MLlib's own KMeans uses (treeAggregate of per-partition sum
    buffers; clusterer runs collectAsMap on k·(d+1) doubles per round).
    This removes the per-iteration shuffle+aggregate stage entirely — on
    tiny-corpus/high-overhead rounds that stage cost more than the data
    pass (measured at sf0.1: fit ~2.5 s → ~1.2 s) and at scale it was pure
    coordination (k rows per partition either way). A deployment with
    millions of partitions would interpose one tree-merge level, exactly
    as treeAggregate does. The centroids ride to the executors inside the
    Arrow kernel's closure (k·d doubles — metadata-sized), not as a
    512-literal Catalyst expression: the expression form spent more time
    in plan analysis than in data (measured: ~4 s).
    Components are rounded to 6 decimals after every re-average so the
    fit is engine-portable (the DuckDB oracle unrolls the same iterations
    in SQL; round-6 absorbs summation-order float drift, which was already
    nondeterministic under the hash aggregate). Deterministic HASH-SAMPLED
    init (VERDICT r4 #6): the k vectors with the lowest
    md5(id-as-string), ties by id — engine-reproducible like an ORDER BY
    id, but uncorrelated with ingest order, so id-clustered data (ids
    assigned per source/time) cannot collapse the init into one region
    the way first-k-by-id did. Assignment rounds the EUCLIDEAN distance
    to 6 decimals before the argmin on both engines (ADVICE r4: the
    matmul identity ||c||²-2x·c and an oracle's full `list_distance`
    disagree in the last float ulps on near-equidistant vectors — the
    shared round-before-argmin makes the seam exact, same discipline as
    pq_encode). Empty clusters drop out, as in classic Lloyd.

    Returns (centroid_id: long, embedding: array<double>).
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).persist()
    if init is not None:
        # explicit init (r8): ordered [(cid, vector), ...] — the
        # k-means|| composition path (kmeans_parallel_init candidates,
        # weight-ranked, feed straight into Lloyd); caller owns the order,
        # cids must be distinct
        centroids = [(int(c), list(map(float, v))) for c, v in init]
        if len({c for c, _ in centroids}) != len(centroids):
            raise ValueError("kmeans_fit: init cids must be distinct")
    else:
        init_rows = (
            vecs.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(k)
            .collect()
        )
        centroids = [(i, list(r["v"])) for i, r in enumerate(init_rows)]

    for _ in range(iters):
        cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
        C = np.array([c for _, c in centroids], dtype=np.float64)  # (k, d)
        d = C.shape[1]

        def partials(batches, _cids=cids, _C=C, _d=d):
            # accumulate across ALL batches of this partition, emit once:
            # ≤ k rows of (cid, count, elementwise-sum vector)
            cnt = np.zeros(len(_cids), dtype=np.int64)
            sums = np.zeros((len(_cids), _d), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
                # ||x-c||^2 = ||x||^2 + ||c||^2 - 2 x·c via matmul —
                # O(rows·k) memory instead of the O(rows·k·d) broadcast-
                # difference tensor, row-blocked. The EUCLIDEAN distance
                # (not the argmin-equivalent shortcut) is rounded to 6
                # decimals half-away-from-zero before the argmin so the
                # oracle's ROUND(list_distance, 6) lands on the identical
                # winner even for near-equidistant vectors (ADVICE r4);
                # np.argmin ties → lowest index, and centroids are sorted
                # by cid, so ties break to the lowest centroid id
                c_sq = (_C**2).sum(axis=1)
                a = np.empty(len(X), dtype=np.int64)
                for s0 in range(0, len(X), 1024):
                    blk = X[s0 : s0 + 1024]
                    d2 = (blk**2).sum(axis=1)[:, None] + c_sq[None, :] - 2.0 * (
                        blk @ _C.T
                    )
                    d = np.floor(np.sqrt(np.maximum(d2, 0.0)) * 1e6 + 0.5)
                    a[s0 : s0 + len(blk)] = d.argmin(axis=1)
                np.add.at(cnt, a, 1)
                np.add.at(sums, a, X)
            hit = cnt > 0
            if not hit.any():
                # an empty partition must yield NOTHING: an empty frame's
                # "s" column defaults to float64 dtype and Arrow refuses
                # to convert a float ndarray column to list<double>
                # (surfaced by empty scan partitions at the sf1 tier)
                return
            yield pd.DataFrame(
                {
                    "cid": _cids[hit],
                    "cnt": cnt[hit],
                    "s": pd.Series(list(sums[hit]), dtype=object),
                }
            )

        part_df = vecs.mapInPandas(
            partials, schema="cid long, cnt long, s array<double>"
        )
        # ≤ k partial rows per partition — collect them directly and
        # re-average on the driver (numpy), skipping a whole shuffle stage
        tot_cnt = {}
        tot_sum = {}
        for r in part_df.collect():
            cid = r["cid"]
            tot_cnt[cid] = tot_cnt.get(cid, 0) + r["cnt"]
            prev = tot_sum.get(cid)
            s = np.asarray(r["s"], dtype=np.float64)
            tot_sum[cid] = s if prev is None else prev + s
        # round half-AWAY-from-zero (Spark F.round / DuckDB ROUND), not
        # numpy's banker's rounding
        def _round6(arr):
            return np.floor(np.abs(arr) * 1e6 + 0.5) * np.sign(arr) / 1e6

        centroids = [
            (cid, [float(x) for x in _round6(tot_sum[cid] / tot_cnt[cid])])
            for cid in sorted(tot_cnt)
        ]
    vecs.unpersist()
    # ONE slice: a driver-local list otherwise parallelizes into
    # defaultParallelism slices, and every downstream action schedules 32
    # near-empty Python-deserialize tasks (measured 6.9 s task time on the
    # fit row's final save at 32 cores — r12, guide §2.2; see util.local_df)
    return local_df(spark, centroids, "centroid_id long, embedding array<double>")


def assign_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cid",
) -> DataFrame:
    """Nearest-centroid assignment (squared L2, argmin ties → lowest
    centroid id) WITHOUT row fanout: the centroid matrix rides into an
    Arrow `mapInPandas` kernel's closure (k·d doubles — metadata-sized),
    so the cost is O(n·k·d) vectorized flops inside each partition and
    the plan has ZERO extra shuffle. A broadcast crossJoin would multiply
    every corpus row k× before filtering — unusable at SemDeDup-sized k
    (tens of thousands of clusters). The kernel carries the double vector
    through so downstream similarity math needs no join back to the
    corpus. Same round-6-before-argmin/tie discipline as `kmeans_fit`'s
    assignment step, so a SQL oracle's `ROW_NUMBER() OVER (ORDER BY
    ROUND(list_distance, 6), cid)` reproduces it exactly.

    Returns (id_col, out_col, vec_d: array<double>)."""
    import numpy as np
    import pandas as pd

    rows = sorted(
        (r["centroid_id"], list(r["embedding"])) for r in centroids.collect()
    )
    if not rows:
        raise ValueError("assign_centroids: centroids table is empty")
    cids = np.array([c for c, _ in rows], dtype=np.int64)
    C = np.array([v for _, v in rows], dtype=np.float64)

    # the id passthrough keeps the CALLER's id type (string doc ids are
    # legal) — hard-coding `long` here failed at runtime for any non-long
    # id column (ADVICE r4)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    src = embeddings.select(
        F.col(id_col).alias("__id__"),
        F.col(vec_col).cast("array<double>").alias("vec_d"),
    )

    c_sq = (C**2).sum(axis=1)

    def kern(batches, _cids=cids, _C=C, _c_sq=c_sq):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["vec_d"].tolist(), dtype=np.float64)
            # ||x-c||^2 = ||x||^2 + ||c||^2 - 2 x·c via matmul — O(rows·k)
            # memory, not the O(rows·k·d) broadcast-difference tensor
            # (which at the advertised k=tens-of-thousands, d=768 would be
            # terabytes per Arrow batch). Row-blocked so even rows·k stays
            # bounded. Euclidean distance rounds to 6 before the argmin —
            # the same engine seam as kmeans_fit (ADVICE r4), so an
            # oracle's ROW_NUMBER OVER (ORDER BY ROUND(list_distance, 6),
            # cid) reproduces every assignment exactly.
            a = np.empty(len(X), dtype=np.int64)
            for s in range(0, len(X), 1024):
                blk = X[s : s + 1024]
                d2 = (blk**2).sum(axis=1)[:, None] + _c_sq[None, :] - 2.0 * (
                    blk @ _C.T
                )
                d = np.floor(np.sqrt(np.maximum(d2, 0.0)) * 1e6 + 0.5)
                a[s : s + len(blk)] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "__id__": pdf["__id__"].to_numpy(),
                    out_col: _cids[a],
                    "vec_d": pdf["vec_d"],
                }
            )

    out = src.mapInPandas(
        kern, schema=f"__id__ {id_type}, {out_col} long, vec_d array<double>"
    )
    return out.withColumnRenamed("__id__", id_col)


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lo: float = 0.1,
    hi: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query, the
    top-k most-similar corpus vectors whose cosine lies in [lo, hi) —
    similar enough to be informative negatives, but BELOW the
    near-duplicate band (a near-dup used as a negative is a false label,
    the classic contrastive-data bug; SemDeDup/embedding_neardup give the
    dup band, this op mines just under it).

    Same 100 TB shape as `cosine_topk`: only the (small) query set
    broadcasts, the corpus stays partition-parallel, norms precompute per
    side, cosine rounds to 4 decimals BEFORE the band filter and ranking
    so engine float noise can't flip either boundary. For corpus-sized
    query sets, swap the broadcast for the IVF bucket join (`ivf_topk`)
    and apply the same band filter.

    Returns (query_id, neighbor_id, cosine), ties → lowest neighbor id."""
    scored = _broadcast_cosine(embeddings, queries, id_col, vec_col).filter(
        (F.col("cosine") >= F.lit(lo)) & (F.col("cosine") < F.lit(hi))
    )
    return _top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        k,
        ["query_id", "neighbor_id", "cosine"],
    )


def embedding_outliers(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    z_threshold: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space outlier detection: vectors anomalously far from
    their own k-means centroid — the cheap screen for corrupted encodes,
    wrong-modality rows, and garbage text before they poison training.

    Distance-to-assigned-centroid is z-scored WITHIN each cluster (global
    z-scoring would flag whole small clusters instead of stragglers):
    `kmeans_fit` + the zero-shuffle `assign_centroids` kernel, one
    euclidean-distance projection against the broadcast centroid map,
    then ONE hash aggregate for per-cluster mean/std (population std, the
    SQL `stddev_pop`) joined back broadcast. Distance and z both round to
    6 decimals so any SQL oracle lands on identical flags. Clusters with
    a single member (std 0) never flag — z is NULL-safe-coalesced to 0.

    Returns (id_col, cid, dist, z, is_outlier)."""
    cents = kmeans_fit(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    assigned = assign_centroids(embeddings, cents, id_col, vec_col, out_col="cid")
    cmap = cents.select(
        F.col("centroid_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    dist = F.round(F.sqrt(_sq_l2("vec_d", "cvec")), 6)
    d = assigned.join(F.broadcast(cmap), on="cid").withColumn("dist", dist)
    stats = d.groupBy("cid").agg(
        F.avg("dist").alias("__mu__"), F.stddev_pop("dist").alias("__sd__")
    )
    z = F.round(
        F.when(
            F.col("__sd__") > 0, (F.col("dist") - F.col("__mu__")) / F.col("__sd__")
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        d.join(F.broadcast(stats), on="cid")
        .withColumn("z", z)
        .select(
            id_col,
            "cid",
            "dist",
            "z",
            (F.col("z") >= F.lit(z_threshold)).alias("is_outlier"),
        )
    )


def _residuals(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 1,
) -> DataFrame:
    """(id, centroid_id, residual) rows: x − centroid(x) for each of the
    n nearest centroids (n=1 corpus side, n=nprobe query side). The
    subtraction is one JVM zip_with after the broadcast-centroid
    assignment; residuals round to 6 decimals so a SQL oracle reproduces
    the downstream codes exactly."""
    asg = ivf_assign(df, centroids, id_col, vec_col, n=n)
    cv = centroids.select(
        F.col("centroid_id").alias("__rcid__"),
        F.col(vec_col).cast("array<double>").alias("__cv__"),
    )
    return asg.join(F.broadcast(cv), asg.centroid_id == F.col("__rcid__")).select(
        id_col,
        "centroid_id",
        F.transform(
            F.zip_with(F.col("vec_d"), F.col("__cv__"), lambda a, b: a - b),
            lambda x: F.round(x, 6),
        ).alias("residual"),
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    k_code: int = 16,
    dim: int = 64,
    topk: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list | None = None,
    residual: bool = False,
) -> DataFrame:
    """The full IVF-PQ stack (the FAISS IVFPQ shape): queries route to
    their ``nprobe`` nearest IVF buckets, and ONLY that bucket's members
    are scored — by asymmetric distance over their PQ codes, never their
    raw vectors. This is the composition the corpus-scale path needs:
    IVF bounds WHO gets scored (bucket membership), PQ bounds WHAT is
    read per candidate (m small codes).

    Plan shape: corpus codes (`pq_encode`, map-only) join their bucket id
    (`ivf_assign`, broadcast centroids) once; the ADC lookup table is
    keyed (query, probed bucket) and BROADCASTS, so the only work on the
    big side is one equi-join keyed (centroid_id, subspace, code) over
    bucket members — work ∝ bucket population × m, independent of corpus
    size. Distances round to 6 per subspace and after the sum (the
    `pq_adc_topk` discipline); ties → lowest neighbor id; self-matches
    excluded.

    ``residual=True`` is FAISS IVFPQ's actual design (and the r7 fix for
    the clustered-data recall ceiling): PQ codes quantize x − centroid(x)
    (:func:`_residuals`), not x. On clustered embeddings raw-vector PQ
    spends its entire resolution re-encoding the cluster CENTER — every
    member of a tight cluster gets near-identical codes and within-cluster
    ranking collapses (measured: recall@10 flat at 0.41 across nprobe
    1/3/5 on a 32-Gaussian fixture — tools/recall_study.py). Encoding
    residuals spends the same m codes on the within-cluster offsets. The
    query's residual differs per probed bucket (q − c_b), which the
    (query, bucket)-keyed LUT already carries; the corpus raw vectors are
    read once at encode time, never at query time.

    ``codebook`` defaults to the data-sampled one (over the residuals when
    ``residual``); pass :func:`pq_trained_codebook`'s Lloyd-refined book
    (fit on the residuals when ``residual``) for the production recall
    path (VERDICT r5 #3 — measured recall sweep in SCALE.md).

    Returns (query_id, neighbor_id, adc_d2)."""
    if residual:
        corpus = _residuals(embeddings, centroids, id_col, vec_col)
        probes = _residuals(queries, centroids, id_col, vec_col, n=nprobe)
        src, src_vec, probe_vec = corpus, "residual", "residual"
    else:
        corpus = ivf_assign(embeddings, centroids, id_col, vec_col)
        probes = ivf_assign(queries, centroids, id_col, vec_col, n=nprobe)
        src, src_vec, probe_vec = embeddings, vec_col, "vec_d"
    book = codebook or pq_sampled_codebook(src, m, k_code, dim, id_col, src_vec)
    codes = pq_encode(src, m, k_code, dim, id_col, src_vec, codebook=book)
    bucket_codes = codes.join(corpus.select(id_col, "centroid_id"), on=id_col)
    lut = _adc_lut(probes, book, m, dim, id_col, probe_vec, extra_cols=("centroid_id",))
    return _adc_topk(bucket_codes, lut, ["centroid_id", "subspace", "code"], id_col, topk)


def ivf_pq_refine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    k_code: int = 16,
    dim: int = 64,
    topk: int = 5,
    nprobe: int = 1,
    shortlist: int = 4,
    residual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list | None = None,
) -> DataFrame:
    """IVF-PQ search with an EXACT-COSINE refine stage (FAISS
    IndexRefineFlat's shape): the compressed-domain ADC search produces a
    ``topk × shortlist`` candidate list per query, and only those
    candidates' RAW vectors are re-read and re-ranked by exact cosine.
    This closes BOTH residues the r7 recall study isolated
    (tools/recall_study.py): the quantizer's ranking noise (ADC saturates
    at 0.41-0.47 recall@10 on the clustered fixture while exact in-bucket
    L2 reaches 0.835) and the L2-ADC-vs-cosine-truth metric seam (worth
    ~0.17 on that fixture by itself).

    Scale shape: the shortlist is metadata-sized (Q × topk × shortlist id
    rows) and BROADCASTS; the corpus contributes one extra column-pruned
    (id, vector) scan semi-joined by the broadcast — no corpus shuffle,
    no pairwise blowup. This is the standard accuracy/IO dial: PQ bounds
    candidate-generation IO, refine pays raw-vector IO for shortlist rows
    only. Returns (query_id, neighbor_id, cosine)."""
    short = ivf_pq_topk(
        embeddings, queries, centroids, m, k_code, dim,
        topk * shortlist, nprobe, id_col, vec_col, codebook, residual,
    ).select("query_id", "neighbor_id")
    nb = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec_d").alias("nv"),
        F.col("norm").alias("nn"),
    )
    qv = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("vec_d").alias("qv"),
        F.col("norm").alias("qn"),
    )
    exact = (
        nb.join(F.broadcast(short), on="neighbor_id")
        .join(F.broadcast(qv), on="query_id")
        .withColumn("cosine", _cosine("qv", "qn", "nv", "nn", 6))
    )
    return _top_k(
        exact,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        topk,
        ["query_id", "neighbor_id", "cosine"],
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    score_col: str = "score",
    k: int = 60,
    top_n: int | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists (r7) — the standard hybrid
    retrieval combiner (lexical BM25 + semantic ANN, or any mix):
    rrf(d) = Σ_lists 1/(k + rank_list(d)), documents absent from a list
    contribute nothing for it. Ranks are assigned by (score desc, id) so
    ties are deterministic; contributions are summed as exact integer
    nano-units (round(1e9/(k+rank))) and divided once at the end — the
    money-math discipline, so the fused score can never drift by
    summation order across engines or partitionings.

    Scale shape: fusion operates on ranked SHORTLISTS (top-N per system),
    which are metadata-sized by contract — the global rank window is over
    a shortlist, never a corpus. Pass ``by`` (e.g. ["query_id"]) to fuse
    many queries at once with the window partitioned per query.

    Returns (by..., id_col, rrf_score, n_lists) — n_lists = how many
    systems retrieved the doc (a useful agreement signal)."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    by = by or []
    parts = []
    for df in rankings:
        w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
            F.col(score_col).desc(), F.col(id_col)
        )
        parts.append(
            df.select(*by, F.col(id_col), F.row_number().over(w).alias("rank"))
        )
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    fused = tagged.groupBy(*by, id_col).agg(
        F.sum(
            F.round(F.lit(1_000_000_000.0) / (F.lit(k) + F.col("rank"))).cast("long")
        ).alias("rrf_nano"),
        F.count("*").alias("n_lists"),
    )
    out = fused.select(
        *by,
        id_col,
        F.round(F.col("rrf_nano") / 1e9, 6).alias("rrf_score"),
        F.col("n_lists").cast("long").alias("n_lists"),
    )
    if top_n is not None:
        out = _top_k(
            out,
            [F.col(c) for c in by],
            [F.col("rrf_score").desc(), F.col(id_col)],
            top_n,
            [*by, id_col, "rrf_score", "n_lists"],
        )
    return out


def kmeans_parallel_init(
    embeddings: DataFrame,
    l: int = 4,
    rounds: int = 2,
    micro: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-means|| initialization (r8 — Bahmani et al., VLDB 2012: the
    distributed k-means++ that needs ``rounds`` passes instead of k).

    Each round computes every point's distance to the current candidate
    set (ONE map-only Arrow kernel — the corpus never shuffles), then
    oversamples ~``l`` new candidates with probability ∝ cost. The final
    (candidate, weight) table — weight = points nearest to the candidate
    — is what the caller feeds to a cheap weighted reduction (or straight
    into kmeans_fit as init).

    Engine-exact sampling discipline: cost is the SQUARED integer
    micro-distance ``floor(d·micro + 0.5)²`` (the kmeans_fit seam,
    squared to keep k-means||'s d² weighting), the total is an exact
    BIGINT sum, and a point is drawn when ``md5_60(id) % total <
    l·cost`` — integer arithmetic end to end, so Spark and the SQL
    oracle select the IDENTICAL candidate set; no RNG, reproducible
    across partitionings/replays. Already-chosen candidates have cost 0
    and can never be re-drawn. Bound (r9, tightened): Σ (d·micro)² must
    stay below 2^60, NOT 2^63 — the draw hash ``md5_60`` has only 60
    bits, so once total ≥ 2^60 the modulo is the identity and the draw
    probability stops being ∝ cost (systematic oversampling that an
    oracle replaying the same bias would never catch). Enforced with a
    hard raise; at micro=10^4 that is still ~10^7 rows of unit-scale
    embeddings per job — shrink ``micro`` for larger corpora.

    Driver state is candidate-sized (1 + ~l·rounds vectors), the same
    bounded-lineage iterative shape as kmeans_fit. Returns
    (vec_id, weight) over the candidate ids."""
    import numpy as np

    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).persist()
    first = (
        vecs.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(1)
        .collect()[0]
    )
    cands = {int(first[id_col]): np.asarray(first["v"], dtype=np.float64)}
    h60 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")

    def cost_kernel(C, _micro=micro):
        def run(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
                d2 = (
                    (X * X).sum(axis=1)[:, None]
                    + (C * C).sum(axis=1)[None, :]
                    - 2.0 * (X @ C.T)
                )
                dm = np.floor(
                    np.sqrt(np.maximum(d2, 0.0)) * _micro + 0.5
                ).astype(np.int64)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "v": pdf["v"],
                        "cost": dm.min(axis=1) ** 2,
                    }
                )

        return run

    for _ in range(rounds):
        C = np.array([cands[i] for i in sorted(cands)], dtype=np.float64)
        cost_df = vecs.mapInPandas(
            cost_kernel(C), schema=f"{id_col} long, v array<double>, cost long"
        ).persist()
        total = cost_df.agg(F.sum("cost")).collect()[0][0] or 0
        if total >= 1 << 60:
            cost_df.unpersist()
            raise ValueError(
                "kmeans_parallel_init: total cost >= 2^60 exceeds the draw "
                "hash's 60 bits (md5_60 % total would no longer be ∝ cost); "
                "shrink micro"
            )
        if total <= 0:
            cost_df.unpersist()
            break
        sel = cost_df.filter(h60 % F.lit(total) < l * F.col("cost")).collect()
        cost_df.unpersist()
        for r in sel:
            cands[int(r[id_col])] = np.asarray(r["v"], dtype=np.float64)

    ids = sorted(cands)
    C = np.array([cands[i] for i in ids], dtype=np.float64)
    ids_arr = np.array(ids, dtype=np.int64)

    def assign_kernel(batches, _C=C, _ids=ids_arr, _micro=micro):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            d2 = (
                (X * X).sum(axis=1)[:, None]
                + (_C * _C).sum(axis=1)[None, :]
                - 2.0 * (X @ _C.T)
            )
            dm = np.floor(np.sqrt(np.maximum(d2, 0.0)) * _micro + 0.5).astype(
                np.int64
            )
            yield pd.DataFrame({id_col: _ids[dm.argmin(axis=1)]})

    assigned = vecs.mapInPandas(assign_kernel, schema=f"{id_col} long")
    out = assigned.groupBy(id_col).agg(F.count("*").cast("long").alias("weight"))
    vecs.unpersist()
    return out


def pca_gram_int(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> list[list[int]]:
    """Integer-exact (uncentered) Gram matrix Σ x·xᵀ of a quantized
    embedding column — the distributed half of the PCA power iteration.
    One Arrow pass via :func:`moments_int` (same quantization — float32→
    float64 exact, one shared IEEE multiply, tie-free floor — same
    kmeans-partials shape, same per-partition int64 overflow guard with
    the safe-``scale`` hint); the sums/count the moments kernel also
    carries cost d+1 extra metadata rows. Nothing corpus-sized ever
    moves."""
    G, _, _ = moments_int(embeddings, vec_col=vec_col, scale=scale)
    return G


def pca_power_component(gram: list[list[int]], iterations: int = 3, unit: int = 1_000_000) -> list[int]:
    """Top principal direction of an integer Gram matrix by power
    iteration with integer max-renormalization (the HITS rescale
    discipline): v₀ = unit everywhere; each round w = G·v in unbounded
    Python ints, then vᵢ ← sign(wᵢ) · (|wᵢ|·unit) div max|w| — a
    truncating rescale both Python and SQL express identically on
    non-negative operands, so every iterate is engine-exact and the
    whole run replays as unrolled HUGEINT CTEs. Driver-side only: the
    Gram is d² integers (metadata-sized); the corpus never moves."""
    if iterations < 1:
        raise ValueError("pca_power_component: iterations must be >= 1")
    d = len(gram)
    v = [unit] * d
    for _ in range(iterations):
        w = [sum(gram[i][j] * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in w)
        if m == 0:
            raise ValueError("pca_power_component: zero Gram matrix")
        v = [(-((-x * unit) // m) if x < 0 else (x * unit) // m) for x in w]
    return v


def pca_project_int(
    embeddings: DataFrame,
    component: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Project every embedding onto an integer principal direction:
    score = Σ x_q[i] · v[i], all BIGINT, evaluated as a zip_with fold
    inside whole-stage codegen (component is a broadcast array literal —
    metadata-sized). Map-only: projection at 100 TB runs at scan speed.
    Returns (id_col, score_micro)."""
    qexpr = F.expr(
        f"transform({vec_col}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )
    vlit = F.array(*[F.lit(int(c)).cast("long") for c in component])
    return embeddings.select(F.col(id_col), _code_dot(qexpr, vlit).alias("score_micro"))


def pca_top_component_project(
    embeddings: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    unit: int = 1_000_000,
) -> DataFrame:
    """The full pipeline: distributed integer Gram → driver power
    iteration → map-only projection. The whitening/ordering primitive an
    embedding pipeline needs (curriculum by principal score, OPQ-style
    rotation seeds, outlier axes) with every step engine-exact."""
    G = pca_gram_int(embeddings, id_col=id_col, vec_col=vec_col, scale=scale)
    v = pca_power_component(G, iterations=iterations, unit=unit)
    return pca_project_int(
        embeddings, v, id_col=id_col, vec_col=vec_col, scale=scale
    )


def moments_int(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> tuple[list[list[int]], list[int], int]:
    """Integer second moments of a quantized embedding column in ONE
    Arrow pass: the d×d Gram Σ x·xᵀ, the per-dimension sums Σ x, and the
    row count — everything a covariance/correlation matrix needs, all
    exact BIGINT partials (pca_gram_int's kernel extended with the sum
    row and count). Output is partitions·(d²+d+2) rows; the corpus never
    moves.

    Overflow is guarded at BOTH levels: each partition fail-fasts when
    its local accumulation could wrap int64, AND — because the
    cross-partition combine is a plain Spark long sum that would wrap
    silently — every partition also emits its max|x_q| so the driver can
    verify the GLOBAL invariant n_total·max|x_q|² < 2⁶³ (|Σ x_i·x_j| is
    bounded by it, so no partial sum in any combine order can have
    wrapped) and raise with the safe-``scale`` hint instead of returning
    corrupted moments. The per-partition check alone weakens as
    parallelism grows; the global check does not."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        from pyspark import TaskContext

        G = None
        S = None
        rows = 0
        mx = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Xq = np.floor(X * scale)
            bmx = int(np.abs(Xq).max()) if Xq.size else 0
            rows += len(Xq)
            mx = max(mx, bmx)
            if mx and rows >= (1 << 63) // (mx * mx):
                raise ValueError(
                    f"moments_int: int64 overflow risk at {rows} rows with "
                    f"max|x_q|={mx}; shrink scale (currently {scale})"
                )
            Xq = Xq.astype(np.int64)
            P = Xq.T @ Xq
            s = Xq.sum(axis=0)
            if G is None:
                G, S = P, s
            else:
                G, S = G + P, S + s
        if G is None:
            return
        d = G.shape[0]
        pid = TaskContext.get().partitionId()
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        # i=-2 rows carry this partition's max|x_q| under a per-partition
        # key, so the groupBy SUM leaves each one intact for the driver's
        # global max
        out_i = np.concatenate([ii.ravel(), np.arange(d), np.array([-1, -2])])
        out_j = np.concatenate([jj.ravel(), np.full(d, -1), np.array([-1, pid])])
        out_v = np.concatenate([G.ravel(), S, np.array([rows, mx])])
        yield pd.DataFrame({"i": out_i, "j": out_j, "val": out_v})

    part_df = embeddings.select(vec_col).mapInPandas(
        partials, schema="i int, j int, val long"
    )
    rows = part_df.groupBy("i", "j").agg(F.sum("val").alias("val")).collect()
    if not rows:
        raise ValueError("moments_int: empty embedding table")
    d = max(r["i"] for r in rows) + 1
    G = [[0] * d for _ in range(d)]
    S = [0] * d
    n = 0
    mx = 0
    for r in rows:
        if r["i"] == -2:
            mx = max(mx, int(r["val"]))
        elif r["i"] == -1:
            n = int(r["val"])
        elif r["j"] == -1:
            S[r["i"]] = int(r["val"])
        else:
            G[r["i"]][r["j"]] = int(r["val"])
    if mx and n * mx * mx >= 1 << 63:
        raise ValueError(
            f"moments_int: int64 overflow risk across partitions at {n} "
            f"total rows with max|x_q|={mx}; shrink scale (currently {scale})"
        )
    return G, S, n


def corr_matrix(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Pearson correlation between every pair of embedding dimensions —
    the feature-redundancy screen (near-duplicate dimensions are dead
    weight in every downstream distance): corr_ij = (n·G_ij − S_i·S_j) /
    √((n·G_ii − S_i²)(n·G_jj − S_j²)), with the numerator and both
    variance terms computed EXACTLY in unbounded Python ints from the
    one-pass integer moments, and only the final division + √ in
    float64 (both IEEE-correctly-rounded, so engines agree bit for
    bit), rounded half-away-from-zero to 6 dp — the kmeans float
    discipline. Emits the strict upper triangle (i < j); zero-variance
    dimensions are skipped on both engine sides. The d²-sized result is
    metadata: the corpus-sized work all happened inside the moments
    pass."""
    import math

    G, S, n = moments_int(embeddings, vec_col=vec_col, scale=scale)
    d = len(G)
    var = [n * G[i][i] - S[i] * S[i] for i in range(d)]
    out = []
    for i in range(d):
        if var[i] <= 0:
            continue
        for j in range(i + 1, d):
            if var[j] <= 0:
                continue
            num = n * G[i][j] - S[i] * S[j]
            den = math.sqrt(float(var[i]) * float(var[j]))
            c = float(num) / den
            c6 = math.floor(abs(c) * 1e6 + 0.5) * (1 if c >= 0 else -1) / 1e6
            out.append((i, j, c6))
    spark = embeddings.sparkSession
    return local_df(spark, out, "i int, j int, corr6 double")


def grouped_moments_int(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> dict:
    """Per-GROUP integer second moments in ONE Arrow pass — the moments
    kernel keyed by a small-cardinality group column (domain, language,
    source): each partition accumulates one (Gram, sums, count) triple
    per group it sees, emitting partitions·groups·(d²+d+2) rows. The
    overflow guard is two-level like :func:`moments_int`: per-partition
    fail-fast per group, plus a global per-group n·max|x_q|² < 2⁶³ check
    on the driver (the cross-partition combine is a plain long sum).
    NULL group values raise loudly — silently dropping unlabeled rows
    would misreport every group's moments. Returns {group: (G, S, n)}."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        from pyspark import TaskContext

        acc = {}
        mx = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf["__g__"].isna().any():
                raise ValueError(
                    f"grouped_moments_int: NULL values in group column "
                    f"{group_col!r} — filter or impute them first"
                )
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Xq = np.floor(X * scale)
            bmx = int(np.abs(Xq).max()) if Xq.size else 0
            mx = max(mx, bmx)
            Xq = Xq.astype(np.int64)
            gvals = pdf["__g__"].to_numpy()
            for g in np.unique(gvals):
                sel = Xq[gvals == g]
                G, S, n = acc.get(int(g), (None, None, 0))
                n += len(sel)
                if mx and n >= (1 << 63) // (mx * mx):
                    raise ValueError(
                        f"grouped_moments_int: int64 overflow risk in group "
                        f"{int(g)} at {n} rows with max|x_q|={mx}; shrink "
                        f"scale (currently {scale})"
                    )
                P = sel.T @ sel
                s = sel.sum(axis=0)
                acc[int(g)] = (
                    (P, s, n) if G is None else (G + P, S + s, n)
                )
        if not acc:
            return
        pid = TaskContext.get().partitionId()
        frames = []
        for g, (G, S, n) in acc.items():
            d = G.shape[0]
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            frames.append(
                pd.DataFrame(
                    {
                        "g": g,
                        # i=-2 carries this partition's max|x_q| (keyed by
                        # partition id so the SUM combine leaves it intact)
                        "i": np.concatenate([ii.ravel(), np.arange(d), [-1, -2]]),
                        "j": np.concatenate([jj.ravel(), np.full(d, -1), [-1, pid]]),
                        "val": np.concatenate([G.ravel(), S, [n, mx]]),
                    }
                )
            )
        yield pd.concat(frames, ignore_index=True)

    part_df = embeddings.select(
        F.col(group_col).cast("long").alias("__g__"), vec_col
    ).mapInPandas(partials, schema="g long, i int, j int, val long")
    rows = part_df.groupBy("g", "i", "j").agg(F.sum("val").alias("val")).collect()
    if not rows:
        raise ValueError("grouped_moments_int: empty embedding table")
    out = {}
    mx = 0
    d = max(r["i"] for r in rows) + 1
    for r in rows:
        if r["i"] == -2:
            mx = max(mx, int(r["val"]))
            continue
        g = int(r["g"])
        if g not in out:
            out[g] = ([[0] * d for _ in range(d)], [0] * d, 0)
        G, S, _ = out[g]
        if r["i"] == -1:
            out[g] = (G, S, int(r["val"]))
        elif r["j"] == -1:
            S[r["i"]] = int(r["val"])
        else:
            G[r["i"]][r["j"]] = int(r["val"])
    if mx:
        for g, (_, _, n) in out.items():
            if n * mx * mx >= 1 << 63:
                raise ValueError(
                    f"grouped_moments_int: int64 overflow risk across "
                    f"partitions in group {g} at {n} rows with "
                    f"max|x_q|={mx}; shrink scale (currently {scale})"
                )
    return out


def grouped_pca_project(
    embeddings: DataFrame,
    group_col: str = "label",
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    unit: int = 1_000_000,
) -> DataFrame:
    """Per-group principal-direction projection: one grouped moments
    pass, one driver power iteration per group (groups·d² integers —
    metadata), then each vector projects onto ITS group's component via
    one BROADCAST join of the (group, component) table + the zip_with
    fold — scan-speed scoring with per-domain axes, the shape per-source
    curriculum/whitening needs. Returns (id_col, group_col,
    score_micro)."""
    moments = grouped_moments_int(
        embeddings, group_col=group_col, vec_col=vec_col, scale=scale
    )
    comps = [
        (g, pca_power_component(G, iterations=iterations, unit=unit))
        for g, (G, _, _) in sorted(moments.items())
    ]
    spark = embeddings.sparkSession
    comp_df = local_df(spark, comps, f"{group_col} long, __comp__ array<long>")
    qexpr = F.expr(
        f"transform({vec_col}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )
    return (
        embeddings.withColumn(group_col, F.col(group_col).cast("long"))
        .join(F.broadcast(comp_df), group_col)
        .select(
            F.col(id_col), F.col(group_col), _code_dot(qexpr, "__comp__").alias("score_micro")
        )
    )


def _sq8_codes(df: DataFrame, id_alias: str, id_col: str, vec_col: str):
    """Per-vector int8 code arrays — quantize_embeddings' exact math
    (floor(x·127/max|x| + ½): floor, never round, so both engines emit
    identical codes) kept in array form for scan-speed scoring. An
    all-zero vector codes to all-zero (r9 review fix: x/0 is NaN, whose
    floor-cast is NULL in Spark but a conversion ERROR in DuckDB — the
    one degenerate input where the engines would diverge; zero codes
    give the zero vector zero similarity to everything, the right
    answer)."""
    x = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(x, lambda v: F.abs(v)))
    codes = F.transform(
        x,
        lambda v: F.when(scale == 0.0, F.lit(0).cast("long")).otherwise(
            F.floor(v * 127.0 / scale + 0.5).cast("long")
        ),
    )
    return df.select(F.col(id_col).alias(id_alias), codes.alias(f"{id_alias}_c"))


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar-quantized top-k (r9 — the SQ scan path every
    vector store ships alongside PQ: 4 bytes/dim → 1, and the score
    becomes an INTEGER dot product of code arrays). Both sides quantize
    with the same per-vector floor(x·127/max|x| + ½); the score is an
    exact BIGINT (|score| ≤ 127²·d — overflow-free for any real d), so
    ranking needs no rounding discipline at all: integer compares cannot
    drift between engines, the one float hazard scalar quantization
    usually carries.

    Plan shape: the code transform is map-only on both sides; the (small)
    query code set broadcasts against the partition-parallel corpus —
    ONE corpus pass, per-partition top-k pushed by the rank window.
    Returns (query_id, neighbor_id, score_i8), self-matches excluded.
    Approximation note: code dot ≈ 127²·⟨x,y⟩/(sx·sy) — the per-vector
    scales make this a cosine-family surrogate; re-rank the shortlist
    with exact float cosine when the last ulp of recall matters (the
    ivf_pq_refine composition)."""
    corpus = _sq8_codes(embeddings, "neighbor_id", id_col, vec_col)
    q = _sq8_codes(queries, "query_id", id_col, vec_col)
    scored = (
        corpus.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _code_dot("query_id_c", "neighbor_id_c").alias("score_i8"),
        )
    )
    return _top_k(
        scored,
        ["query_id"],
        [F.col("score_i8").desc(), F.col("neighbor_id")],
        k,
        ["query_id", "neighbor_id", "score_i8"],
    )


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lambda_pct: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (r9 — Carbonell &
    Goldstein '98: retrieval that penalizes redundancy, the selection
    rule behind diversified RAG contexts and dedup-aware eval sets).
    Greedy: step j picks ``argmax (100−λ)·rel(d) − λ·max_{s∈S} sim(d,s)``
    over unselected docs (max-sim over the EMPTY set is 0, so step 1 is
    pure relevance).

    Determinism: rel and sim are the int8 code dots of :func:`sq8_topk` —
    exact BIGINTs — and λ is an integer percent, so every objective is an
    exact integer and the argmax (ties to the smaller id) cannot drift
    between engines; the oracle replays all k selection steps.

    Scale shape: the query codes broadcast once and the scored corpus
    persists once; each of the k steps is ONE Arrow kernel pass over it
    (the ≤k selected code arrays ride in the kernel's closure, so the
    plan is the same every step) plus a driver-side max over the
    per-partition winners. k corpus scans for a k-item answer is the
    honest cost of greedy MMR; k is single-digits in practice. One query
    per call (the selection state is per-query by definition); loop
    callers batch queries outside. Returns (step, neighbor_id, rel_i8,
    obj_i8) with step 1..k in selection order."""
    if not 0 <= lambda_pct <= 100:
        raise ValueError("mmr_topk: lambda_pct must be in [0, 100]")
    # ONE query-side job for both the id guard and the codes (r11: the
    # id collect and the codes collect were two sequential driver jobs
    # over the same one-row frame)
    qrows = _sq8_codes(queries.limit(2), "q", id_col, vec_col).collect()
    if len(qrows) != 1:
        raise ValueError("mmr_topk: queries must hold exactly one vector")
    qid = qrows[0]["q"]
    qcodes = qrows[0]["q_c"]
    spark = embeddings.sparkSession
    corpus = _sq8_codes(
        embeddings.where(F.col(id_col) != qid), "neighbor_id", id_col, vec_col
    ).withColumnRenamed("neighbor_id_c", "code")
    qdf = local_df(spark, [([int(x) for x in qcodes],)], "qc array<long>")
    corpus = (
        corpus.crossJoin(F.broadcast(qdf))
        .select("neighbor_id", "code", _code_dot("code", "qc").alias("rel"))
        .persist()
    )
    picked = []  # (step, id, rel, obj, code)
    try:
        # no materializing count() here (r11): step 1's argmax fills the
        # cache itself — same work, one fewer sequential driver job
        for step in range(1, k + 1):
            cand = corpus.where(
                ~F.col("neighbor_id").isin([p[1] for p in picked])
                if picked
                else F.lit(True)
            )
            # ONE Arrow kernel pass (r12, guide §4.2) over the cached
            # corpus computes each partition's best candidate —
            # the r11 broadcast-join form was crossJoin → per-candidate
            # hash aggregate (an Exchange) → scalar max (another Exchange)
            # → collect, ~4 driver jobs per step of a 2,000-row corpus
            # (probed 5.0 s wall with 3.1 s task time at 32 cores; the
            # wall was planning + stage barriers). The kernel keeps the
            # EXACT integer math: int8-ranged code dots in int64 (max
            # |dot| ≈ d·127² ≪ 2^63), obj = (100−λ)·rel − λ·max_sim, ties
            # to the smallest neighbor_id — bit-identical picks, pinned by
            # the plain-Python reference test and the oracle's k-step replay.
            import numpy as np

            sel_np = (
                np.asarray([code for _, _, _, _, code in picked], dtype=np.int64)
                if picked
                else None
            )
            a_w, b_w = 100 - lambda_pct, lambda_pct

            def _best_kernel(batches, _sel=sel_np, _a=a_w, _b=b_w):
                import pandas as pd

                best = None
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.asarray(pdf["code"].tolist(), dtype=np.int64)
                    rel = pdf["rel"].to_numpy(dtype=np.int64)
                    ms = (
                        (X @ _sel.T).max(axis=1)
                        if _sel is not None
                        else np.zeros(len(pdf), dtype=np.int64)
                    )
                    obj = _a * rel - _b * ms
                    nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
                    # argmax with ties to the SMALLEST id: lexsort's last
                    # key is primary — obj descending, then nid ascending
                    i = int(np.lexsort((nid, -obj))[0])
                    row = (
                        int(obj[i]), int(nid[i]), int(rel[i]),
                        [int(x) for x in pdf["code"].iloc[i]],
                    )
                    if best is None or (row[0], -row[1]) > (best[0], -best[1]):
                        best = row
                if best is not None:
                    yield pd.DataFrame(
                        {
                            "obj": [best[0]],
                            "neighbor_id": [best[1]],
                            "rel": [best[2]],
                            "code": [best[3]],
                        }
                    )

            rows = cand.select("neighbor_id", "rel", "code").mapInPandas(
                _best_kernel,
                schema="obj long, neighbor_id long, rel long, code array<long>",
            ).collect()
            if not rows:  # corpus exhausted before k picks (r9 review fix)
                break
            best = max(rows, key=lambda r: (r["obj"], -r["neighbor_id"]))
            picked.append(
                (step, best["neighbor_id"], best["rel"], best["obj"], best["code"])
            )
    finally:
        corpus.unpersist()
    spark = embeddings.sparkSession
    return local_df(
        spark,
        [(s, i, r, o) for s, i, r, o, _ in picked],
        "step int, neighbor_id long, rel_i8 long, obj_i8 long",
    )
