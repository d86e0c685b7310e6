"""Similarity search over ``embeddings(vec_id, embedding array<float>,
label)``.

* :func:`cosine_topk` — brute-force exact top-k: broadcast the query
  set, JVM-side dot products (``zip_with`` + ``aggregate``), window
  rank. O(n·q) but embarrassingly parallel — the correct baseline and
  the verifier for approximate variants.
* :func:`lsh_topk` — random-hyperplane LSH bucketing: 16-bit sign
  sketches from md5-seeded pseudo-random hyperplanes (deterministic,
  no RNG state), candidates = bucket collisions in ≥1 of the bands,
  exact re-rank of candidates only. The 100 TB path: candidate count
  per query is ~n/2^bits × bands instead of n.

Vector-math placement (measured, r5→r6): EVERY candidate-scoring
path — IVF assignment, Lloyd training, LSH sketching, the ivf/lsh
re-ranks, the near-dup verify, and the SemDeDup prune — runs through
Arrow-batched numpy kernels on quantized vectors
(:func:`_pair_cos` / :func:`_ivf_assign` / :func:`sign_sketch`):
Spark SQL higher-order-function lambdas are INTERPRETED per element
(never whole-stage-codegen'd), measured ~100× slower per element on
this box (~0.7 s per pass over just 2000×64 vectors at 16 cells,
where one numpy matmul per Arrow batch is ~milliseconds). r7 closes
the last gap: :func:`cosine_topk`'s raw-double exact cosine now runs
through :func:`_pair_cos_raw` — a sequential-accumulate numpy kernel
bit-identical to the SQL left fold it replaced (parity-tested
against the fold). Never per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _pair_cos(va_col, vb_col):
    """Quantized exact cosine for bounded candidate-pair relations —
    THE candidate scorer for every approximate path (ivf/lsh re-rank,
    near-dup verify, SemDeDup prune).

    One Arrow-batched numpy pass; inputs are quantized inside
    (``floor(x·2^10)``, the IVF rule) so dots and norms² are
    integer-valued doubles — bit-identical under any summation
    order, hence equal to DuckDB's ``list_cosine_similarity`` over
    ``list_transform(v, x -> floor(x*1024))``. The SQL
    higher-order-function fold this replaces is INTERPRETED per
    element (never codegen'd): measured ~100× slower per element on
    this box, three prior strikes (IVF assignment, sign_sketch,
    cosine_near_dup) plus the r5→r6 migration of the re-rank/prune
    sites. :func:`cosine_topk` deliberately keeps the raw-double SQL
    fold — it is the documented all-pairs verifier, never the scale
    path."""
    @pandas_udf("double")
    def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        return _score_pairs(va, vb, _cos_quantized)

    return pair_cos(va_col, vb_col)


def _cos_quantized(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    a = np.floor(a * IVF_QUANT)
    b = np.floor(b * IVF_QUANT)
    # zero-dim rows: every einsum is 0, so 0/0 scores NaN
    dots = np.einsum("ij,ij->i", a, b)
    with np.errstate(divide="ignore", invalid="ignore"):
        return dots / (np.sqrt(np.einsum("ij,ij->i", a, a))
                       * np.sqrt(np.einsum("ij,ij->i", b, b)))


def _cos_left_fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if a.shape[1] == 0:  # zero-dim rows: no direction, 0/0
        return np.full(len(a), np.nan)
    dots = np.add.accumulate(a * b, axis=1)[:, -1]
    na = np.sqrt(np.add.accumulate(a * a, axis=1)[:, -1])
    nb = np.sqrt(np.add.accumulate(b * b, axis=1)[:, -1])
    with np.errstate(divide="ignore", invalid="ignore"):
        return dots / (na * nb)


def _score_pairs(va: pd.Series, vb: pd.Series, kernel) -> pd.Series:
    """``kernel(a, b)`` over one Arrow batch of vector pairs, where
    ``a``/``b`` are (n, d) float64 matrices. A batch of non-null
    vectors of one dimension is stacked whole (the fast path). A
    ragged batch, or one with null vectors, is scored per dimension
    group; a row with a null vector or with vectors of different
    lengths scores NaN, which Arrow hands to Spark as NULL — the same
    as a zero-dim row."""
    la, lb = va.tolist(), vb.tolist()
    try:
        a = np.asarray(la, dtype=np.float64)
        b = np.asarray(lb, dtype=np.float64)
        if a.ndim == 2 and a.shape == b.shape:
            return pd.Series(kernel(a, b))
    except ValueError:  # ragged: numpy's "inhomogeneous shape"
        pass
    dims = np.array([len(x) if x is not None and y is not None
                     and len(x) == len(y) else -1
                     for x, y in zip(la, lb)], dtype=np.int64)
    out = np.full(len(dims), np.nan)
    for d in np.unique(dims[dims >= 0]):
        rows = np.flatnonzero(dims == d)
        out[rows] = kernel(np.asarray([la[i] for i in rows], np.float64),
                           np.asarray([lb[i] for i in rows], np.float64))
    return pd.Series(out)


def _pair_cos_raw(va_col, vb_col):
    """RAW-double exact cosine with LEFT-FOLD summation semantics —
    the r7 de-interpretation of :func:`cosine_topk`'s SQL
    ``aggregate(zip_with(...))`` fold (the last interpreted-HOF
    cosine left in the engine; ~100× per-element cost, same three
    strikes as the quantized scorer's history).

    Bit-parity argument: the JVM fold evaluates
    ``((0.0 + x₀) + x₁) + …`` — a strictly sequential chain of IEEE
    double adds. ``np.add.accumulate`` is documented to apply the
    ufunc sequentially left-to-right, so its last element is the
    IDENTICAL rounding chain, unlike ``np.sum``/``einsum`` (pairwise
    / blocked). Division and sqrt are single correctly-rounded IEEE
    ops in both engines. Hence this produces the same double as the
    interpreted fold for every input — the DuckDB oracle's
    restatement keeps matching bit-for-bit."""
    @pandas_udf("double")
    def pair_cos_raw(va: pd.Series, vb: pd.Series) -> pd.Series:
        return _score_pairs(va, vb, _cos_left_fold)

    return pair_cos_raw(va_col, vb_col)


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 3
                ) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    queries: (query_id, q_embedding). Broadcast-joined (query sets are
    small by construction); ties broken by neighbor id — fully
    deterministic output (query_id, neighbor_id, rank).

    r7: the all-pairs scorer is :func:`_pair_cos_raw` — raw-double
    left-fold cosine in one Arrow pass, bit-identical to the
    interpreted SQL fold it replaces (sequential-accumulate
    summation, see its docstring).
    """
    emb = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("v"))
    qry = queries.select(
        "query_id", _as_double(F.col("q_embedding")).alias("q"))
    scored = (emb.crossJoin(F.broadcast(qry))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine",
                          _pair_cos_raw(F.col("v"), F.col("q"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def _hyperplane(dim: int, bit: int, band: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: md5-seeded ±1 dims.
    The DuckDB oracle restates the identical arithmetic (first md5
    byte's low bit), so sketches are engine-portable."""
    import hashlib
    vec = []
    for d in range(dim):
        h = hashlib.md5(f"hp:{band}:{bit}:{d}".encode()).digest()[0]
        vec.append(1.0 if h & 1 else -1.0)
    return vec


def _hyperplane_dyn(bit: int, band: int):
    """The same ±1 rule as a JVM expression over the dim index —
    used when dim is unknown at plan-build time (no driver action
    needed). Cost: one md5 per (band, bit, element) per ROW, so at
    large dim prefer the literal-array path with dim from config or
    file metadata."""
    def weight(d):
        s = F.concat(F.lit(f"hp:{band}:{bit}:"), d.cast("string"))
        parity = F.conv(F.substring(F.md5(s), 1, 2), 16, 10) \
            .cast("int").bitwiseAND(F.lit(1))
        return F.when(parity == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
    return weight


def sign_sketch(df: DataFrame, vec_col: str, dim: int | None,
                n_bands: int = 4, bits_per_band: int = 8) -> DataFrame:
    """Attach LSH band keys: per band, a ``bits_per_band``-bit sign
    sketch of the vector against fixed hyperplanes.

    Round-5 rewrite, same twice-measured lesson as the IVF
    assignment: the sketch input is QUANTIZED (``floor(x·2^10)``,
    the IVF rule) so every hyperplane dot is an integer-valued
    double — bit-identical under ANY summation order. That exactness
    is what licenses the fast path, and it also removes a latent
    fragility: the previous raw-double left-fold matched DuckDB's
    GROUP-BY sum order only while no dot landed within an ulp of the
    sign boundary.

    ``dim`` given (hot pipelines) → ONE Arrow-batched numpy matmul
    per batch against the closure-held ±1 hyperplane matrix — zero
    py4j literals, zero interpreted lambdas (the previous SQL-text
    ``aggregate(zip_with(...))`` dots were INTERPRETED per element:
    ~1.5 s per 2000×64-dim sketch pass at 8×4 bands, vs ~ms for the
    matmul). ``dim=None`` → hyperplane weights computed per element
    with JVM md5 (identical keys — parity-tested), no dim and no
    Python needed; right for ad-hoc queries.
    """
    vq = _quantize(F.col(vec_col))
    if dim is not None:
        import numpy as np

        hmat = np.array(
            [_hyperplane(dim, bit, band)
             for band in range(n_bands)
             for bit in range(bits_per_band)],
            dtype=np.float64)                      # (bands·bits, dim)
        weights = (1 << np.arange(bits_per_band)).astype(np.int64)
        nb, bpb = n_bands, bits_per_band

        @pandas_udf("array<int>")
        def band_keys(vs: pd.Series) -> pd.Series:
            out: list = [None] * len(vs)
            live = [i for i, x in enumerate(vs) if x is not None]
            if live:
                mat = np.asarray(
                    [np.asarray(vs.iloc[i], dtype=np.float64)
                     for i in live])
                dots = mat @ hmat.T                # integer-valued
                bits = (dots >= 0).astype(np.int64) \
                    .reshape(len(live), nb, bpb)
                keys = bits @ weights              # (n, nb)
                for row, i in enumerate(live):
                    out[i] = [int(k) for k in keys[row]]
            return pd.Series(out, dtype=object)

        return (df.withColumn("_skk", band_keys(vq))
                .withColumn("bands", F.expr(
                    "transform(_skk, (k, b) -> "
                    "named_struct('band', b, 'key', k))"))
                .drop("_skk"))
    band_structs = []
    for band in range(n_bands):
        bits = None
        for bit in range(bits_per_band):
            w = _hyperplane_dyn(bit, band)
            idx = F.sequence(F.lit(0), F.size(vq) - 1)
            dot = F.aggregate(
                F.zip_with(vq, idx, lambda x, d: x * w(d)),
                F.lit(0.0), lambda acc, x: acc + x)
            sign = (dot >= 0).cast("int")
            term = sign * F.lit(1 << bit)
            bits = term if bits is None else bits + term
        band_structs.append(
            F.struct(F.lit(band).alias("band"), bits.alias("key")))
    return df.withColumn("bands", F.array(*band_structs))


IVF_QUANT = 1024


def _quantize(vec_col, quant: int = IVF_QUANT):
    """floor(x·quant) per element, carried as double — every value an
    integer below 2^53, so dot products and per-cell sums are EXACT in
    IEEE doubles regardless of addition order. This is what makes the
    trained codebook reproducible bit-for-bit across Spark and the
    DuckDB oracle (float means would differ by summation order)."""
    return F.transform(_as_double(vec_col),
                       lambda x: F.floor(x * quant).cast("double"))


def ivf_codebook(embeddings: DataFrame, n_cells: int = 16,
                 n_iter: int = 2, quant: int = IVF_QUANT) -> DataFrame:
    """Train the IVF coarse quantizer: ``n_iter`` Lloyd iterations
    under cosine assignment → (cell_id, c array<double>).

    Design for determinism + oracle-restatability (round-2 VERDICT
    item 5 — the fixed lowest-vec_id codebook is gone):

    * seeds: the ``n_cells`` vectors ranked first by
      ``(md5(vec_id), vec_id)`` — deterministic pseudo-random
      sampling, independent of vec_id density (round-2 ADVICE: the
      old ``vec_id < n_cells`` filter broke on sparse/offset ids);
    * centroids are UNNORMALIZED per-cell SUMS of the quantized
      vectors — cosine is scale-invariant, so sums rank identically
      to means while staying exact integers (order-independent);
    * assignment: argmax cosine(quantized vector, centroid), ties →
      lowest cell_id; an empty cell keeps its previous centroid;
    * every iteration is ONE distributed pass — literal-codebook
      narrow argmax (zero shuffle) + map-side-combined
      posexplode/groupBy sums — whose codebook-sized result updates
      the centroids driver-side (the MLlib K-means shape).

    ``n_iter=0`` returns the seed codebook (the untrained baseline
    the recall test compares against).
    """
    return embeddings.sparkSession.createDataFrame(
        _codebook_rows(embeddings, n_cells, n_iter, quant),
        "cell_id int, c array<double>")


def _codebook_rows(embeddings: DataFrame, n_cells: int = 16,
                   n_iter: int = 2, quant: int = IVF_QUANT
                   ) -> list[tuple[int, list[float]]]:
    """:func:`ivf_codebook`'s training loop, returning the driver
    rows the Lloyd iteration holds anyway — internal callers
    (:func:`ivf_topk`, :func:`semantic_dedup`) feed these straight
    into the numpy assignment closure, skipping a createDataFrame →
    collect roundtrip per use."""
    from . import session

    xq = embeddings.select("vec_id", _quantize("embedding", quant)
                           .alias("xq"))
    # the training makes n_iter+1 passes over xq (seed rank + one
    # fused assign/partial-sum pass per Lloyd iteration) — lazily
    # checkpoint it so the source is scanned + quantized ONCE, and
    # release the blocks before returning (session.release: the
    # blocks bypass CacheManager, the r5 rule). At
    # 10⁹ vectors MEMORY_AND_DISK spills rather than re-reading
    # parquet per pass; either is correct, this is the faster
    # default.
    live: list = []
    if n_iter >= 1:
        xq = session.checkpoint(xq, live)
    try:
        return _lloyd_loop(xq, n_cells, n_iter)
    finally:
        session.release(live)


def _lloyd_loop(xq: DataFrame, n_cells: int, n_iter: int
                ) -> list[tuple[int, list[float]]]:
    seed_rows = (xq.select(F.md5(F.col("vec_id").cast("string"))
                           .alias("_m"), "vec_id", "xq")
                 .orderBy("_m", "vec_id").limit(n_cells).collect())
    rows = [(cid, [float(x) for x in r["xq"]]) for cid, r in
            enumerate(sorted(seed_rows,
                             key=lambda r: (r["_m"], r["vec_id"])))]
    for _ in range(n_iter):
        # ONE shuffle-free narrow pass per iteration: a mapInArrow
        # batch-numpy kernel fuses the argmax-cosine assignment with
        # per-partition partial (cell, Σ vector) sums, so each
        # partition emits ≤ n_cells rows and the codebook-sized
        # result reduces DRIVER-side — no exchange at all (the r5
        # interim shape posexploded N·dim rows into a groupBy; the
        # pre-r5 shape shuffled n_cells·N rows through a window and
        # eagerly checkpointed the centroid relation — both measured
        # slower at every size). Quantized integer-valued doubles
        # keep every partial sum exact regardless of batch/partition
        # order, so the trained centroids are bit-identical to the
        # DuckDB oracle's unrolled-Lloyd CTE.
        by_cell = _assign_partial_sums(xq, "xq", rows)
        rows = [(cid,
                 [float(x) for x in s]
                 if (s := by_cell.get(cid)) is not None
                 else c)  # empty cell keeps its previous centroid
                for cid, c in rows]
    return rows


def _assign_partial_sums(df: DataFrame, vec_col: str,
                         cents: list) -> dict[int, "np.ndarray"]:
    """One fused Lloyd pass: assign each vector to its max-cosine
    cell (same winner rule as :func:`_ivf_assign` keep_top=1) and
    return the per-cell element-wise vector sums, reduced on the
    driver from ≤ n_cells partial rows per partition."""
    import pyarrow as pa

    rows = sorted((cid, list(c)) for cid, c in cents)
    cell_ids = np.array([cid for cid, _ in rows], dtype=np.int64)
    cmat = np.array([c for _, c in rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    dim = cmat.shape[1]
    n = len(cell_ids)

    def part(batches):
        acc = np.zeros((n, dim), dtype=np.float64)
        seen = np.zeros(n, dtype=bool)
        for b in batches:
            col = b.column(0)
            if len(col) == 0:
                continue
            x = (col.flatten().to_numpy(zero_copy_only=False)
                 .reshape(len(col), dim).astype(np.float64))
            sims = (x @ cmat.T) / (
                np.sqrt((x * x).sum(axis=1))[:, None] * cnorm[None, :])
            best = np.argmax(sims, axis=1)
            np.add.at(acc, best, x)
            seen[best] = True
        idx = np.nonzero(seen)[0]
        if len(idx):
            yield pa.RecordBatch.from_arrays(
                [pa.array(cell_ids[idx], pa.int32()),
                 pa.array([acc[i].tolist() for i in idx],
                          pa.list_(pa.float64()))],
                ["cell_id", "s"])

    partials = (df.select(vec_col)
                .mapInArrow(part, "cell_id int, s array<double>")
                .collect())
    by_cell: dict[int, np.ndarray] = {}
    for r in partials:
        s = np.array(r["s"], dtype=np.float64)
        prev = by_cell.get(r["cell_id"])
        by_cell[r["cell_id"]] = s if prev is None else prev + s
    return by_cell


def _ivf_assign(df: DataFrame, vec_col: str, id_col: str,
                cents, keep_top: int) -> DataFrame:
    """Top ``keep_top`` max-cosine cells per row (``cents`` may be a
    DataFrame or the driver rows ``[(cell_id, [float, ...]), ...]``
    that :func:`ivf_codebook` iterates on).

    ``keep_top == 1`` — the corpus-scale path (codebook training,
    corpus cell assignment, SemDeDup): a batch-numpy pandas_udf —
    one Arrow-vectorized matmul ``X @ Cᵀ`` per batch against the
    closure-held codebook matrix, appended as a NARROW column (zero
    shuffle, zero join; rows pass through unchanged, ids assumed
    unique per contract). Winner parity with the previous
    ``max_by((sim, −cell_id))`` aggregation is exact: the codebook
    rows are sorted by cell_id and ``np.argmax`` returns the FIRST
    maximum — lowest cell_id on ties — and NaN (zero-norm vector or
    centroid) is maximal for both numpy argmax and Spark double
    ordering, resolving to the lowest NaN cell either way. Float
    parity is exact because every keep_top=1 call site passes
    QUANTIZED vectors (:func:`_quantize`): integer-valued doubles
    make the dot sums order-independent, so numpy's pairwise
    summation, the JVM fold, and the DuckDB oracle agree
    bit-for-bit.

    ``keep_top > 1`` — the query-probe path (bounded query
    relation): broadcast crossJoin + per-id window; top-k has no
    partial-merge aggregate form and the relation is query-sized by
    contract.

    Alternatives measured and REJECTED (this box): the broadcast
    crossJoin + ``max_by`` aggregation (r5 interim: the interpreted
    ``zip_with``/``aggregate`` lambdas cost ~0.7 s per pass over
    just 2000×64 at 16 cells — higher-order functions never enter
    codegen — and the agg adds an N-row exchange per pass);
    embedding the codebook as a plan-literal array (1.4× slower,
    Catalyst tree-walk tax); fully unrolled scalar dot chains (~6×
    slower, same tax).
    """
    if isinstance(cents, DataFrame):
        rows = [(r["cell_id"], list(r["c"])) for r in cents.collect()]
    else:
        rows = [(cid, list(c)) for cid, c in cents]
    if keep_top == 1:
        rows = sorted(rows)  # cell_id asc → argmax ties pick lowest
        cell_ids = np.array([cid for cid, _ in rows], dtype=np.int64)
        cmat = np.array([c for _, c in rows], dtype=np.float64)
        cnorm = np.sqrt((cmat * cmat).sum(axis=1))

        @pandas_udf("int")
        def _best_cell(vs: pd.Series) -> pd.Series:
            if len(vs) == 0:
                return pd.Series([], dtype="int32")
            x = np.array(vs.tolist(), dtype=np.float64)
            sims = (x @ cmat.T) / (
                np.sqrt((x * x).sum(axis=1))[:, None] * cnorm[None, :])
            return pd.Series(
                cell_ids[np.argmax(sims, axis=1)].astype("int32"))

        return df.withColumn("cell_id", _best_cell(F.col(vec_col)))
    cents_df = df.sparkSession.createDataFrame(
        rows, "cell_id int, c array<double>")
    sim = _dot(F.col(vec_col), F.col("c")) / \
        (_norm(F.col(vec_col)) * _norm(F.col("c")))
    joined = (df.crossJoin(F.broadcast(cents_df))
              .withColumn("_csim", sim))
    w = Window.partitionBy(id_col).orderBy(
        F.col("_csim").desc(), F.col("cell_id").asc())
    return (joined
            .withColumn("_crn", F.row_number().over(w))
            .where(F.col("_crn") <= keep_top)
            .drop("_csim", "_crn", "c"))


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 3,
             n_cells: int = 16, n_probe: int = 4,
             n_iter: int = 2) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other classic ANN
    scale path next to hyperplane LSH (:func:`lsh_topk`).

    Coarse quantizer: the k-means codebook from :func:`ivf_codebook`
    (``n_iter`` Lloyd rounds; 0 = untrained seed codebook). Every
    vector is assigned to its max-cosine cell (closure-held codebook,
    batch-numpy narrow map — at 10^9 vectors this is one pass); a
    query probes
    its ``n_probe`` nearest cells and exact-re-ranks only those
    cells' vectors: candidates ≈ n * n_probe / n_cells per query
    instead of n. Cell assignment AND the candidate re-rank both
    score quantized vectors through Arrow-numpy kernels (exact
    integer dots — engine-portable and ~100× cheaper than the
    interpreted SQL fold they replaced; see :func:`_pair_cos`).

    Ties broken by (cell_id, neighbor_id) — fully deterministic;
    output schema matches :func:`cosine_topk` for recall evaluation.
    """
    cents = _codebook_rows(embeddings, n_cells, n_iter)
    emb = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("v"),
        _quantize("embedding").alias("vq"))
    qry = queries.select(
        "query_id", _as_double(F.col("q_embedding")).alias("q"),
        _quantize("q_embedding").alias("qq"))

    assigned = _ivf_assign(emb, "vq", "neighbor_id", cents, 1) \
        .drop("vq")
    probed = _ivf_assign(qry, "qq", "query_id", cents, n_probe) \
        .drop("qq")

    cand = (assigned.join(probed, "cell_id")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "q", "neighbor_id", "v")
            .dropDuplicates(["query_id", "neighbor_id"]))
    scored = cand.withColumn(
        "cosine", _pair_cos(F.col("v"), F.col("q")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def cosine_near_dup(embeddings: DataFrame, threshold: float,
                    dim: int | None = None,
                    n_bands: int = 8, bits_per_band: int = 4
                    ) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the ANN-backed dedup
    operator for training-data pipelines: candidates = vectors
    colliding in ≥1 LSH band (same hyperplane family as
    :func:`lsh_topk`), then exact cosine verify ≥ threshold.

    All-pairs is O(n²) and impossible at 10^9 vectors; banded
    collision keys make the self-join an equi-join on (band, key)
    with ~n/2^bits rows per bucket. Returns (vec_a, vec_b, cosine_u)
    with cosine floored to 1e-6 units (cross-engine float-tie-free,
    same trick as ngram_jaccard).

    Round-5: the verify runs on QUANTIZED vectors (the IVF
    ``floor(x·2^10)`` rule) through one Arrow-batched numpy pass —
    integer-valued dots/norms² are bit-identical under any summation
    order, so numpy, a JVM fold, and DuckDB's
    ``list_cosine_similarity`` all produce the SAME double from the
    same pair. The previous raw-double interpreted-HOF cosine cost
    ~6 s per 10⁶ candidate pairs at 64 dims (measured, 32 cores) and
    matched the oracle's library sum order only by luck.
    """
    # candidate generation and dedup run on SLIM (id, band, key)
    # rows; the 2·dim vector payload joins back only after the
    # distinct — a pair colliding in several bands would otherwise
    # drag both vectors through the dedup shuffle once per collision
    # (measured: the wide dedup dominated the whole operator)
    keys = sign_sketch(
        embeddings.select("vec_id", F.col("embedding").alias("v")),
        "v", dim, n_bands, bits_per_band) \
        .select("vec_id", F.explode("bands").alias("b")) \
        .select("vec_id", "b.band", "b.key")
    left, right = keys.alias("l"), keys.alias("r")
    cand_ids = (left.join(right,
                          (F.col("l.band") == F.col("r.band")) &
                          (F.col("l.key") == F.col("r.key")) &
                          (F.col("l.vec_id") < F.col("r.vec_id")))
                .select(F.col("l.vec_id").alias("vec_a"),
                        F.col("r.vec_id").alias("vec_b"))
                .dropDuplicates(["vec_a", "vec_b"]))
    vecs = embeddings.select("vec_id",
                             _as_double(F.col("embedding")).alias("v"))
    cand = (cand_ids
            .join(vecs.select(F.col("vec_id").alias("vec_a"),
                              F.col("v").alias("va")), "vec_a")
            .join(vecs.select(F.col("vec_id").alias("vec_b"),
                              F.col("v").alias("vb")), "vec_b"))
    return (cand.withColumn("cosine",
                            _pair_cos(F.col("va"), F.col("vb")))
            .where(F.col("cosine") >= threshold)
            .select("vec_a", "vec_b",
                    F.floor(F.col("cosine") * 1_000_000)
                    .cast("bigint").alias("cosine_u")))


def lsh_topk(embeddings: DataFrame, queries: DataFrame,
             dim: int | None = None,
             k: int = 3, n_bands: int = 4, bits_per_band: int = 8
             ) -> DataFrame:
    """Approximate cosine top-k: hyperplane-LSH candidate generation +
    exact re-rank of candidates.

    Recall grows with n_bands; cost per query shrinks by ~2^bits.
    Same output schema as :func:`cosine_topk` for recall evaluation.
    """
    emb = sign_sketch(
        embeddings.select(F.col("vec_id").alias("neighbor_id"),
                          _as_double(F.col("embedding")).alias("v")),
        "v", dim, n_bands, bits_per_band) \
        .select("neighbor_id", "v", F.explode("bands").alias("b")) \
        .select("neighbor_id", "v", "b.band", "b.key")
    qry = sign_sketch(
        queries.select("query_id",
                       _as_double(F.col("q_embedding")).alias("q")),
        "q", dim, n_bands, bits_per_band) \
        .select("query_id", "q", F.explode("bands").alias("b")) \
        .select("query_id", "q", "b.band", "b.key")

    cand = (emb.join(qry, ["band", "key"])
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "q", "neighbor_id", "v")
            .dropDuplicates(["query_id", "neighbor_id"]))
    scored = cand.withColumn(
        "cosine", _pair_cos(F.col("v"), F.col("q")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def recall_at_k(tagged_topk: DataFrame, baseline: str = "exact"
                ) -> dict[str, float]:
    """Recall@k of every approximate method against the exact arm,
    evaluated from a tagged union relation ``(method, query_id,
    neighbor_id, ...)`` — the shape the consolidated ann_approx_topk
    query emits (exact ∪ ivf ∪ lsh). Per-run recall a user (and the
    bench record) can read, not just a pass/fail test (r5 VERDICT
    item 7).

    Driver-side by design: the relation is methods × queries × k
    rows, bounded by construction (query sets are small by the
    cosine_topk contract)."""
    rows = tagged_topk.select("method", "query_id",
                              "neighbor_id").collect()
    by: dict[str, set] = {}
    for r in rows:
        by.setdefault(r.method, set()).add((r.query_id, r.neighbor_id))
    base = by.get(baseline, set())
    if not base:
        return {}
    return {m: round(len(s & base) / len(base), 4)
            for m, s in sorted(by.items()) if m != baseline}


def semantic_dedup(embeddings: DataFrame, n_cells: int = 16,
                   n_iter: int = 2, threshold: float = 0.4
                   ) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the SAME
    deterministic Lloyd-trained coarse quantizer as :func:`ivf_topk`,
    then prune near-duplicates WITHIN each cluster only — a vector is
    dropped iff some lower-id vector in its cell has cosine ≥
    ``threshold`` with it (min-id-wins, the same survivor rule as
    ``textops.exact_dedup``).

    Returns one row per input vector: (vec_id, cell_id, keep) — the
    full assignment, so callers get survivors AND casualties from one
    relation (jobs/curate.py's optional semantic gate consumes the
    casualties).

    Scale path: the pairwise check is per-cell, so the work is
    Σ|cell|² instead of n² — exactly the paper's point. At 10⁹
    vectors you raise ``n_cells`` (the paper uses ~10⁵ clusters) to
    keep cells bounded; assignment stays one closure-held-codebook
    numpy narrow map per vector. Never an all-pairs product over the
    vectors — the plan test pins the prune to ONE hash exchange on
    cell_id feeding a grouped-map kernel.

    r7 prune shape: the within-cell check is a grouped-map Arrow
    kernel (one blocked numpy Gram matmul per cell) instead of the
    r6 |cell|²-row self-join — the Σ|cell|² candidate pairs never
    materialize as rows, so the only shuffle is N slim
    (vec_id, cell_id, vq) rows hash-partitioned by cell_id
    (measured 55 s → ~3 s at 20k vectors × 16 cells; the r6 join
    shuffled ~12.5M pair rows each dragging two 64-dim vectors).
    Bit-parity with the r6 `_pair_cos` pair scorer is exact, not
    approximate: quantized dots/norms² are integer-valued doubles
    below 2⁵³ (order-independent under any BLAS blocking), and the
    final sqrt/multiply/divide are the same correctly-rounded IEEE
    ops in either path. NaN cosines (zero-norm vectors) count as ≥
    threshold, replicating Spark SQL's NaN-is-largest comparison
    semantics from the join form. Blocked evaluation bounds kernel
    memory at ~64 MB per task regardless of |cell|.
    """
    cents = _codebook_rows(embeddings, n_cells, n_iter)
    emb = embeddings.select(
        "vec_id", _quantize("embedding").alias("vq"))
    asg = _ivf_assign(emb, "vq", "vec_id", cents, 1)
    thr = float(threshold)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        n = len(pdf)
        keep = np.ones(n, dtype=bool)
        if n > 1:
            x = np.asarray(pdf["vq"].tolist(), dtype=np.float64)
            norm2 = np.einsum("ij,ij->i", x, x)
            s = np.sqrt(norm2)
            # rows per block so a block of the Gram matrix stays
            # ≤ ~64 MB: pairs never materialize, memory is bounded
            step = max(1, (64 << 20) // (8 * n))
            for lo in range(1, n, step):
                hi = min(lo + step, n)
                dots = x[lo:hi] @ x[:hi].T       # exact integer dots
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / (s[lo:hi, None] * s[None, :hi])
                hit = (cos >= thr) | np.isnan(cos)
                # strictly-lower-triangle: only j < i pairs count
                cols = np.arange(hi)
                mask = cols[None, :] < np.arange(lo, hi)[:, None]
                keep[lo:hi] &= ~(hit & mask).any(axis=1)
        return pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                             "cell_id": pdf["cell_id"].to_numpy(),
                             "keep": keep})

    return asg.groupBy("cell_id").applyInPandas(
        prune, "vec_id bigint, cell_id int, keep boolean")
