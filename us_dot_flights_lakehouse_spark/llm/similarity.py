"""Similarity search over embedding columns.

- ``cosine_topk``: brute-force exact baseline. Query set broadcasts against
  the corpus; per-row dot products run scan-local in whole-stage codegen,
  the only shuffle is the top-k window keyed by query id.
- ``lsh_cosine_topk``: random-hyperplane LSH scale path. Corpus vectors
  bucket by sign-bit signature; queries probe only their own bucket, so
  the candidate set (and the distance math) shrinks by ~2^n_planes. At
  100 TB this is the difference between a full-corpus scan per query and
  a bucket lookup; recall is tunable via n_planes / multi-probe.

Hyperplanes are derived deterministically from md5 (functions/text.hash28
contract) so runs — and the SQL oracle, if one is wired — reproduce
exactly without shipping a side file of random floats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.functions.text import hash28
from us_dot_flights_lakehouse_spark.functions.vectors import (
    lit_double_matrix,
    lit_doubles,
    norm,
    to_double_array,
)

#: number of signed hyperplane projections = bits in the LSH bucket key
LSH_PLANES = 8


def _prep(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    ).withColumn("nrm", norm("v"))


def _dot(a, b) -> Column:
    # plain-column-name fast path: ONE parsed SQL expression instead of
    # ~15 Py4J round-trips for the two higher-order functions (r13 —
    # query CONSTRUCTION, i.e. driver-side Python plan building, was
    # >50% of the sim family's wall time; guide §7.3 planning cost).
    # Parsed and composed trees analyze identically.
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
            " (acc, v) -> acc + v)"
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-matches excluded).
    Returns (query_id, rank, neighbor_id) — rank deterministic via
    (cosine desc, neighbor id asc)."""
    corpus = _prep(emb, id_col, vec_col)
    qs = _prep(queries, id_col, vec_col).select(
        F.col("id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = F.broadcast(qs).crossJoin(corpus).filter(F.col("qid") != F.col("id"))
    scored = scored.select(
        "qid",
        "id",
        (_dot("qv", "v") / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("id").alias("neighbor_id"),
        )
    )


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each anchor, the
    top-k most-cosine-similar corpus vectors with a DIFFERENT label — the
    negatives that sit closest to the decision boundary, which is what a
    contrastive/triplet objective wants in the batch. Returns
    (query_id, rank, neighbor_id, neighbor_label), rank deterministic via
    (cosine desc, neighbor id asc).

    Scale: identical shape to ``cosine_topk`` — broadcast the anchor set,
    scan the corpus once, per-anchor top-k via window; the label
    inequality is a scan-local filter fused into the same stage, so
    mining costs exactly one corpus pass regardless of label count."""

    def prep(df):
        return df.select(
            F.col(id_col).alias("id"),
            to_double_array(vec_col).alias("v"),
            F.col(label_col).alias("lbl"),
        ).withColumn("nrm", norm("v"))

    corpus = prep(emb)
    qs = prep(queries).select(
        F.col("id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("lbl").alias("qlbl"),
    )
    scored = (
        F.broadcast(qs)
        .crossJoin(corpus)
        .filter((F.col("qid") != F.col("id")) & (F.col("qlbl") != F.col("lbl")))
        .select(
            "qid",
            "id",
            "lbl",
            (_dot("qv", "v") / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("id").alias("neighbor_id"),
            F.col("lbl").alias("neighbor_label"),
        )
    )


def _plane(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j over `dim` dims, components
    in [-1, 1), derived from the shared md5 hash contract."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"plane{j}_{d}".encode()).hexdigest()[:7], 16)
        out.append(((h % 2001) - 1000) / 1000.0)
    return out


def _proj_sql(col: str, j: int, dim: int) -> str:
    """SQL text of the plane-j projection of column ``col`` — one parsed
    expression; repr(float) round-trips, so the parsed doubles are
    bit-identical to the Column-API literals."""
    arr = "array(" + ",".join(repr(float(v)) + "D" for v in _plane(j, dim)) + ")"
    return (
        f"aggregate(zip_with({col}, {arr}, (x, y) -> x * y), 0.0D,"
        " (acc, v) -> acc + v)"
    )


def _bucket_sql(col: str, dim: int, n_planes: int, first_plane: int) -> str:
    terms = ["0"]
    for j in range(first_plane, first_plane + n_planes):
        terms.append(
            f"(CASE WHEN {_proj_sql(col, j, dim)} > 0"
            f" THEN {2 ** (j - first_plane)} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def lsh_bucket(
    vec: Column | str, dim: int, n_planes: int = LSH_PLANES, first_plane: int = 0
) -> Column:
    """Sign-bit bucket id of a double-array column under the deterministic
    hyperplane family (expression-only: literal plane arrays + zip_with).
    ``first_plane`` selects a disjoint slice of the family so callers can
    build multiple independent hash tables (multi-table LSH: table t uses
    planes [t*n_planes, (t+1)*n_planes)).

    Pass the column NAME to build the whole bucket as ONE parsed SQL
    expression — the Column-API path issues hundreds of Py4J round-trips
    for the n_planes higher-order folds and measurably dominates query
    construction (r13; guide §7.3 planning cost). Both paths analyze to
    the identical expression tree."""
    if isinstance(vec, str):
        return F.expr(_bucket_sql(vec, dim, n_planes, first_plane))
    bucket = F.lit(0)
    for j in range(first_plane, first_plane + n_planes):
        plane = lit_doubles(_plane(j, dim))
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2 ** (j - first_plane))).otherwise(
            F.lit(0)
        )
    return bucket


#: default cap on IVF training vectors (FAISS-style bounded sample)
IVF_TRAIN_CAP = 10_000


def train_centroids(train, nlist: int, seed: int = 42):
    """Seeded numpy Lloyd's over a float64 training matrix — the ONE
    k-means implementation shared by the Spark query and the DuckDB
    oracle builder (queries/sim_q._ivf_oracle), so both derive bitwise-
    identical centroids from the same training rows."""
    import numpy as np

    rng = np.random.default_rng(seed)
    cents = train[rng.choice(len(train), size=nlist, replace=False)]
    for _ in range(8):
        d2 = ((train[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        labels = d2.argmin(axis=1)
        for c in range(nlist):
            m = labels == c
            if m.any():
                cents[c] = train[m].mean(axis=0)
    return cents


def _md5_mod_keep(i, sample_mod: int) -> bool:
    """Python replica of ``hash28(id) % sample_mod == 0`` (functions/text)."""
    import hashlib

    return int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16) % sample_mod == 0


def _training_matrix(pdf, id_name: str, cap: int):
    """Canonical sample→matrix step: sort the (already hash-pruned, hence
    small) sample by id DRIVER-side and take the first ``cap`` rows. No
    Spark sort anywhere — determinism comes from the local sort of the
    bounded survivor set."""
    import numpy as np

    pdf = pdf.sort_values(id_name).head(cap)
    return np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])


def ivf_centroids_from_parquet(
    path: str,
    nlist: int = 16,
    seed: int = 42,
    cap: int = IVF_TRAIN_CAP,
    sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spark-free centroid derivation straight from the parquet file —
    used by the DuckDB oracle builder to emit the same centroids the
    Spark query trains at runtime (float32→float64 widening is exact,
    the md5 sample gate and local sort mirror ``ivf_cosine_topk``)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[id_col, vec_col]).to_pandas()
    t = t.rename(columns={vec_col: "v"})
    if sample_mod > 1:
        t = t[t[id_col].map(lambda i: _md5_mod_keep(i, sample_mod))]
    return train_centroids(_training_matrix(t, id_col, cap), nlist, seed)


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """FULLY distributed Lloyd's k-means over the whole corpus — the
    complement of ``train_centroids`` (which trains on a bounded driver
    sample, FAISS-style). Per iteration:

    - assignment is a scan-local literal-argmin expression over the k
      current centroids (no corpus x k join, no shuffle — the same
      technique as the IVF cell assignment);
    - the update is ONE hash aggregate: posexplode to (cell, dim)
      partial sums/counts — k*dim output rows collected to the driver
      (k*dim*16 bytes, bounded) to become the next literals.

    So a 100 TB corpus pays one narrow aggregation shuffle per
    iteration and nothing else; driver state is centroids only.

    Init is deterministic maximin (farthest-point): the hash-minimal
    vector seeds first, then each next seed is the vector farthest from
    its nearest chosen centroid — k TakeOrdered reduces, no Spark-side
    sort, and no k-seeds-in-one-cluster degeneracy. Returns (centroids
    ndarray [k, dim], assignment DataFrame (id, cell)). Means are
    float64 — parallel summation order makes the last ULPs
    run-dependent, so this operator is verified by planted-cluster unit
    tests rather than a bit-exact SQL oracle (the catalog's oracle'd
    quantizer is the sample-trained ``sim_ivf_topk`` path)."""
    import numpy as np

    v = _prep(emb, id_col, vec_col).select("id", "v")
    dim = len(v.select("v").first()["v"])

    def _sq(vec, cent):
        return F.aggregate(
            F.zip_with(vec, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    first = (
        v.select("id", "v", hash28(F.col("id").cast("string")).alias("_h"))
        .orderBy("_h", "id")
        .limit(1)
        .collect()
    )
    chosen = [list(first[0]["v"])]
    for _ in range(k - 1):
        books = lit_double_matrix(chosen)
        mind = F.array_min(F.transform(books, lambda c: _sq(F.col("v"), c)))
        far = v.orderBy(F.desc(mind.alias("_d")), F.asc("id")).limit(1).collect()
        chosen.append(list(far[0]["v"]))
    cents = np.array(chosen, dtype=np.float64)

    assign = None
    for _ in range(iters):
        books = lit_double_matrix(cents.tolist())
        dists = F.transform(books, lambda c: _sq(F.col("v"), c))
        cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        assign = v.select("id", "v", cell.alias("cell"))
        rows = (
            assign.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = cents.copy()
        for c in range(k):
            got = [(r["dim"], r["s"], r["n"]) for r in rows if r["cell"] == c]
            if got:
                vec = np.zeros(dim)
                for d, s, n in got:
                    vec[d] = s / n
                new[c] = vec
        cents = new
    return cents, assign.select("id", "cell")


def ivf_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = IVF_TRAIN_CAP,
    sample_mod: int = 1,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into ``nlist`` cells; each query probes only its
    ``nprobe`` nearest cells, then ranks exact cosine inside them.

    Scale path: the corpus is scanned ONCE to assign cells (the quantizer
    trains driver-side on a bounded sample — at 100 TB pass ``sample_mod``
    so the deterministic md5-gate keeps ~``train_cap`` survivors; only
    those are collected and locally sorted, no Spark-side global sort);
    the per-query candidate set shrinks ~nlist/nprobe-fold, and the probe
    join is an equi-join on cell id (shuffle keyed by a small int). Recall
    degrades gracefully via nprobe, unlike single-bucket LSH probing.

    Cell assignment is a pure Column expression (literal centroid arrays,
    sequential-fold squared distance, array_min over (dist, cell) structs)
    so every float the query produces is bit-reproducible by the DuckDB
    oracle's list_sum folds. FAISS trains its IVF lists on a bounded
    sample the same way. Returns (query_id, rank, neighbor_id, cell_id)."""
    corpus = _prep(emb, id_col, vec_col)

    train_df = corpus.select("id", "v")
    if sample_mod > 1:
        train_df = train_df.filter(
            hash28(F.col("id").cast("string")) % sample_mod == 0
        )
    train = _training_matrix(train_df.toPandas(), "id", train_cap)
    cents = train_centroids(train, nlist, seed)
    cents_list = [[float(x) for x in c] for c in cents]

    # cell assignment: argmin over literal centroids, expression-only —
    # one narrow scan, whole-stage JVM evaluation, no Python in the path,
    # and sequential-fold math the SQL oracle reproduces bit-for-bit.
    # Built as ONE parsed SQL expression (r13): the Column-API loop paid
    # ~nlist×10 Py4J round-trips of pure driver time per invocation
    # (guide §7.3 planning cost); repr(float) round-trips, so the parsed
    # doubles are bit-identical to the former lit_doubles literals.
    def _sqdist_sql(col: str, cent: list[float]) -> str:
        arr = (
            "array(" + ",".join(repr(float(v)) + "D" for v in cent) + ")"
        )
        return (
            f"aggregate(zip_with({col}, {arr}, (x, y) ->"
            " (x - y) * (x - y)), 0.0D, (acc, d) -> acc + d)"
        )

    cell_expr = F.expr(
        "array_min(array("
        + ", ".join(
            f"named_struct('d', {_sqdist_sql('v', c)}, 'c',"
            f" CAST({j} AS INT))"
            for j, c in enumerate(cents_list)
        )
        + ")).c"
    )
    cells = corpus.withColumn("cell_id", cell_expr)

    spark = emb.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents_list)],
        "cell_id int, centroid array<double>",
    )
    qs = _prep(queries, id_col, vec_col).select(
        F.col("id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    # rank cells per query by centroid cosine, keep the nprobe nearest
    qc = (
        qs.crossJoin(F.broadcast(centroids))
        .withColumn(
            "cent_cos",
            _dot("qv", "centroid") / (F.col("qnrm") * norm(F.col("centroid"))),
        )
        .withColumn(
            "cell_rank",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("cent_cos"), F.asc("cell_id"))
            ),
        )
        .filter(F.col("cell_rank") <= nprobe)
        .select("qid", "qv", "qnrm", "cell_id")
    )
    cand = F.broadcast(qc).join(cells, "cell_id").filter(F.col("qid") != F.col("id"))
    scored = cand.select(
        "qid",
        "id",
        "cell_id",
        (_dot("qv", "v") / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("id").alias("neighbor_id"),
            "cell_id",
        )
    )


def random_project(
    emb: DataFrame,
    out_dim: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    first_plane: int = 1000,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: component k of the output
    is the dot product with deterministic pseudo-random plane
    ``first_plane + k`` (same md5-derived family as the LSH planes, a
    disjoint slice by default). Distances are preserved within the JL
    epsilon for out_dim = O(log n / eps^2), so downstream ANN / dedup
    runs on dim/out_dim-times smaller vectors.

    Scale: expression-only (literal plane arrays, sequential folds) —
    scan-local projection with zero shuffle and no Python in the path;
    the oracle replays each fold bit-for-bit from the same plane
    literals. Returns (id, proj array<double>)."""
    corpus = emb.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    comps = [
        _dot("v", lit_doubles(_plane(first_plane + k, dim)))
        for k in range(out_dim)
    ]
    return corpus.select("id", F.array(*comps).alias("proj"))


#: PQ defaults: M sub-quantizers over dim/M-dim slices, ksub codes each —
#: an 8-byte code per 64-dim float32 vector (32x compression)
PQ_M = 8
PQ_KSUB = 16


def train_pq_codebooks(train, dim: int, m: int = PQ_M, ksub: int = PQ_KSUB, seed: int = 42):
    """Per-subspace seeded Lloyd's (shared ``train_centroids`` kernel, one
    independent seed per subspace) over a float64 training matrix, after
    L2-normalizing each training row IN NUMPY (so the Spark query and the
    DuckDB oracle builder — which both call this on the same raw sample —
    hold bitwise-identical codebooks regardless of either engine's fold
    order). PQ ranks by squared L2 on the normalized sphere, where the
    ordering is exactly cosine's: ||a-b||^2 = 2 - 2*cos(a,b)."""
    import numpy as np

    dsub = dim // m
    if dsub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    norms = np.sqrt((train * train).sum(axis=1, keepdims=True))
    norms[norms == 0] = 1.0
    train = train / norms
    return [
        train_centroids(train[:, j * dsub : (j + 1) * dsub], ksub, seed + j)
        for j in range(m)
    ]


def pq_codebooks_from_parquet(
    path: str,
    dim: int,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    seed: int = 42,
    cap: int = IVF_TRAIN_CAP,
    sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spark-free codebook derivation straight from the parquet file —
    used by the DuckDB oracle builder to emit the same codebooks the
    Spark query trains at runtime (mirrors ``ivf_centroids_from_parquet``)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[id_col, vec_col]).to_pandas()
    t = t.rename(columns={vec_col: "v"})
    if sample_mod > 1:
        t = t[t[id_col].map(lambda i: _md5_mod_keep(i, sample_mod))]
    return train_pq_codebooks(_training_matrix(t, id_col, cap), dim, m, ksub, seed)


def pq_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = IVF_TRAIN_CAP,
    sample_mod: int = 1,
) -> DataFrame:
    """Product-quantization approximate top-k (Jegou et al., TPAMI'11,
    asymmetric distance / ADC): each corpus vector is encoded as ``m``
    small codes (argmin sub-centroid per dim/m-dim slice); queries rank
    candidates by squared L2 distance to the RECONSTRUCTED vector —
    original corpus vectors are never touched after encoding.

    Scale path: the corpus is scanned once to encode, then the search
    works entirely on the code table — m bytes/vector vs 4*dim, a 32x
    shrink at the defaults, which is the difference between an in-memory
    scan and a disk-bound one at 100 TB. The ADC scan is scan-local
    (codebooks are literals, queries broadcast); the only shuffle is the
    per-query top-k window. Compose with ``ivf_cosine_topk``'s cell
    pruning (IVF-PQ) when even a compressed full scan is too much.

    Vectors are L2-normalized before encoding, so squared-L2 ADC ranking
    IS cosine ranking (||a-b||^2 = 2 - 2*cos on the unit sphere).
    Encoding and scoring are pure Column expressions (literal codebook
    arrays, element_at reconstruction, sequential-fold squared distances,
    left-associated subspace sum) so every float is bit-reproducible by
    the DuckDB oracle. Training mirrors IVF: driver-side seeded numpy on
    a bounded, deterministically hash-gated sample — no Spark-side sort.
    Returns (query_id, rank, neighbor_id); rank ascending ADC distance,
    ties broken by neighbor id (identical codes reconstruct identically)."""
    dsub = dim // m
    if dsub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    corpus = _prep(emb, id_col, vec_col).withColumn(
        "v", F.expr("transform(v, x -> x / nrm)")
    )

    # raw sample collected BEFORE Spark-side normalization: the codebook
    # trainer normalizes in numpy so the oracle builder (numpy on the
    # same parquet rows) derives bit-identical codebooks
    train_df = _prep(emb, id_col, vec_col).select("id", "v")
    if sample_mod > 1:
        train_df = train_df.filter(
            hash28(F.col("id").cast("string")) % sample_mod == 0
        )
    train = _training_matrix(train_df.toPandas(), "id", train_cap)
    books = train_pq_codebooks(train, dim, m, ksub, seed)
    # ONE parsed SQL expression per subspace (r13, the lsh_bucket
    # rationale): the Column-API encode/ADC loops paid ~m×20 Py4J
    # round-trips of pure driver time per invocation; repr(float)
    # round-trips, so the parsed codebook doubles are bit-identical to
    # the former lit_double_matrix literals.
    book_sql = [
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(v)) + "D" for v in row) + ")"
            for row in b
        )
        + ")"
        for b in books
    ]

    def _sub_sqdist_sql(slice_sql: str, cent_sql: str) -> str:
        return (
            f"aggregate(zip_with({slice_sql}, {cent_sql}, (x, y) ->"
            " (x - y) * (x - y)), 0.0D, (acc, d) -> acc + d)"
        )

    # encode: per-subspace argmin over the literal codebook — expression-
    # only, one narrow scan, no Python in the path. One transform lambda
    # per subspace (not ksub unrolled branches) keeps the Catalyst tree
    # small; array_position of the min picks the LOWEST code on exact
    # ties, matching the oracle's ORDER BY dist ASC, code ASC
    code_cols = []
    for j in range(m):
        dists = (
            f"transform({book_sql[j]}, c -> "
            + _sub_sqdist_sql(f"slice(v, {j * dsub + 1}, {dsub})", "c")
            + ")"
        )
        code_cols.append(
            F.expr(
                f"CAST(array_position({dists}, array_min({dists})) - 1"
                " AS INT)"
            ).alias(f"code{j}")
        )
    codes = corpus.select("id", *code_cols)

    qs = (
        _prep(queries, id_col, vec_col)
        .withColumn("v", F.expr("transform(v, x -> x / nrm)"))
        .select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    )
    # ADC by reconstruction: left-associated sum of per-subspace folds so
    # the SQL oracle's textual d0 + d1 + ... matches bit-for-bit
    adc = F.expr(
        " + ".join(
            _sub_sqdist_sql(
                f"slice(qv, {j * dsub + 1}, {dsub})",
                f"element_at({book_sql[j]}, code{j} + 1)",
            )
            for j in range(m)
        )
    )
    scored = (
        F.broadcast(qs)
        .crossJoin(codes)
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "id", adc.alias("adc"))
    )
    w = W.partitionBy("qid").orderBy(F.asc("adc"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("id").alias("neighbor_id"),
        )
    )


def lsh_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = LSH_PLANES,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine rank within candidates. Returns
    (query_id, rank, neighbor_id, bucket)."""
    corpus = _prep(emb, id_col, vec_col).withColumn(
        "bucket", lsh_bucket("v", dim, n_planes)
    )
    qs = (
        _prep(queries, id_col, vec_col)
        .withColumn("bucket", lsh_bucket("v", dim, n_planes))
        .select(
            F.col("id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            "bucket",
        )
    )
    cand = F.broadcast(qs).join(corpus, "bucket").filter(F.col("qid") != F.col("id"))
    scored = cand.select(
        "qid",
        "id",
        "bucket",
        (_dot("qv", "v") / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("id").alias("neighbor_id"),
            "bucket",
        )
    )


def lsh_probe_buckets(
    vec: Column,
    dim: int,
    n_planes: int = LSH_PLANES,
    n_probes: int = 1,
    first_plane: int = 0,
) -> Column:
    """Multi-probe LSH probe set (Lv et al., VLDB'07, simplified to
    single-bit perturbations): the base sign-bit bucket plus the
    ``n_probes - 1`` buckets obtained by flipping the LOWEST-|projection|
    bits — the planes the vector sits closest to, hence the buckets its
    true neighbors most likely fell into. Lifts recall at a fixed plane
    count without more hash tables: with r more planes and 2^r probes the
    candidate budget matches a single-probe table of the shorter code,
    but the probes are *chosen* rather than hash-random.

    Expression-only (literal planes, sequential folds, array_sort over
    (margin, bit) structs) so the SQL oracle replicates the probe set
    bit-for-bit. Returns an array<int> of distinct bucket ids, base
    first.

    Pass the column NAME for the one-parsed-expression fast path (the
    lsh_bucket rationale)."""
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError(f"n_probes must be in [1, {n_planes + 1}]")
    if isinstance(vec, str):
        base = _bucket_sql(vec, dim, n_planes, first_plane)
        if n_probes == 1:
            return F.expr(f"array({base})")
        structs = ", ".join(
            f"named_struct('m', abs({_proj_sql(vec, j, dim)}),"
            f" 'w', {2 ** i})"
            for i, j in enumerate(
                range(first_plane, first_plane + n_planes)
            )
        )
        ranked = f"array_sort(array({structs}))"
        probes = ", ".join(
            f"({base} ^ {ranked}[{i}].w)" for i in range(n_probes - 1)
        )
        return F.expr(f"array({base}, {probes})")
    projs = []
    for j in range(first_plane, first_plane + n_planes):
        plane = lit_doubles(_plane(j, dim))
        projs.append(
            F.aggregate(
                F.zip_with(vec, plane, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    base = F.lit(0)
    for i, p in enumerate(projs):
        base = base + F.when(p > 0, F.lit(2**i)).otherwise(F.lit(0))
    if n_probes == 1:
        return F.array(base)
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(p).alias("m"), F.lit(2**i).alias("w"))
                for i, p in enumerate(projs)
            ]
        )
    )
    return F.array(
        base, *[base.bitwiseXOR(ranked[i]["w"]) for i in range(n_probes - 1)]
    )


def lsh_cosine_topk_multiprobe(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = LSH_PLANES,
    n_probes: int = 3,
) -> DataFrame:
    """Approximate top-k with multi-probe bucket lookup: candidates come
    from the query's base bucket PLUS its lowest-margin bit-flip
    neighbors, then exact cosine ranks within candidates.

    Scale: the corpus is bucketed once (same layout as single-probe);
    each query fans out to ``n_probes`` bucket keys before the equi-join,
    so candidate volume is ~n_probes/2^n_planes of the corpus per query —
    still sublinear, with recall tunable at query time and no rebuild.
    Returns (query_id, rank, neighbor_id, bucket)."""
    corpus = _prep(emb, id_col, vec_col).withColumn(
        "bucket", lsh_bucket("v", dim, n_planes)
    )
    qs = (
        _prep(queries, id_col, vec_col)
        .withColumn(
            "probes",
            lsh_probe_buckets("v", dim, n_planes, n_probes),
        )
        .select(
            F.col("id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.explode("probes").alias("bucket"),
        )
    )
    cand = F.broadcast(qs).join(corpus, "bucket").filter(F.col("qid") != F.col("id"))
    scored = cand.select(
        "qid",
        "id",
        "bucket",
        (_dot("qv", "v") / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("id").alias("neighbor_id"),
            "bucket",
        )
    )


def kcenter_oversample(
    emb: DataFrame,
    k: int,
    rounds: int = 3,
    oversample: float = 4.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """k-center coreset selection for HUGE k — the parallel-oversampling
    path ``sim_kcenter_diversity``'s docstring documents as the scale
    alternative to the k-round greedy driver loop (k-means||-style,
    Bahmani et al. VLDB'12, deterministic hard-selection variant).

    Instead of one distributed argmax per center (k jobs: untenable for
    k in the thousands), run only ``rounds`` passes; each pass takes the
    ``oversample*k`` points FARTHEST from the current candidate set in
    ONE TakeOrdered job, growing a candidate pool of O(k·rounds·
    oversample) << n. A driver-local Gonzalez greedy sweep over the pool
    then refines down to exactly k centers (pool is thousands of rows —
    microseconds). Every step is deterministic: seed = min id, farthest
    batches tie-break on ascending id, so results are reproducible
    run-to-run (no RNG).

    Scale (100 TB): per pass, distances to the candidate pool compute in
    an Arrow-batched pandas UDF against a BROADCAST [pool, dim] float64
    matrix via the |x-c|2 = |x|2 - 2x.C^T + |c|2 expansion (one GEMM per
    batch, never a batch x pool x dim intermediate); shuffle traffic is
    one TakeOrdered reduce of l rows per pass. Driver memory is the pool
    matrix (k*rounds*oversample*dim doubles — 4k centers, dim 1024, x4
    oversample, 3 rounds = ~400 MB worst case; tune rounds/oversample
    down or subsample the pool for bigger k).

    Returns EXACTLY k selected ids whenever the dataset has >= k points
    (extra oversample passes / deterministic padding guarantee it —
    ADVICE r6); a dataset with n < k points returns all n ids.
    Selection order: Gonzalez order."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType

    v = _prep(emb, id_col, vec_col).select("id", "v")
    sc = v.sparkSession.sparkContext
    l = max(1, int(math.ceil(oversample * k)))

    seed_row = v.orderBy("id").limit(1).collect()[0]
    pool_ids = [int(seed_row["id"])]
    pool_vecs = [np.asarray(seed_row["v"], dtype=np.float64)]

    # ADVICE r6 contract fix: the docstring promises EXACTLY k ids when
    # the dataset has >= k points — so past the requested rounds, keep
    # oversampling while the pool is short AND still growing; a stalled
    # pool (every remaining point duplicates a pool vector, d = 0) pads
    # from the unseen ids directly. Only an n < k dataset returns < k.
    passes = 0
    while True:
        mat = np.stack(pool_vecs)
        cnorms = (mat * mat).sum(axis=1)
        bmat = sc.broadcast((mat, cnorms))

        # no type hints: the module's `from __future__ import annotations`
        # stringifies them, which pandas_udf's inference rejects
        @F.pandas_udf(DoubleType())
        def _mind(vs):
            M, cn = bmat.value
            X = np.stack(vs.to_numpy()).astype(np.float64)
            d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ M.T) + cn[None, :]
            # clamp the GEMM expansion's tiny negative residues at 0
            return pd.Series(np.maximum(d.min(axis=1), 0.0))

        top = (
            v.select("id", "v", _mind("v").alias("d"))
            .orderBy(F.desc("d"), F.asc("id"))
            .limit(l)
            .collect()
        )
        # each pass's broadcast pool matrix is superseded by the next —
        # release executor+driver copies eagerly (ADVICE r6; at dim 1024
        # and k in the thousands these are hundreds of MB per pass)
        bmat.destroy()
        seen = set(pool_ids)
        grew = False
        for r in top:
            if int(r["id"]) not in seen:
                pool_ids.append(int(r["id"]))
                pool_vecs.append(np.asarray(r["v"], dtype=np.float64))
                grew = True
        passes += 1
        if passes >= rounds and (len(pool_ids) >= k or not grew):
            break

    if len(pool_ids) < k:
        # pool stalled short of k: remaining points are exact duplicates
        # of pool vectors — pad deterministically (ascending id) so the
        # exactly-k contract holds whenever the dataset has >= k points
        pad = (
            v.filter(~F.col("id").isin(pool_ids))
            .orderBy("id")
            .limit(k - len(pool_ids))
            .collect()
        )
        for r in pad:
            pool_ids.append(int(r["id"]))
            pool_vecs.append(np.asarray(r["v"], dtype=np.float64))

    # driver-local Gonzalez refine over the pool (sorted by id so that
    # np.argmax's first-max rule == smaller-id tie-break)
    order = np.argsort(np.asarray(pool_ids, dtype=np.int64))
    ids = np.asarray(pool_ids, dtype=np.int64)[order]
    X = np.stack(pool_vecs)[order]
    sel = [int(np.argmin(ids))]  # global min id seeds (pool always has it)
    mind = ((X - X[sel[0]]) ** 2).sum(axis=1)
    while len(sel) < min(k, len(ids)):
        # mask already-selected indices: with duplicate points mind goes
        # 0 everywhere and a plain argmax would re-pick index 0 forever,
        # returning DUPLICATE ids (r7 fix; surfaced by the exactly-k test)
        cand = mind.copy()
        cand[np.asarray(sel)] = -np.inf
        nxt = int(np.argmax(cand))
        sel.append(nxt)
        mind = np.minimum(mind, ((X - X[nxt]) ** 2).sum(axis=1))
    return [int(ids[i]) for i in sel]
