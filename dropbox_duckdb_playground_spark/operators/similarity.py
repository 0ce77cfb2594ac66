"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the LSH
(random-hyperplane) bucketed variant is the scale path: at 100 TB the
cross join is infeasible, but hyperplane-bucketed candidates cut the
candidate space by ~2^planes while the final exact re-rank keeps
precision. All arithmetic stays in Column expressions (codegen) —
no Python UDF.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.materialize import materialize

from dropbox_duckdb_playground_spark.operators.dedup import _hex60


def _concurrent_writes(*thunks) -> None:
    """Submit independent staging writes from threads so Spark's
    scheduler runs them as parallel jobs — the codebook/centroid side
    is driver-literal data, so it never contends with the corpus scan.
    Measured r11 (tools/decompose_q62q107.py, interleaved median-of-3):
    q62 2.19s -> 2.09s at sf0.1, 2.52s -> 2.13s at sf1, with the
    explicit-schema read-back below.

    Threads are ``pyspark.InheritableThread`` so the parent's Spark
    local properties (job group/tags, scheduler pool) propagate to the
    jobs these threads submit — plain ``threading.Thread`` would detach
    the staging writes from any future cancellation or pool scoping
    (r11 ADVICE). All failures propagate after join: the error of the
    first failing thunk in argument order (not in finishing order, which
    varies run to run) is raised with the rest attached as
    ``__notes__``-style context."""
    from pyspark import InheritableThread

    outcome: list[BaseException | None] = [None] * len(thunks)

    def run(i, t):
        try:
            t()
        except BaseException as e:
            outcome[i] = e

    threads = [
        InheritableThread(target=run, args=(i, t)) for i, t in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    errs = [e for e in outcome if e is not None]
    if errs:
        first = errs[0]
        for extra in errs[1:]:
            # surface every failure, not just the first (r11 ADVICE):
            # PEP-678 notes render in the traceback on 3.11+; on older
            # interpreters append to args so the extra failures still
            # land in the rendered message instead of being dropped
            # (r12 ADVICE — the 'all failures propagate' contract must
            # hold on every supported interpreter, not just 3.11+).
            note = f"additional concurrent-write failure: {extra!r}"
            if hasattr(first, "add_note"):
                first.add_note(note)
            else:  # pragma: no cover — Python < 3.11 only
                first.args = first.args + (note,)
        raise first


def _dot(a: Column, b: Column) -> Column:
    """Float64 dot product via the sequential HOF fold — the same
    accumulation order as DuckDB's ``list_aggregate('sum')``, so values
    are bit-identical across engines.

    Measured note (round 6): unrolling this into ``dim`` flat
    element_at terms looked like a codegen win but LOST in both
    regimes — whole-stage codegen pays ~1.6s of janino compilation per
    fresh plan for the giant generated function (the codegen cache
    misses on every rebuilt plan), while the fold's per-pair cost is
    modest once norms are hoisted out of the pair loop (see
    ``cosine_topk``). q91 at sf1: 77s with per-pair norms -> 15s
    unrolled -> 2.2s with the fold + hoisted norms."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector makes the denominator exactly 0 —
    # DuckDB's x/0 is NULL, and a bare `/` THROWS under an ANSI-on
    # session (the driver's mode, even for doubles in Spark 4). NULL
    # cosine for a zero vector is also the right semantics.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (brute force).

    Output: (query_id, cand_id, cosine) with deterministic ordering
    (rounded score desc, cand_id asc). Scale: broadcast the query set;
    the scan over candidates is embarrassingly parallel; per-query top-k
    is a single shuffle on query_id (rank-1..k window).

    Norms are computed ONCE PER ROW on each join side instead of once
    per pair: the |Q| x |C| nested-loop join multiplies every per-pair
    expression by the pair count, and the two per-pair norm folds were
    ~97% of q91's sf1 wall (77s -> 2.2s). Values are bit-identical
    (the per-pair division sees identical operands)."""
    from dropbox_duckdb_playground_spark.operators.relational import fan_out

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("__qn__"),
    )
    c = fan_out(embeddings).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("__cn__"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            F.round(
                # try_divide: zero-norm guard under ANSI (see cosine())
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("__qn__") * F.col("__cn__"),
                ),
                4,
            ),
        )
        .select("query_id", "cand_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def hyperplane_weights(dim: int, planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights: plane p, dim d gets the parity
    bit of md5(f"{p}:{d}") — no stored model, reproducible in any engine."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16) & 1 else -1.0
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def hyperplane_signature(vec: Column, dim: int, planes: int = 8) -> Column:
    """Random-hyperplane LSH signature (int, ``planes`` bits).
    Bit p = 1 iff Σ_d w[p,d]·vec[d] > 0, with deterministic md5-parity
    weights (`hyperplane_weights`). Pure column arithmetic — codegen'd."""
    weights = hyperplane_weights(dim, planes)
    sig = F.lit(0).cast("long")
    for p in range(planes):
        warr = F.array(*[F.lit(w) for w in weights[p]])
        proj = F.aggregate(
            F.zip_with(vec, warr, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(0)
    return sig


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket;
    exact cosine re-rank within the bucket. ~2^planes candidate reduction.

    Output schema matches `cosine_topk` (query_id, cand_id, cosine)."""
    from dropbox_duckdb_playground_spark.operators.relational import fan_out

    sig = hyperplane_signature(F.col(vec_col), dim, planes)
    embeddings = fan_out(embeddings)
    c = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"), sig.alias("bucket"),
        _norm(F.col(vec_col)).alias("__cn__"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), sig.alias("bucket"),
        _norm(F.col(vec_col)).alias("__qn__"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            F.round(
                # try_divide: zero-norm guard under ANSI (see cosine())
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("__qn__") * F.col("__cn__"),
                ),
                4,
            ),
        )
        .select("query_id", "cand_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family): distinct
    (a_id, b_id, cosine) with a_id < b_id and cosine ≥ threshold,
    candidates restricted to same LSH hyperplane bucket.

    Near-identical vectors agree on every hyperplane with probability
    ~(1 - θ/π)^planes, so a high threshold keeps recall high while the
    bucket equi-join replaces the O(n²) cross join — the same
    bucket-join shape as MinHash-LSH text dedup (SURVEY-beyond: LLM
    training-data dedup). Deterministic hyperplanes (md5 parity), so an
    external oracle can replicate the exact candidate set."""
    from dropbox_duckdb_playground_spark.operators.relational import fan_out

    sig = hyperplane_signature(F.col(vec_col), dim, planes)
    # The signature+norm table is MATERIALIZED before the self-join:
    # the former "identical sides share one exchange (ReusedExchange)"
    # rationale is false at runtime (r8: final adaptive plans showed 0
    # reuse and 4 embedding scans — join-pushed predicates specialize
    # each side, the failure mode measured on bm25/simhash/minhash).
    # The barrier also guarantees the per-row norm is computed once per
    # vector, not once per side. SMJ (not shuffle-hash) spills on skew.
    from dropbox_duckdb_playground_spark.materialize import materialize

    c = materialize(
        fan_out(embeddings).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
            sig.alias("bucket"), _norm(F.col(vec_col)).alias("nrm"),
        )
    )
    l, r = c.alias("l"), c.hint("merge").alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("a_id"),
            F.col("r.id").alias("b_id"),
            F.round(
                # try_divide: zero-norm guard under ANSI (see cosine())
                F.try_divide(
                    _dot(F.col("l.vec"), F.col("r.vec")),
                    F.col("l.nrm") * F.col("r.nrm"),
                ),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ivf_assign(
    embeddings: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_vecs: int | None = None,
    stage_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train a spherical k-means coarse quantizer and assign every vector
    to its nearest centroid. Returns ``(assigned, centroids)`` where
    ``assigned`` is (cand_id, c_vec, list_id) and ``centroids`` is
    (list_id, centroid).

    The quantizer is trained DRIVER-SIDE on a bounded seeded sample
    (max(nlist*256, 2048) rows — the FAISS practice: a coarse quantizer
    needs a few hundred points per centroid, never the corpus), so
    training costs milliseconds and is independent of corpus size; the
    corpus is only touched by ONE Arrow-vectorized assignment pass
    (numpy matmul per batch).

    The k-means itself is not SQL-expressible, but everything downstream
    IS: pass ``stage_dir`` to stage the assignment and centroid table as
    parquet so an external oracle (DuckDB) can replay it. Training reads
    ``limit(train_cap)`` — an early-stopping scan, NOT a full-corpus
    count; pass ``n_vecs`` (corpus size hint) to switch to an unbiased
    seeded fraction sample when the input's physical order is correlated
    with cluster structure."""
    import numpy as np

    # natural scan partitioning for the assignment pass: at fact scale
    # the parquet scan splits on row groups into plenty of tasks, and on
    # a small corpus a forced 32-way fan-out only multiplies Python
    # worker startup + output files (measured ~2s of pure overhead on a
    # 2k-row staging write)
    vecs = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )

    # -- train: bounded sample -> driver numpy spherical k-means --------
    raw = embeddings.select(F.col(vec_col).alias("c_vec"))
    train_cap = max(nlist * 256, 2048)
    if n_vecs is not None and n_vecs > train_cap:
        sample = raw.sample(fraction=min(1.0, train_cap / n_vecs), seed=seed)
    else:
        sample = raw.limit(train_cap)
    X = np.asarray(sample.toPandas()["c_vec"].tolist(), dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)]
    for _ in range(10):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)

    # -- assign: one Arrow-vectorized pass over the corpus --------------
    spark = embeddings.sparkSession
    # fresh StructType — StructType.add would MUTATE vecs' cached schema
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(vecs.schema.fields) + [StructField("list_id", IntegerType())]
    )
    Ct = C.T.copy()

    def assign_lists(batches):
        for pdf in batches:
            M = np.asarray(pdf["c_vec"].tolist(), dtype=np.float64)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            yield pdf.assign(list_id=(M @ Ct).argmax(axis=1).astype("int32"))

    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "list_id int, centroid array<double>",
    )
    if stage_dir is not None:
        # Parquet staging doubles as the oracle handshake: DuckDB can
        # replay probe + re-rank over exactly these files. The two
        # writes are independent jobs — submit them concurrently, and
        # read back with the known schema (skips the footer-inference
        # job): measured 2.52s -> 2.13s on q62 at sf1 (r11,
        # tools/decompose_q62q107.py).
        a_path = os.path.join(stage_dir, "assigned")
        _concurrent_writes(
            lambda: vecs.mapInPandas(assign_lists, schema=out_schema)
            .write.mode("overwrite")
            .parquet(a_path),
            lambda: cent_df.write.mode("overwrite").parquet(
                os.path.join(stage_dir, "centroids")
            ),
        )
        assigned = spark.read.schema(out_schema).parquet(a_path)
    else:
        assigned = materialize(vecs.mapInPandas(assign_lists, schema=out_schema))
    return assigned, cent_df


def ivf_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_vecs: int | None = None,
    stage_dir: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: spherical k-means coarse quantizer
    (``ivf_assign``) -> per-centroid posting lists -> probe the
    ``nprobe`` nearest lists per query -> exact cosine re-rank inside
    the probed lists. The scale path when LSH recall is insufficient.
    Output schema matches `cosine_topk` (query_id, cand_id, cosine)."""
    assigned, cent_df = ivf_assign(
        embeddings,
        nlist=nlist,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        n_vecs=n_vecs,
        stage_dir=stage_dir,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # nearest nprobe centroids per query (centroid table is tiny: nlist rows)
    probed = (
        q.join(F.broadcast(cent_df))
        .withColumn("cdist", cosine(F.col("q_vec"), F.col("centroid")))
        .withColumn(
            "__rn__",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cdist"), F.asc("list_id"))
            ),
        )
        .filter(F.col("__rn__") <= nprobe)
        .select("query_id", "q_vec", "list_id")
    )
    scored = (
        assigned.join(F.broadcast(probed), "list_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 4))
        .select("query_id", "cand_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.3,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_vecs: int | None = None,
    stage_dir: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with a coarse k-means
    quantizer (``ivf_assign``), then WITHIN each cluster drop every
    vector that has a lower-id neighbor with cosine >= threshold — the
    deterministic min-id representative rule. The pairwise comparison
    never crosses cluster boundaries, so the cost is sum(|cluster|**2)/2
    instead of |corpus|**2/2; at 100 TB nlist scales with corpus size
    (FAISS practice ~sqrt(N)) keeping clusters bounded, and the
    intra-cluster scoring shuffles only on list_id.

    The per-cluster pairwise pass runs as ONE Arrow ``applyInPandas``
    stage (a blocked float64 matmul per cluster) instead of a self-join:
    a Catalyst self-join pays three interpreted higher-order-function
    array traversals per pair (dot + 2 norms), which profiled ~8x slower
    than the vectorized matmul on the same data; memory per task is
    bounded by ``block`` x |cluster| doubles.

    Cross-engine decision-bit parity: cosine is computed in the SAME
    algebraic form the SQL oracle uses — raw dot divided by the product
    of norms (NOT normalize-then-dot, whose per-element rounding
    differs) — and both engines compare against the SAME binary64 cut:
    the HALF_UP preimage ``t - 0.00005`` is computed once in Python
    IEEE arithmetic and its exact repr() is injected into the oracle
    SQL (a literal ``0.3 - 0.00005`` would evaluate in DuckDB's exact
    DECIMAL, a 1-ULP different value). The one remaining degree of freedom is
    float-sum ORDER (BLAS blocked/FMA vs DuckDB's sequential list
    fold), a ~1-ULP (<1e-14) drift on 64-term sums; a pair flips only
    if its true cosine lies within that distance of the threshold.
    Thresholds are chosen at coarse values (0.3) where the corpus has
    no cosine within 1e-6 of the cut, and the staged-parquet handshake
    pins the vectors, so the bit is stable in practice; if you run this
    against adversarial near-threshold data, widen the margin or accept
    count-level (not hash-level) comparison.

    Output: (vec_id, list_id, survived) with survived in {0,1}. Pass
    ``stage_dir`` to stage the quantizer output so an external oracle
    can replay the (SQL-expressible) dedup decision."""
    import numpy as np
    import pandas as pd

    assigned, _ = ivf_assign(
        embeddings,
        nlist=nlist,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        n_vecs=n_vecs,
        stage_dir=stage_dir,
    )
    # round(cos, 4) >= t  <=>  cos >= t - 5e-5 under HALF_UP rounding
    cut = threshold - 0.00005

    def dedupe_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id", kind="mergesort").reset_index(drop=True)
        X = np.asarray(pdf["c_vec"].tolist(), dtype=np.float64)
        # dot / (|a| * |b|) — the SQL oracle's algebraic form; do NOT
        # pre-normalize (per-element rounding would diverge from it)
        norms = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
        n = len(X)
        dead = np.zeros(n, dtype=bool)
        block = 1024  # bounds task memory: block x n doubles per matmul
        for s in range(1, n, block):
            e = min(s + block, n)
            S = (X[s:e] @ X.T) / (norms[s:e, None] * norms[None, :])
            lower = np.arange(n)[None, :] < np.arange(s, e)[:, None]
            dead[s:e] = ((S >= cut) & lower).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["cand_id"],
                "list_id": pdf["list_id"],
                "survived": (~dead).astype("int32"),
            }
        )

    return assigned.groupBy("list_id").applyInPandas(
        dedupe_cluster, schema=f"vec_id {assigned.schema['cand_id'].dataType.simpleString()}, list_id int, survived int"
    ).select(F.col("vec_id").alias(id_col), "list_id", "survived")


def pq_assign(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    stage_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization encoder (Jégou et al. TPAMI 2011): split each
    vector into ``m`` subspaces of dim/m dims, k-means each subspace to
    ``ksub`` centroids, store per-vector code words. Returns
    ``(codes, codebook)`` with codes = (cand_id, sub, code) long-form and
    codebook = (sub, code, centroid array<double>).

    Like ``ivf_assign``: codebooks train DRIVER-SIDE on a bounded
    sample, the corpus pays exactly ONE Arrow-vectorized encoding pass,
    and ``stage_dir`` stages both tables as parquet so a SQL oracle can
    replay everything downstream of the trained model. The training
    sample is FULLY deterministic: rows are taken in id-hash order
    (``TakeOrderedAndProject`` — per-partition top-k then driver merge,
    no shuffle, bounded memory), so the same corpus yields the same
    codebook under ANY partitioning/file order, matching the seeded
    centroid init. This costs one ranked scan instead of ``limit``'s
    early-stop prefix read; PQ already pays a full encoding scan, so
    training adds at most a comparable scan, and at 100 TB you'd train
    once and reuse the staged codebook anyway. At 100 TB the codes
    table is m bytes-ish per vector (vs 4*dim for floats) — the point
    of PQ is that THIS is what you keep hot for ANN scoring."""
    import numpy as np

    assert dim % m == 0
    dsub = dim // m

    # natural scan partitioning — same reasoning as ivf_assign: row-group
    # splits parallelize the big case, a forced fan-out only taxes the
    # small one with Python-worker startup and tiny staged files
    vecs = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    raw = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    train_cap = max(ksub * 256, 2048)
    samp = raw.orderBy(
        F.xxhash64(F.col("cand_id").cast("string")), "cand_id"
    ).limit(train_cap)
    # driver-side re-sort by id: the hash order selects WHICH rows, the
    # id order fixes HOW the rng-seeded init sees them — both
    # partition-independent, so the codebook is a pure function of
    # (corpus, seed)
    spdf = samp.toPandas().sort_values("cand_id", kind="mergesort")
    X = np.asarray(spdf["c_vec"].tolist(), dtype=np.float64)
    rng = np.random.RandomState(seed)
    books = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        C = Xs[rng.choice(len(Xs), size=min(ksub, len(Xs)), replace=False)].copy()
        for _ in range(10):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(len(C)):
                members = Xs[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books.append(C)
    B = np.stack(books)  # (m, ksub, dsub)

    spark = embeddings.sparkSession
    id_type = vecs.schema["cand_id"].dataType.simpleString()

    def encode(batches):
        for pdf in batches:
            Mx = np.asarray(pdf["c_vec"].tolist(), dtype=np.float64)
            out = {"cand_id": pdf["cand_id"]}
            for s in range(m):
                Xs = Mx[:, s * dsub : (s + 1) * dsub]
                d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                out[f"c{s}"] = d2.argmin(axis=1).astype("int32")
            yield type(pdf)(out)

    wide_schema = f"cand_id {id_type}, " + ", ".join(f"c{s} int" for s in range(m))
    wide = vecs.mapInPandas(encode, schema=wide_schema)
    codes = wide.select(
        "cand_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("sub"), F.col(f"c{s}").alias("code"))
                for s in range(m)
            ])
        ).alias("e"),
    ).select("cand_id", "e.sub", "e.code")
    # B.shape[1] = actual trained centroid count, which is < ksub when
    # the training sample had fewer rows than ksub — iterate the real
    # shape so a tiny corpus degrades gracefully instead of IndexError
    codebook = spark.createDataFrame(
        [
            (s, c, [float(x) for x in B[s, c]])
            for s in range(m)
            for c in range(B.shape[1])
        ],
        "sub int, code int, centroid array<double>",
    )
    if stage_dir is not None:
        # same staging shape as ivf_assign: concurrent independent
        # writes + explicit-schema read-back (r11 probe)
        c_path = os.path.join(stage_dir, "codes")
        codes_schema = codes.schema
        _concurrent_writes(
            lambda: codes.write.mode("overwrite").parquet(c_path),
            lambda: codebook.write.mode("overwrite").parquet(
                os.path.join(stage_dir, "book")
            ),
        )
        codes = spark.read.schema(codes_schema).parquet(c_path)
    else:
        codes = materialize(codes)
    return codes, codebook


def pq_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    stage_dir: str | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ ANN: per query, precompute the (m x ksub)
    lookup table of subvector dot products against the codebook, then
    score every candidate by summing its m LUT entries — the candidate
    side never touches a float vector, only its codes.

    Engine-stable scoring: each LUT dot is rounded to integer
    MICRO-units (round(dot*1e6)) before the per-candidate sum, so the
    m-way addition is exact integer math — no float-sum order
    dependence between engines. Output (query_id, cand_id, score) with
    score = micro-sum/1e6, top-k per query by (score DESC, cand_id ASC).

    Scale: LUT is |queries| x m x ksub rows (tiny, broadcast); the
    codes table joins it on (sub, code) — corpus-sized but narrow — and
    the per-candidate sum is a map-side-combinable groupBy on
    (query_id, cand_id). One corpus pass, one shuffle."""
    codes, codebook = pq_assign(
        embeddings,
        m=m,
        ksub=ksub,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        stage_dir=stage_dir,
    )
    dsub = dim // m
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # LUT: (query_id, sub, code, micro) — micro = round(1e6 * dot(q_sub, centroid))
    qsub = q.select(
        "query_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("q_vec", s * dsub + 1, dsub).alias("qs"),
                )
                for s in range(m)
            ])
        ).alias("e"),
    ).select("query_id", "e.sub", "e.qs")
    lut = qsub.join(F.broadcast(codebook), "sub").select(
        "query_id",
        "sub",
        "code",
        F.round(_dot(F.col("qs"), F.col("centroid")) * 1e6)
        .cast("long")
        .alias("micro"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "cand_id")
        .agg((F.sum("micro") / F.lit(1e6)).alias("score"))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "cand_id", "score")
    )
