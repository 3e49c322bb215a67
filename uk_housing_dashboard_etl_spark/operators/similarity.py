"""Embedding similarity search over an ``array<float>`` column.

- ``brute_force_topk``   : exact cosine top-k — the correctness baseline.
  Queries broadcast against the corpus; dot products run JVM-side via
  ``zip_with``/``aggregate`` (sequential left-fold in double, so results
  are bit-deterministic across engines and partitionings).
- ``embedding_near_dup`` : all-pairs cosine ≥ τ (dedup by embedding).
- ``lsh_bucketed_topk``  : the scale path — sign-random-projection LSH
  buckets (deterministic hash-derived hyperplanes), exact rerank only
  within the query's bucket. Corpus side is one narrow (id, bucket,
  embedding) frame; candidate count drops from N to N/2^bits per query.

Scale notes: brute force is O(Q×N) — fine when Q is small or as a
per-bucket rerank; the LSH variant bounds the join fan-out and its
bucket ids are computed in one projection pass (no Python). For very
large Q×N both sides can also be mapInPandas'd into matrix multiplies;
that path is deliberately avoided here because the built-ins already
express the semantics (and numpy's blocked summation would break the
bit-determinism the oracle hash relies on).

Measured dead end (kept so nobody retries it): unrolling the dot as a
static 64-term ``v[0]*q[0] + ...`` chain to escape the interpreted
higher-order ``aggregate`` was 1.9× SLOWER than the fold on the same
190k-pair workload (5.8 s vs 3.0 s, bit-identical results) — under
ANSI mode each subscript carries its own bounds/null check and the
giant expression defeats codegen anyway. The sequential fold is the
right JVM-side shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.functions.rounding import round4

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({a}, x -> x * x), CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + v))"
)


def _as_double(col: str) -> F.Column:
    return F.col(col).cast("array<double>")


def _seq_pairdot(A, B, ti: int = 256, tj: int = 2048):
    """n×m all-pairs dot matrix with the EXACT per-pair operation order
    of the sequential JVM/DuckDB left-fold: for every pair, products
    are added in ascending dimension order, so scores stay bit-identical
    to the ``aggregate(zip_with(...))`` expression and to the oracle.

    Tiled for cache residency (r15, guide §4.2): the naive per-dim
    outer-product loop streams the FULL n×m accumulator (plus a fresh
    n×m temporary) through memory D times — ~200 MB of traffic per
    dimension at a 1250×5000 block, and the per-dim temporaries are
    mmap-sized allocations that thrash the allocator across 32
    concurrent Python workers. Restricting the d-loop to a ti×tj tile
    keeps the accumulator slice and temporary in cache; per-pair op
    order is unchanged (tiling only reorders ACROSS pairs, never within
    one). Measured 5× single-threaded on 1250×5000×64 (5.3 s → 1.05 s,
    ``np.array_equal`` exact), with far better parallel scaling because
    the memory-bandwidth pressure drops with the traffic.
    """
    import numpy as np

    n, m = len(A), len(B)
    acc = np.zeros((n, m))
    if n == 0 or m == 0:
        return acc
    d_count = A.shape[1]
    AF = np.asfortranarray(A)
    BF = np.asfortranarray(B)
    for i0 in range(0, n, ti):
        ai = AF[i0 : i0 + ti]
        for j0 in range(0, m, tj):
            bj = BF[j0 : j0 + tj]
            sub = acc[i0 : i0 + ti, j0 : j0 + tj]
            tmp = np.empty_like(sub)
            for d in range(d_count):
                np.multiply(ai[:, d, None], bj[None, :, d], out=tmp)
                sub += tmp
    return acc


def norm_expr(a: str) -> F.Column:
    """L2 norm of an array<double> column (sequential fold, deterministic)."""
    return F.expr(_NORM.format(a=a))


def cosine_prenorm_expr(a: str, b: str, norm_a: str, norm_b: str) -> F.Column:
    """Cosine with both norms precomputed as scalar columns.

    Evaluates exactly ``dot(a, b) / (norm_a * norm_b)`` with the
    norms taken from :func:`norm_expr` columns, so the O(dim) norm folds
    run once per row on each join side instead of once per PAIR inside
    the join, cutting the interpreted higher-order-function work of a
    Q×N cross join by ~3× (dot only, not dot + two norms)."""
    dot = _DOT.format(a=a, b=b)
    return F.expr(f"({dot}) / ({norm_a} * {norm_b})")


def valid_embeddings(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """The vector family's shared ingest boundary (r14 registry sweep,
    ``embeddings`` axis): every compute operator downstream assumes
    well-formed vectors, and ONE malformed row — NULL, ragged, a
    NaN/±Inf/NULL component, or all-zero — crashed 25 of the family's
    27 pairs (ANSI bigint casts, cosine divide-by-zero, numpy ragged-
    shape kernels). Keep only rows whose vector is

    - non-NULL,
    - the corpus's MODAL dimension (one deterministic length census —
      a cheap lengths-only aggregation; ties break to the smaller
      dimension),
    - all components non-NULL and finite,
    - of positive L2 norm (a zero vector has no direction; every
      cosine-family consumer would divide by it).

    The diagnostics (``embedding_health``, ``embedding_quantile_norm``)
    deliberately do NOT pass through this boundary: they are the
    health-check contract that CHARACTERIZES malformed vectors before
    an index build. Oracle mirror: ``contract._EMB_VALID``'s
    ``embeddings_valid`` CTE, same four predicates.

    Pass ``dim`` to skip the census — callers reading one corpus many
    times (every ANN query reads it at least twice: corpus + query
    vectors) should census once and share the result; the census is an
    eager driver job, and an uncached one per read measurably taxes
    the ANN suite."""
    if dim is None:
        lengths = (
            df.where(F.col(vec_col).isNotNull())
            .groupBy(F.size(F.col(vec_col)).alias("_dim"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.col("_n").desc(), F.col("_dim"))
            .limit(1)
            .collect()
        )
        if not lengths:
            return df.where(F.lit(False))
        dim = lengths[0]["_dim"]
    v = F.col(vec_col)
    inf = F.expr("CAST('Infinity' AS DOUBLE)")
    finite = F.forall(
        v,
        lambda e: e.isNotNull()
        & ~F.isnan(e.cast("double"))
        & (F.abs(e.cast("double")) < inf),
    )
    sq_norm = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, e: acc + e.cast("double") * e.cast("double"),
    )
    return df.where(
        v.isNotNull() & (F.size(v) == F.lit(dim)) & finite & (sq_norm > 0)
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple = (),
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is (query_id, embedding); it is broadcast, so the corpus
    never shuffles. Scores are rounded to 4dp BEFORE ranking with an id
    tie-break, making the cut deterministic.

    ``carry_cols`` names extra corpus columns to carry through the scan
    into the result (e.g. a label for kNN voting) — carrying them beats
    joining them back afterwards, which would re-scan the corpus and add
    a shuffle join over the full top-k frame.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(vec_col).alias("vec"),
        *[F.col(c) for c in carry_cols],
    ).withColumn("nv", norm_expr("vec"))
    qs = queries.select(
        F.col("query_id"), _as_double(vec_col).alias("qvec")
    ).withColumn("nq", norm_expr("qvec"))
    scored = corpus.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        round4(cosine_prenorm_expr("qvec", "vec", "nq", "nv")).alias("score"),
        *carry_cols,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank", *carry_cols)
    )


ARROW_TOPK_MAX_QUERY_MB = 100.0
"""Ceiling on the collected+broadcast Q×D query matrix in arrow_topk."""

BLOCK_SPLIT_MIN_BYTES = 4 * 1024 * 1024
"""Input-size floor for the block-parallel kernel split in
:func:`embedding_near_dup_lsh` / ``ivf.semantic_near_dup``: below ~4 MB
of vectors the per-group kernels run in milliseconds and the split's
extra groups + member replication cost more than they parallelize
(measured +0.2–0.5 s per query at the 2k-vector sf0.1 tier); above it
the quadratic per-group work dominates and sharding wins (sf1 tier,
20k vectors: semantic_dedup 37.5 → and embedding_near_dup_lsh 33.2 →
single-digit seconds on 32 cores — see OPTIMIZATION_r15.md). The
estimate is Catalyst's optimized-plan ``sizeInBytes`` — driver-side
metadata, no job."""


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame — 0 when unavailable (the
    conservative reading: callers fall back to the unsplit plan)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — e.g. Spark Connect: no JVM handle
        return 0


def arrow_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple = (),
) -> DataFrame:
    """Exact cosine top-k, Arrow-vectorized: bit-identical scores to
    :func:`brute_force_topk` at a fraction of the CPU.

    The interpreted ``aggregate(zip_with(...))`` fold costs ~6M
    multiply-adds/sec/core; a Q×N scoring pass burns minutes of CPU that
    numpy does in milliseconds. The catch is determinism: numpy's
    ``dot``/``sum`` use blocked/pairwise summation, which changes the
    floating-point result vs the sequential fold the oracle computes.
    This path keeps bit-parity by accumulating PER DIMENSION in corpus
    order::

        acc = 0; for d in 0..D-1: acc += x[d] * q[d]     (each op IEEE double)

    vectorized over all (row, query) pairs at once — the operation
    sequence per pair is exactly the JVM/DuckDB left-fold, so scores,
    norms, and the 4dp half-up rounding are bit-identical (asserted
    against brute_force_topk in tests/test_extensions.py).

    Physically: the query side (the same side brute_force_topk
    broadcasts) is collected to a Q×D matrix and shipped via a Spark
    broadcast; ``mapInPandas`` scores each corpus partition and emits
    only that partition's local top-k per query (global top-k ⊆ union of
    local top-ks, so this loses nothing), shrinking the final ranking
    window's input from N·Q rows to partitions·Q·k. The corpus never
    shuffles and is scanned once.
    """
    import numpy as np
    import pandas as pd

    # Size-guard the driver collect: the Q×D float64 matrix is broadcast
    # to every executor, so a mis-call with a huge "query" side must fail
    # with a diagnosis, not an OOM. Measured BEFORE toPandas() — the
    # count/head jobs are trivial next to the scoring pass.
    q_rows = queries.count()
    head = queries.select(F.size(_as_double(vec_col)).alias("d")).head(1)
    q_dim = head[0]["d"] if head else 0
    est_mb = q_rows * max(q_dim, 1) * 8 / 1e6
    if est_mb > ARROW_TOPK_MAX_QUERY_MB:
        raise ValueError(
            f"arrow_topk query side is {q_rows} x {q_dim} doubles "
            f"(~{est_mb:.0f} MB) — too large to collect/broadcast "
            f"(limit {ARROW_TOPK_MAX_QUERY_MB:.0f} MB). Split the query "
            f"set into chunks, or use lsh_bucketed_topk / ivf_topk for "
            f"large query workloads."
        )
    qpdf = (
        queries.select(F.col("query_id"), _as_double(vec_col).alias("qvec"))
        .toPandas()
    )
    qids = qpdf["query_id"].to_numpy()
    qmat = np.array(qpdf["qvec"].tolist(), dtype=np.float64)
    nq = np.zeros(len(qids))
    for d in range(qmat.shape[1] if len(qids) else 0):
        nq += qmat[:, d] * qmat[:, d]
    nq = np.sqrt(nq)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, nq))

    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(vec_col).alias("vec"),
        *[F.col(c) for c in carry_cols],
    )
    carry_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in corpus.schema.fields
        if f.name in carry_cols
    )
    qid_type = dict(
        (f.name, f.dataType.simpleString()) for f in queries.schema.fields
    ).get("query_id", "bigint")
    schema = f"query_id {qid_type}, vec_id bigint, score double"
    if carry_schema:
        schema += ", " + carry_schema

    def score_partition(batches):
        qids_, qmat_, nq_ = bc.value
        Q = len(qids_)
        for pdf in batches:
            n = len(pdf)
            if n == 0 or Q == 0:
                continue
            A = np.array(pdf["vec"].tolist(), dtype=np.float64)
            D = A.shape[1]
            nv = np.zeros(n)
            for d in range(D):
                nv += A[:, d] * A[:, d]
            nv = np.sqrt(nv)
            cos = _seq_pairdot(A, qmat_) / (nv[:, None] * nq_[None, :])
            cos = np.floor(cos * 10000.0 + 0.5) / 10000.0
            vec_ids = pdf["vec_id"].to_numpy()
            kk = min(k, n)
            frames = []
            for j in range(Q):
                order = np.lexsort((vec_ids, -cos[:, j]))[:kk]
                frame = {
                    "query_id": np.repeat(qids_[j], kk),
                    "vec_id": vec_ids[order],
                    "score": cos[order, j],
                }
                for c in carry_cols:
                    frame[c] = pdf[c].to_numpy()[order]
                frames.append(pd.DataFrame(frame))
            yield pd.concat(frames, ignore_index=True)

    local = corpus.mapInPandas(score_partition, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank", *carry_cols)
    )


NEAR_DUP_QUADRATIC_MAX_ROWS = 100_000
"""Row-count ceiling for the all-pairs near-dup path. Above this the
join volume passes ~5e9 pairs — a plan that must never ship by accident
on a 100 TB corpus; ``embedding_near_dup_lsh`` is the scale path."""


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_quadratic: bool = False,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding-space near-dup.

    All-pairs is the ORACLE BASELINE: O(N²) pair volume. Guarded — above
    ``NEAR_DUP_QUADRATIC_MAX_ROWS`` input rows it raises unless the
    caller passes ``allow_quadratic=True``, steering production use to
    :func:`embedding_near_dup_lsh` (sign-bucketed candidates, same exact
    cosine filter). The count() that implements the guard is a cheap
    parquet-metadata scan next to the N² compute it prevents.

    Physically this is the :func:`arrow_topk` strategy, not a row-pair
    join: the interpreted ``aggregate(zip_with(...))`` fold over N²/2
    pairs is ~10× slower than Arrow (18.6 s vs <2 s at N=2000, D=64).
    The full (id, vector) matrix — bounded by the guard to ≤ ~50 MB —
    is collected once and broadcast; ``mapInPandas`` scores each corpus
    partition against it in row blocks, accumulating the dot product
    PER DIMENSION in broadcast order so every score is bit-identical to
    the sequential JVM/DuckDB left-fold (same trick, same parity
    argument as arrow_topk; hash-matched against the DuckDB oracle by
    tools/selfcheck.py). Each unordered pair is emitted exactly once:
    partition row i pairs with broadcast row j only where id_i < id_j.
    """
    import numpy as np
    import pandas as pd

    if not allow_quadratic:
        n = embeddings.count()
        if n > NEAR_DUP_QUADRATIC_MAX_ROWS:
            raise ValueError(
                f"embedding_near_dup is all-pairs O(N²) and the input has "
                f"{n} rows (> {NEAR_DUP_QUADRATIC_MAX_ROWS}). Use "
                f"embedding_near_dup_lsh at scale, or pass "
                f"allow_quadratic=True to force the baseline."
            )
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("vec")
    )
    full = base.toPandas()
    ids = full["vec_id"].to_numpy()
    M = (
        np.array(full["vec"].tolist(), dtype=np.float64)
        if len(full)
        else np.zeros((0, 1))
    )
    nb = np.zeros(len(ids))
    for d in range(M.shape[1] if len(ids) else 0):
        nb += M[:, d] * M[:, d]
    nb = np.sqrt(nb)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((ids, M, nb))
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in base.schema.fields
    )["vec_id"]
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def score_partition(batches):
        ids_, M_, nb_ = bc.value
        N = len(ids_)
        for pdf in batches:
            if len(pdf) == 0 or N == 0:
                continue
            A = np.array(pdf["vec"].tolist(), dtype=np.float64)
            aid = pdf["vec_id"].to_numpy()
            D = A.shape[1]
            # block the partition rows so the block×N score matrix stays
            # ~50 MB even at the guard ceiling
            step = max(1, int(8e6 // max(N, 1)))
            for s in range(0, len(A), step):
                Ab = A[s : s + step]
                ab_id = aid[s : s + step]
                nv = np.zeros(len(Ab))
                for d in range(D):
                    nv += Ab[:, d] * Ab[:, d]
                nv = np.sqrt(nv)
                cos = _seq_pairdot(Ab, M_) / (nv[:, None] * nb_[None, :])
                cos = np.floor(cos * 10000.0 + 0.5) / 10000.0
                mask = (ab_id[:, None] < ids_[None, :]) & (cos >= threshold)
                ii, jj = np.nonzero(mask)
                if len(ii):
                    yield pd.DataFrame(
                        {
                            "id_a": ab_id[ii],
                            "id_b": ids_[jj],
                            "cosine": cos[ii, jj],
                        }
                    )

    return base.mapInPandas(score_partition, schema)


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for :func:`embedding_near_dup`: candidate pairs share a
    sign-projection LSH bucket (plus Hamming-1 probes on one side), exact
    cosine filters them. Work drops from N²/2 to same-bucket pairs; high-
    cosine pairs rarely disagree on more than one hyperplane, so recall
    at near-dup thresholds stays high (asserted vs all-pairs in tests).

    Everything stays fully distributed (no driver collect, no broadcast
    of the corpus; this is the architecture that survives 100 TB), but
    the pair SCORING is per-bucket (r15, guide §8/§2.3): each vector
    ships into the scoring kernel ``bits + 2`` times (its probe rows +
    its bucket row), grouped by bucket, and one vectorized kernel
    scores the bucket's probe×member matrix — accumulated PER DIMENSION
    so every cosine is bit-identical to the JVM/DuckDB sequential fold
    (the :func:`arrow_topk` parity argument). The r14 shape
    materialized each candidate PAIR as a row, dedup'd ~N·E[bucket]
    id-pairs, re-attached both 64-double payload vectors via two joins,
    and shipped ~1 KB/pair through Arrow (≈1 GB at the registered
    query's ~1M candidates — measured 3.2× slower end-to-end). Now the
    only post-kernel exchange is the dedup of pairs that PASS the
    threshold (near-dups are rare by definition), and payload bytes
    through the Python boundary drop from O(candidate pairs) to
    O(corpus · bits). The per-bucket matrix bounds a task's memory by
    the hottest bucket — the same bound the old bucket JOIN's fan-out
    already imposed, now explicit: size ``bits`` so buckets fit a task.
    """
    import numpy as np
    import pandas as pd

    base = embeddings.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        _as_double(vec_col).alias("vec"),
        _bucket_expr(vec_col, bits).alias("bucket"),
    )
    # NULL ids never survived the old id_a < id_b candidate filter, so
    # dropping them at the source is a no-op on results and keeps the
    # kernel's int64 id arrays total.
    probes = base.select(
        "vec_id",
        "vec",
        F.explode(
            F.expr(
                f"array_union(array(bucket), transform(sequence(0, {bits - 1}),"
                f" j -> CAST(bucket ^ shiftleft(1, j) AS INT)))"
            )
        ).alias("bucket"),
    )
    # block-parallel split (r15, guide §2.5/§2.6 — exposed by the sf1
    # scale tier: with one task per bucket the kernel's parallelism is
    # capped at 2^bits, leaving cores idle at 32 slots / 8 buckets).
    # Shard each bucket's PROBE side into deterministic blocks and
    # replicate the bucket's member rows to every shard (factor nsplit
    # on the grouped vectors — the standard block-parallel all-pairs
    # scheme); each pair is still scored exactly once (by its id_a's
    # block) so results are invariant to nsplit, and nsplit=1 (e.g. the
    # 8-core rerun, or any corpus under BLOCK_SPLIT_MIN_BYTES where the
    # split's overhead exceeds its parallelism) reproduces the
    # unsharded plan.
    try:
        nsplit = max(
            # floor of bits+1 once the corpus is past the size gate:
            # probing multiplies the A side by bits+1 rows, so bits+1
            # shards equalize the kernel's A and B block heights —
            # measured best at BOTH 8 and 32 cores on the sf1 tier
            # (8c: 38 s med unsplit → 22 s at 4; 8 shards regress to 40)
            bits + 1,
            int(embeddings.sparkSession.sparkContext.defaultParallelism)
            >> bits,
        )
    except Exception:  # noqa: BLE001 — no context (e.g. connect): no split
        nsplit = 1
    if _plan_size_bytes(embeddings) < BLOCK_SPLIT_MIN_BYTES:
        nsplit = 1
    p = probes.select("bucket", F.lit(1).alias("__probe"), "vec_id", "vec")
    c = base.select("bucket", F.lit(0).alias("__probe"), "vec_id", "vec")
    if nsplit > 1:
        p = p.withColumn(
            "__blk", F.pmod(F.xxhash64("vec_id"), F.lit(nsplit)).cast("int")
        )
        c = c.withColumn(
            "__blk",
            F.explode(F.expr(f"sequence(0, {nsplit - 1})")),
        )
        group_keys = ["bucket", "__blk"]
    else:
        group_keys = ["bucket"]
    groups = p.unionByName(c).groupBy(*group_keys).agg(
        F.collect_list(F.struct("__probe", "vec_id", "vec")).alias("__g")
    )
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in base.schema.fields
    )["vec_id"]
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def score_bucket(batches):
        for pdf in batches:
            for g in pdf["__g"]:
                n = len(g)
                if n == 0:
                    continue
                side = np.fromiter(
                    (e["__probe"] for e in g), dtype=np.int64, count=n
                )
                # no forced dtype: ids may be any orderable id type
                # (NULLs were dropped at the source)
                ids = np.array([e["vec_id"] for e in g])
                V = np.array(
                    [np.asarray(e["vec"], dtype=np.float64) for e in g]
                )
                pi, ci = side == 1, side == 0
                A, aid = V[pi], ids[pi]
                B, bid = V[ci], ids[ci]
                if not len(A) or not len(B):
                    continue
                D = A.shape[1]
                # per-dimension sequential accumulation: each pair's
                # dot and each vector's norm run the exact fold order
                # the JVM/DuckDB expression runs, so scores are
                # bit-identical (same kernel shape as embedding_near_dup)
                na = np.zeros(len(A))
                nb = np.zeros(len(B))
                for d in range(D):
                    na += A[:, d] * A[:, d]
                    nb += B[:, d] * B[:, d]
                cos = _seq_pairdot(A, B) / (
                    np.sqrt(na)[:, None] * np.sqrt(nb)[None, :]
                )
                cos = np.floor(cos * 10000.0 + 0.5) / 10000.0
                mask = (aid[:, None] < bid[None, :]) & (cos >= threshold)
                ii, jj = np.nonzero(mask)
                if len(ii):
                    yield pd.DataFrame(
                        {
                            "id_a": aid[ii],
                            "id_b": bid[jj],
                            "cosine": cos[ii, jj],
                        }
                    )

    # multi-probe finds the same pair through up to bits+1 buckets with
    # an identical (deterministic) cosine; one dedup over the MATCHES
    # only — the r14 shape dedup'd the full candidate fan-out instead
    return groups.mapInPandas(score_bucket, schema).dropDuplicates(
        ["id_a", "id_b"]
    )


def _bucket_expr(vec_col: str, bits: int) -> F.Column:
    """Sign-random-projection bucket id.

    Hyperplane r_{j} has components ±1 derived from xxhash64(dim, j) —
    deterministic, no stored model, identical on every executor. bucket =
    Σ_j [⟨v, r_j⟩ > 0] · 2^j, computed with nested JVM lambdas.
    """
    proj = (
        f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1),"
        " (x, i) -> CASE WHEN (xxhash64(i, {j}) & 1) = 1 THEN CAST(x AS DOUBLE)"
        " ELSE -CAST(x AS DOUBLE) END), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    terms = " + ".join(
        f"(CASE WHEN ({proj.format(j=j)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return F.expr(f"CAST({terms} AS INT)")


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    multi_probe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine rerank inside the query's LSH
    bucket(s).

    Recall is tunable via ``bits`` (fewer bits → bigger buckets → higher
    recall, more work) and ``multi_probe`` (also probe every Hamming-1
    neighbor bucket — near-misses on one hyperplane are the dominant
    recall loss, so this multiplies recall for (bits+1)× candidate cost).
    Candidates join on the bucket id — a plain equi join Catalyst
    shuffle-partitions by bucket, so per-query work is ~N·(bits+1)/2^bits
    instead of N.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(vec_col).alias("vec"),
        _bucket_expr(vec_col, bits).alias("bucket"),
    ).withColumn("nv", norm_expr("vec"))
    qs = queries.select(
        "query_id",
        _as_double(vec_col).alias("qvec"),
        _bucket_expr(vec_col, bits).alias("bucket"),
    ).withColumn("nq", norm_expr("qvec"))
    if multi_probe:
        probe_set = F.expr(
            f"array_union(array(bucket), transform(sequence(0, {bits - 1}),"
            f" j -> CAST(bucket ^ shiftleft(1, j) AS INT)))"
        )
        qs = qs.select(
            "query_id", "qvec", "nq", F.explode(probe_set).alias("bucket")
        )
    scored = (
        corpus.join(F.broadcast(qs), "bucket")
        .select(
            "query_id",
            "vec_id",
            round4(cosine_prenorm_expr("qvec", "vec", "nq", "nv")).alias(
                "score"
            ),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-nearest-neighbor label vote — auto-labeling / label propagation.

    For each query vector: exact cosine top-k against the labeled corpus
    (via :func:`brute_force_topk`, so the candidate cut is deterministic),
    then majority vote over neighbor labels, ties broken by the smaller
    label. Returns (query_id, predicted_label, votes). The label rides
    through the top-k scan (``carry_cols``) so the corpus is scanned
    exactly once and no label join-back shuffle exists in the plan.

    Scale path: swap the brute-force stage for :func:`lsh_bucketed_topk`
    or IVF (operators/ivf.py) — the vote is the same groupBy either way.
    """
    topk = arrow_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        carry_cols=(label_col,),
    )
    votes = (
        topk.withColumnRenamed(label_col, "label")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )


def label_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid, one output row per (label, dimension).

    The mean is computed on half-up-rounded 1e-4 integer units summed as
    BIGINT, so the result is independent of partitioning/combine order
    and bit-identical across engines (same rule as ``relational._dsum``).
    posexplode keeps everything JVM-side; the shuffle key (label, dim) is
    perfectly uniform, so this scales as a plain partial+final hash agg.
    """
    e = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
    )
    scaled = F.floor(F.col("x") * 10000.0 + F.lit(0.5)).cast("long")
    return e.groupBy("label", "dim").agg(
        round4(F.sum(scaled) / (10000.0 * F.count(F.lit(1)))).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Symmetric int8-style quantization: per-vector scale = max |x|,
    code_i = halfup(x_i / scale · levels) ∈ [-levels, levels].

    The storage path for petabyte embedding stores — 4-8× smaller than
    float32, dequantize as ``code · scale / levels``. Row-local array
    math (no shuffle); half-up rounding uses the same floor(x+0.5)
    formula as functions/rounding so codes are bit-identical across
    engines. Emits the max dequantization error per vector so callers
    can assert the quality envelope.
    """
    vec = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    # zero vectors quantize to all-zero codes (scale 0 must not divide)
    codes = F.when(
        scale > 0,
        F.transform(
            vec, lambda x: F.floor(x / scale * levels + F.lit(0.5)).cast("int")
        ),
    ).otherwise(F.transform(vec, lambda x: F.lit(0)))
    dequant_err = F.array_max(
        F.zip_with(
            vec,
            codes,
            lambda x, c: F.abs(x - c.cast("double") * scale / levels),
        )
    )
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        round4(scale).alias("scale"),
        codes.alias("codes"),
        round4(dequant_err).alias("max_err"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic decontamination: flag corpus vectors whose embedding is
    too close (cosine ≥ threshold) to ANY eval-set vector — the
    paraphrase-robust complement to n-gram decontamination
    (``curation.decontaminate`` / ``decontaminate_bloom``), which a
    reworded benchmark item slips past while its embedding stays put.

    Output per corpus vector: ``vec_id, max_eval_cosine (4dp),
    closest_eval_id, contaminated``.

    Plan: the eval set (benchmarks — thousands of rows) broadcasts with
    precomputed norms; each corpus partition scores locally (the same
    prenormalized sequential-fold cosine as the top-k family, so the
    flag is bit-reproducible) and reduces to one row per corpus vector
    — the corpus never shuffles. At extreme eval-set sizes route
    through ``lsh_bucketed_topk``'s sign-bucket join instead; the
    brute broadcast is exact and preferred while the eval side fits a
    broadcast (the common case).
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        _as_double(vec_col).alias("cv"),
    ).withColumn("cn", norm_expr("cv"))
    e = eval_set.select(
        F.col(id_col).alias("eval_id"),
        _as_double(vec_col).alias("ev"),
    ).withColumn("en", norm_expr("ev"))
    cos = round4(cosine_prenorm_expr("cv", "ev", "cn", "en"))
    scored = c.join(F.broadcast(e)).select(
        "vec_id", "eval_id", cos.alias("cos")
    )
    best = F.max_by(
        F.col("eval_id"), F.struct(F.col("cos"), (-F.col("eval_id")))
    )
    return scored.groupBy("vec_id").agg(
        F.max("cos").alias("max_eval_cosine"),
        best.alias("closest_eval_id"),
    ).select(
        "vec_id",
        "max_eval_cosine",
        "closest_eval_id",
        (F.col("max_eval_cosine") >= F.lit(threshold)).alias("contaminated"),
    )


def embedding_health(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row health profile of an embedding store — the checks that
    catch a broken embedder or a bad backfill BEFORE an index build or
    ANN query spends cluster-hours on garbage: vector count, dimension
    consistency (min = max or the store is mixed), null / NaN-element /
    zero-norm counts, and the exact p1/p50/p99 of the L2 norms (a
    collapsed or exploding norm distribution is the classic silent
    embedder failure).

    Plan: one scan, one aggregate; the norm is the same sequential-fold
    expression the similarity family scores with, so "healthy here"
    means healthy for the operators that consume the store.

    Non-finite components (±Inf, not just NaN) count into ``n_nan`` and
    leave the norm percentiles at this operator boundary: Spark's
    ``round4`` would saturate an Inf norm to ~9.2e14 where DuckDB emits
    ``inf`` (the r12 NaN/±Inf fuzz class) — the oracle's filter widens
    to ``NOT isfinite`` in the same place, never inside shared round4.
    """
    v = _as_double(vec_col)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        v.alias("cv"),
    ).select(
        "vec_id",
        "cv",
        F.size("cv").alias("__dim"),
        F.expr(
            "exists(cv, x -> x IS NULL OR isnan(x)"
            " OR abs(x) >= CAST('Infinity' AS DOUBLE))"
        ).alias("__has_nan"),
        norm_expr("cv").alias("__norm"),
    )
    pcts = F.percentile(
        F.when(~F.col("__has_nan"), F.col("__norm")),
        F.array(F.lit(0.01), F.lit(0.5), F.lit(0.99)),
    )
    return base.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.count(F.when(F.col("cv").isNull(), 1)).alias("n_null"),
        F.min("__dim").alias("dims_min"),
        F.max("__dim").alias("dims_max"),
        F.count(F.when(F.col("__has_nan"), 1)).alias("n_nan"),
        F.count(
            F.when(~F.col("__has_nan") & (F.col("__norm") == 0.0), 1)
        ).alias("n_zero_norm"),
        pcts.alias("__p"),
    ).select(
        "n_vectors",
        "n_null",
        "dims_min",
        "dims_max",
        "n_nan",
        "n_zero_norm",
        round4(F.col("__p")[0]).alias("norm_p1"),
        round4(F.col("__p")[1]).alias("norm_p50"),
        round4(F.col("__p")[2]).alias("norm_p99"),
    )


def embedding_covariance(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact covariance matrix of the embedding dimensions — the
    whitening / PCA-prep / representation-drift statistic (compare two
    snapshots' covariance to detect encoder drift; feed the matrix to a
    driver-side eigensolver for PCA, which is the CORRECT split at
    scale: the distributed part is the outer-product aggregation, the
    D×D eigenproblem is trivially driver-sized).

    Emits one row per dimension pair i ≤ j (1-based):
    cov = Σxy/n − (Σx/n)(Σy/n), computed from EXACT integer moment
    sums — each float quantizes once to 1e-6 units (floor(x·1e6+0.5),
    the repo's deterministic rounding), products accumulate in
    decimal(38), and only the final covariance arithmetic runs in
    double with the identical operation sequence on the oracle side.

    Plan: one corpus scan; each Arrow batch collapses to ONE integer
    Gram matmul (U.T @ U) whose D(D+1)/2 upper-triangle partials — one
    row per dimension pair per batch — feed the same decimal(38)
    aggregate the old per-row explode fed (r14: the codegen pair
    fan-out shipped 12.5M struct rows through the hash aggregate; the
    matmul computes identical int64 sums in milliseconds, guide §4.2).
    Shuffle still carries |dims|²·blocks rows, never vectors; products
    stay exact BY CONSTRUCTION (r15: the kernel blocks each batch so
    rows-per-block × max|unit|² < 2^62 — int64 partials cannot wrap no
    matter how spark.sql.execution.arrow.maxRecordsPerBatch is
    configured, and |unit| ≥ 2^31, where a single product would
    overflow, raises instead of silently wrapping) and only the
    cross-block SUM widens to decimal(38). FIRST moments ride the
    diagonal rows of the same kernel output instead of a second explode
    pass. Diagonal rows are the per-dimension variances.
    """
    import numpy as np
    import pandas as pd

    from uk_housing_dashboard_etl_spark.functions.rounding import round4

    units = F.expr(
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        " * 1000000.0 + 0.5) AS BIGINT))"
    )
    base = embeddings.where(F.col(vec_col).isNotNull()).select(
        units.alias("__u")
    )

    # The D(D+1)/2-per-row pair fan-out used to run as a codegen
    # explode + 12.5M-row hash aggregate; one Gram matmul per Arrow
    # batch computes the identical integer sums ~3× faster (guide §4.2:
    # whole batches into vectorized native code). Exactness is
    # preserved end to end: units are int64, U.T @ U accumulates in
    # int64 over blocks sized so rows × max|unit|² < 2^62 (enforced in
    # the kernel, independent of the Arrow batch-size config), and the
    # per-block partials — one (dim_i, dim_j, sxy) row each — sum to
    # the global moments in decimal(38) exactly as the per-row
    # products did. Ragged vectors
    # keep the old explode semantics via zero-padding (a zero unit
    # contributes nothing to any product or single sum) plus an
    # explicit rows-with-size≥d count.
    def gram_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = pdf["__u"].tolist()
            lens = np.fromiter(
                (len(v) for v in rows), dtype=np.int64, count=len(rows)
            )
            lmax = int(lens.max())
            if lmax == 0:
                continue
            U = np.zeros((len(rows), lmax), dtype=np.int64)
            for r, v in enumerate(rows):
                a = np.asarray(v)
                if a.dtype.kind == "f":
                    # Arrow surfaces a list<bigint> column that carries
                    # NULLs as float64 with NaN — and numpy's NaN→int64
                    # cast silently WRAPS to INT64_MIN instead of
                    # raising (r15 ADVICE), so detect the float dtype
                    # and zero-fill explicitly: a NULL product/addend
                    # vanishes from the old SQL sums exactly like a
                    # zero term does. (The one divergence — a pair sum
                    # with NO non-NULL term — yields 0 here vs NULL
                    # before; the query path can't reach it,
                    # _emb_valid drops NULL-component vectors.) The
                    # values themselves are integral (Spark cast them
                    # to BIGINT), so the cast back is exact under the
                    # |unit| < 2^31 bound enforced below.
                    a = np.where(np.isnan(a), 0.0, a).astype(np.int64)
                elif a.dtype.kind == "O":
                    # object rows (plain Python lists with None)
                    a = np.array(
                        [0 if x is None else x for x in v], dtype=np.int64
                    )
                U[r, : len(a)] = a
            amax = int(np.abs(U).max()) if U.size else 0
            if amax >= 1 << 31:
                raise ValueError(
                    f"embedding_covariance: |unit| = {amax} >= 2^31 — a "
                    "single int64 product would overflow (components "
                    "above ~2147 in magnitude). The old pair-explode "
                    "path silently wrapped here too; refuse instead."
                )
            # int64 partials stay EXACT as long as rows-per-block ×
            # max|unit|² < 2^62 — enforced per block instead of assumed
            # from the (configurable) Arrow batch size (r15 ADVICE: the
            # documented ≤10k-row bound silently shrank if
            # spark.sql.execution.arrow.maxRecordsPerBatch was raised)
            step = (
                len(U)
                if amax == 0
                else max(1, min(len(U), (1 << 62) // (amax * amax)))
            )
            iu, ju = np.triu_indices(lmax)
            diag = iu == ju
            for s0 in range(0, len(U), step):
                Ub = U[s0 : s0 + step]
                lb = lens[s0 : s0 + step]
                P = Ub.T @ Ub
                s = Ub.sum(axis=0)
                # rows with size ≥ d, 1-based dim d
                n_d = np.cumsum(
                    np.bincount(lb, minlength=lmax + 1)[::-1]
                )[::-1][1:]
                yield pd.DataFrame(
                    {
                        "dim_i": iu + 1,
                        "dim_j": ju + 1,
                        "sxy": P[iu, ju],
                        "n": np.where(diag, n_d[iu], 0),
                        "sx": np.where(diag, s[iu], 0),
                    }
                )

    part = base.mapInPandas(
        gram_partials,
        "dim_i long, dim_j long, sxy long, n long, sx long",
    )
    # ONE aggregate carries the pair sums AND the diagonal-rider first
    # moments; the per-dimension singles then reach every pair row via
    # two whole-partition windows over the D(D+1)/2-row mart (spread
    # the diagonal row's value across its dim_i / dim_j group) instead
    # of joins back onto re-executed copies of the source — the Python
    # kernel and its Arrow transfer appear ONCE in the plan, and the
    # only post-kernel exchanges are three dims²-row reshuffles.
    agg_all = part.groupBy("dim_i", "dim_j").agg(
        F.sum(F.col("sxy").cast("decimal(38,0)")).alias("__sxy"),
        F.sum("n").alias("__n"),
        F.sum("sx").alias("__sd"),
    )
    diag = F.col("dim_i") == F.col("dim_j")
    wi = Window.partitionBy("dim_i")
    wj = Window.partitionBy("dim_j")
    agg = (
        agg_all.withColumn("n", F.max(F.when(diag, F.col("__n"))).over(wi))
        .withColumn("__sx", F.max(F.when(diag, F.col("__sd"))).over(wi))
        .withColumn("__nj", F.max(F.when(diag, F.col("__n"))).over(wj))
        .withColumn("__sy", F.max(F.when(diag, F.col("__sd"))).over(wj))
        # zero-padded dims no row ever reached: the old per-position
        # explode never emitted a singles row for them, so its inner
        # joins dropped their pair rows — the n>0 guards do the same
        .where((F.col("n") > 0) & (F.col("__nj") > 0))
    )
    nd = F.col("n").cast("double")
    cov = (
        F.col("__sxy").cast("double") / F.lit(1e12) / nd
        - (F.col("__sx").cast("double") / F.lit(1e6) / nd)
        * (F.col("__sy").cast("double") / F.lit(1e6) / nd)
    )
    return agg.select(
        F.col("dim_i").cast("bigint").alias("dim_i"),
        F.col("dim_j").cast("bigint").alias("dim_j"),
        "n",
        round4(cov).alias("cov"),
    )


def hard_negative_mining(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per query: the ``k`` MOST similar corpus items with a DIFFERENT
    label — hard negatives for contrastive/retrieval training (the
    highest-scoring non-matches are exactly the examples a ranker
    learns most from; random negatives are trivially separable).

    The label filter runs BEFORE the rank cut, so every emitted row is
    a genuine negative and the k-th is the k-th hardest. Null labels
    drop out on either side (SQL ``<>`` semantics, mirrored by the
    oracle) — an unlabeled item can't be proven a negative. Same plan
    shape as :func:`brute_force_topk`: the query side (vectors +
    labels) broadcasts, the corpus never shuffles, scores round to 4dp
    before the deterministic (score desc, id) cut. For large query
    workloads compose the same filter with ``lsh_bucketed_topk`` /
    ``ivf_topk`` candidates instead of the exact scan.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(vec_col).alias("vec"),
        F.col(label_col).alias("neg_label"),
    ).withColumn("nv", norm_expr("vec"))
    qs = queries.select(
        F.col("query_id"),
        _as_double(vec_col).alias("qvec"),
        F.col(label_col).alias("query_label"),
    ).withColumn("nq", norm_expr("qvec"))
    scored = (
        corpus.crossJoin(F.broadcast(qs))
        .where(F.col("neg_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "vec_id",
            "neg_label",
            round4(
                cosine_prenorm_expr("qvec", "vec", "nq", "nv")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "vec_id", "neg_label", "score", "rank"
        )
    )


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple = (8, 16, 32),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncation curve: for each prefix dimensionality in
    ``dims``, the per-query recall of TRUNCATED-vector cosine top-k
    against the full-dimension exact top-k. Output: (dim, query_id,
    n_hit, recall) — the quality-vs-cost curve that decides how many
    dimensions an embedding index actually needs (truncating 64→16
    dims cuts index bytes and ADC work 4× if recall holds).

    Plan: each dim's pass is the same zero-shuffle broadcast scan as
    :func:`brute_force_topk` over ``slice(vec, 1, d)`` — the corpus is
    re-scanned once per dim (|dims| map-only passes, no shuffles), the
    per-(query, dim) intersection is a semi-join at top-k grain
    (|queries| · k rows — tiny), and recall anchors on the full-dim
    query list so a truncation that whiffs entirely reports 0, not a
    missing row. Exact arithmetic: n_hit is an integer count, recall
    = n_hit / k is one exact division.
    """
    full = brute_force_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "vec_id"
    )
    qgrid = full.select("query_id").distinct()
    outs = []
    nonzero = F.exists(F.col(vec_col), lambda x: x != 0)
    for d in sorted(dims):
        # a vector whose PREFIX is all-zero has no cosine at this dim
        # (0/0 under ANSI) — drop it from this dim's ranking; a dropped
        # query still reports through qgrid with recall 0
        ctrunc = corpus.select(
            F.col(id_col),
            F.slice(F.col(vec_col), 1, d).alias(vec_col),
        ).where(nonzero)
        qtrunc = queries.select(
            "query_id", F.slice(F.col(vec_col), 1, d).alias(vec_col)
        ).where(nonzero)
        hits = (
            brute_force_topk(ctrunc, qtrunc, k, id_col, vec_col)
            .select("query_id", "vec_id")
            .join(full, ["query_id", "vec_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        outs.append(
            qgrid.join(hits, "query_id", "left").select(
                F.lit(d).cast("int").alias("dim"),
                "query_id",
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
                (
                    F.coalesce("n_hit", F.lit(0)).cast("double") / F.lit(k)
                ).alias("recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def quantile_normalize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension rank (quantile) normalization: every coordinate
    maps to its percent_rank within its dimension — the
    distribution-free feature scaling that makes heterogeneous
    embedding dimensions comparable (heavy-tailed dims stop dominating
    L2 distances; the standard preprocessing before quantization or
    mixed-model ensembling). Output: (vec_id, dim 1-based, value, q)
    with q ∈ [0, 1], ties sharing a rank (SQL percent_rank semantics,
    identical across engines).

    Plan: one row-local posexplode, then ONE window partitioned BY
    DIMENSION — D partitions of n rows each, a bounded per-partition
    sort that parallelizes across dims. At 100 TB exact per-dim ranks
    mean sorting n values per dim; the documented degradation path is
    the KLL sketch (``sketches.quantile_sketch_summary``): estimate
    each dim's quantile boundaries once, then map coordinates to
    buckets row-locally — constant memory, no per-dim sort.

    NULL and non-finite coordinates (NaN/±Inf) are excluded at this
    operator boundary: Spark's ``round4`` saturates non-finite where
    DuckDB emits ``inf``/``nan`` (the r12 fuzz class), the two engines
    order NULLs at opposite ends of a rank window (Spark NULLS FIRST,
    DuckDB NULLS LAST), and a rank for a NULL/Inf coordinate is
    meaningless anyway.
    """
    from pyspark.sql import Window

    exploded = embeddings.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col)).alias("__pos", "value"),
    )
    vd = F.col("value").cast("double")
    exploded = exploded.where(
        ~F.isnan(vd) & (F.abs(vd) < F.expr("CAST('Infinity' AS DOUBLE)"))
    )
    w = Window.partitionBy("__pos").orderBy("value")
    return exploded.select(
        "vec_id",
        (F.col("__pos") + 1).cast("int").alias("dim"),
        round4(F.col("value").cast("double")).alias("value"),
        round4(F.percent_rank().over(w)).alias("q"),
    )
