"""Fuzzy record linkage: blocked edit-distance matching.

The entity-resolution primitive a curation pipeline needs when keys
don't exist — near-identical product/supplier/author names that exact
dedup can't see. Reference scope: the reference engine has no fuzzy
matching at all (`etl/etl_main.py` joins on exact postcode only); this
family is part of the beyond-reference curation surface.

Shape: candidate generation by BLOCKING (never all-pairs), then exact
Levenshtein on candidates only. Everything is built-in JVM expressions
(`F.levenshtein`, `F.split`) — no Python on executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# best_fuzzy_match_compressed broadcasts ≤2 option rows per distinct left
# name (~100 B each); above this many distinct names the hint is dropped
# and the planner/AQE picks the join strategy instead (same convention as
# similarity.ARROW_TOPK_MAX_QUERY_MB: estimate first, never OOM).
COMPRESSED_BROADCAST_MAX_NAMES = 1_000_000

# resolve_entities collects the NAME-grain edge list for a driver-side
# union-find when it fits (one job vs O(log n) distributed contraction
# rounds); above this it falls back to dedup.connected_components.
# ~50 B/edge → the cap is ~100 MB of driver memory.
ENTITY_DRIVER_UNION_MAX_EDGES = 2_000_000


def _bucketed_sides(base: DataFrame, length_bucket: int, max_dist: int):
    """Composite-block the two sides of a blocked self-join on
    (first token, length bucket) — LOSSLESSLY.

    Bucket = floor(len / w) with width ``w ≥ max_dist``. Any surviving
    pair has ``|len_a − len_b| ≤ max_dist ≤ w``, so the two buckets
    differ by at most 1; fanning the probe side out to
    [bucket−1, bucket, bucket+1] therefore reaches every partner while
    the build side keeps a single bucket — each pair joins exactly once
    (the three fan-out values are distinct and the partner holds one).
    This is the SCALE.md §4 composite-block fix for a dominant first
    token: candidate volume drops from |block|² to Σ 3·|cell|² over
    length cells, at the price of a 3× fan-out of one side's compact
    (key, name, len) rows — no recall loss, same output, same oracle.
    """
    if length_bucket < max(max_dist, 1):
        raise ValueError(
            f"length_bucket={length_bucket} must be >= max_dist={max_dist}: "
            "a narrower bucket lets a matching pair span more than one "
            "bucket boundary and the single-step fan-out would miss it."
        )
    bkt = F.floor(F.col("len") / F.lit(length_bucket)).cast("bigint")
    a = base.withColumn(
        "bucket", F.explode(F.array(bkt - F.lit(1), bkt, bkt + F.lit(1)))
    ).alias("a")
    b = base.withColumn("bucket", bkt).alias("b")
    return a, b, (F.col("a.bucket") == F.col("b.bucket"))


def fuzzy_pairs(
    records: DataFrame,
    name_col: str = "p_name",
    key_col: str = "p_partkey",
    max_dist: int = 3,
    length_bucket: int | None = None,
) -> DataFrame:
    """All record pairs whose names are within ``max_dist`` edits,
    generated block-wise.

    Block = first whitespace token of the name (swap in any cheap
    canonical prefix). Within a block, the self-join is additionally
    prefiltered by ``|len(a) − len(b)| ≤ max_dist`` — a lossless cut,
    since edit distance is bounded below by the length difference — so
    the expensive Levenshtein runs on a fraction of block pairs.
    ``key_a < key_b`` canonicalizes pair order.

    ``length_bucket`` (≥ max_dist) refines the block to the composite
    (first token, length bucket) with a lossless ±1-bucket fan-out —
    see :func:`_bucketed_sides`. Use it when one first token dominates
    the corpus ("THE …" product names): the quadratic term shrinks from
    the token-block size to the largest (token, length-cell) size, and
    the output is IDENTICAL to the unbucketed run (pinned by the
    ``fuzzy_pair_stats_bucketed`` registry query sharing the unbucketed
    oracle).

    Plan: one shuffle keyed by the (composite) block on compact
    (key, name, len) rows; Levenshtein evaluates JVM-side inside the
    join. Block size drives cost quadratically — at 100 TB always pass
    ``length_bucket`` (or use :func:`sorted_neighborhood_pairs` for a
    linear-candidate pass).
    """
    base = records.select(
        F.col(key_col).alias("key"),
        F.col(name_col).alias("name"),
        F.split(F.col(name_col), r"\s+")[0].alias("block"),
        F.length(name_col).alias("len"),
    )
    if length_bucket is not None:
        a, b, bucket_eq = _bucketed_sides(base, length_bucket, max_dist)
    else:
        a, b, bucket_eq = base.alias("a"), base.alias("b"), F.lit(True)
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & bucket_eq
            & (F.col("a.key") < F.col("b.key"))
            & (
                F.abs(F.col("a.len") - F.col("b.len"))
                <= F.lit(max_dist)
            ),
        )
        .where(dist >= 0)
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("int").alias("distance"),
        )
    )


def best_fuzzy_match(
    left: DataFrame,
    right: DataFrame,
    name_col: str = "p_name",
    key_col: str = "p_partkey",
    max_dist: int = 3,
) -> DataFrame:
    """For every left record, its single closest right-side name within
    ``max_dist`` edits (ties: smaller right key). The lookup-enrichment
    form of linkage — joining a dirty feed against a master table.

    Same blocking + length prefilter as :func:`fuzzy_pairs`; the
    argmin per left key is a map-side-combinable ``min_by``-style
    struct-min aggregate, not a rank window.
    """
    lb = left.select(
        F.col(key_col).alias("left_key"),
        F.col(name_col).alias("left_name"),
        F.split(F.col(name_col), r"\s+")[0].alias("block"),
        F.length(name_col).alias("left_len"),
    )
    rb = right.select(
        F.col(key_col).alias("right_key"),
        F.col(name_col).alias("right_name"),
        F.split(F.col(name_col), r"\s+")[0].alias("block"),
        F.length(name_col).alias("right_len"),
    )
    dist = F.levenshtein(F.col("left_name"), F.col("right_name"), max_dist)
    cand = (
        lb.join(
            rb,
            (lb.block == rb.block)
            & (F.col("left_key") != F.col("right_key"))
            & (
                F.abs(F.col("left_len") - F.col("right_len"))
                <= F.lit(max_dist)
            ),
        )
        .withColumn("distance", dist.cast("int"))
        .where(F.col("distance") >= 0)
    )
    # struct-min picks (distance, right_key) lexicographically: the
    # closest match, ties broken by the smaller right key.
    pick = F.min(F.struct("distance", "right_key", "right_name")).alias("m")
    return (
        cand.groupBy("left_key", "left_name")
        .agg(pick)
        .select(
            "left_key",
            "left_name",
            F.col("m.right_key").alias("match_key"),
            F.col("m.right_name").alias("match_name"),
            F.col("m.distance").alias("distance"),
        )
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    name_col: str = "p_name",
    key_col: str = "p_partkey",
    window: int = 5,
    max_dist: int = 3,
) -> DataFrame:
    """Sorted-neighborhood candidate generation: rank records within
    each block by (name, key) and compare only neighbors whose ranks
    differ by at most ``window``.

    The scale-safe linkage path promised in SCALE.md: candidate volume
    is ``window`` per record — LINEAR in block size where the blocked
    self-join of :func:`fuzzy_pairs` is quadratic. The price is recall:
    a true pair further than ``window`` positions apart in sort order is
    missed (near-identical names sort adjacently, so misses are rare —
    measure with the recall gate, don't assume).

    Plan: one shuffle keyed by block, one per-block sort for the rank.
    The rank band is then folded INTO the equi-join key — each row gets
    bucket = rn div window, the probe side fans out to [bucket,
    bucket+1], and the join runs equi on (block, bucket). Any forward
    neighbor within ``window`` ranks lives in the same or the next
    bucket, so the band predicate only trims inside ≈window-sized hash
    groups. Joining equi on block alone and filtering the band AFTER
    would enumerate the full quadratic block pairs first — measured 10×
    slower than the blocked join at 200k rows — exactly the mistake
    this shape exists to avoid. ``key_a < key_b``
    holds because ranks are a total order and only forward neighbors
    join.
    """
    from pyspark.sql import Window as W

    base = records.select(
        F.col(key_col).alias("key"),
        F.col(name_col).alias("name"),
        F.split(F.col(name_col), r"\s+")[0].alias("block"),
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("block").orderBy("name", "key")
        ),
    )
    bucket = F.floor((F.col("rn") - 1) / F.lit(window)).cast("bigint")
    a = (
        base.withColumn(
            "bucket", F.explode(F.array(bucket, bucket + F.lit(1)))
        )
    ).alias("a")
    b = base.withColumn("bucket", bucket).alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("b.rn") > F.col("a.rn"))
            & (F.col("b.rn") <= F.col("a.rn") + F.lit(window)),
        )
        .where(dist >= 0)
        .select(
            F.least(F.col("a.key"), F.col("b.key")).alias("key_a"),
            F.greatest(F.col("a.key"), F.col("b.key")).alias("key_b"),
            dist.cast("int").alias("distance"),
        )
    )


def _name_grain(records: DataFrame, name_col: str, key_col: str) -> DataFrame:
    """Collapse records to one row per DISTINCT name: block, length,
    occurrence count, and the two smallest keys (min2 null when the
    name is unique). The exact compression under the *_compressed
    operators — all pair semantics are recoverable from counts and the
    two extreme keys."""
    stats = records.groupBy(F.col(name_col).alias("name")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(key_col).alias("min1"),
    )
    min2 = (
        records.join(stats, records[name_col] == stats.name)
        .where(F.col(key_col) > F.col("min1"))
        .groupBy("name")
        .agg(F.min(key_col).alias("min2"))
    )
    return (
        stats.join(min2, "name", "left")
        .withColumn("block", F.split(F.col("name"), r"\s+")[0])
        .withColumn("len", F.length("name"))
    )


def fuzzy_pair_histogram(
    records: DataFrame,
    name_col: str = "p_name",
    key_col: str = "p_partkey",
    max_dist: int = 3,
    length_bucket: int | None = None,
) -> DataFrame:
    """Distance histogram of the blocked fuzzy-pair frame, computed at
    NAME grain: record-pair counts are cnt_x·cnt_y per cross-name pair
    plus C(cnt,2) per duplicated name at distance 0 — identical numbers
    to enumerating key pairs, at |distinct names|² cost instead of
    |records|² per block. THE scale move when values repeat (real
    catalogs: few distinct dirty spellings, many rows). Emits per
    distance the record-pair count and the distinct name-pair count.
    ``length_bucket`` composite-blocks the name-grain self-join exactly
    as in :func:`fuzzy_pairs` — lossless, identical output.
    """
    names = _name_grain(records, name_col, key_col)
    return _histogram_over_names(names, max_dist, length_bucket)


def _histogram_over_names(
    names: DataFrame, max_dist: int, length_bucket: int | None
) -> DataFrame:
    """Distance histogram over a name-grain frame (name, cnt, block,
    len): cross-name record pairs recovered as cnt_x·cnt_y, same-name
    distance-0 pairs as C(cnt,2)."""
    if length_bucket is not None:
        a, b, bucket_eq = _bucketed_sides(names, length_bucket, max_dist)
    else:
        a, b, bucket_eq = names.alias("a"), names.alias("b"), F.lit(True)
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"), max_dist)
    cross = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & bucket_eq
            & (F.col("a.name") < F.col("b.name"))
            & (
                F.abs(F.col("a.len") - F.col("b.len"))
                <= F.lit(max_dist)
            ),
        )
        .where(dist >= 0)
        .select(
            dist.cast("int").alias("distance"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("n_rec_pairs"),
        )
    )
    # NULL names NEVER pair — levenshtein(NULL, NULL) is NULL, so the
    # pair-grain path drops them at the join; without this filter the
    # compressed path counted the NULL-name group as C(cnt,2)
    # distance-0 record pairs and diverged from fuzzy_pairs on corpora
    # with >= 2 NULL names (r10 empty/NULL sweep finding).
    same = names.where(
        F.col("cnt") >= 2
    ).where(F.col("name").isNotNull()).select(
        F.lit(0).alias("distance"),
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("n_rec_pairs"),
    )
    return (
        cross.unionByName(same)
        .groupBy("distance")
        .agg(
            F.sum("n_rec_pairs").alias("n_pairs"),
            F.count(F.lit(1)).alias("n_name_pairs"),
        )
    )


def best_fuzzy_match_compressed(
    left: DataFrame,
    right: DataFrame,
    name_col: str = "p_name",
    key_col: str = "p_partkey",
    max_dist: int = 3,
) -> DataFrame:
    """:func:`best_fuzzy_match` with name-grain compression — identical
    output, |names|² comparison cost.

    Per left NAME, keep the top-2 candidate (distance, key) options
    (each right name contributes its two smallest keys); per left
    RECORD the winner is the best option whose key isn't the record's
    own — at most one option can collide with it (keys are unique), so
    two options always suffice. The per-name rank runs over the tiny
    name-pair frame; records only broadcast-join the 2-row option list.

    The option list is ≤2 rows per DISTINCT left name — dimension-sized
    for real catalogs (few dirty spellings, many rows), but nothing in
    the type system enforces that, so the broadcast is size-guarded:
    above ``COMPRESSED_BROADCAST_MAX_NAMES`` distinct left names the
    hint is dropped and the join falls back to a shuffle join (AQE may
    still re-plan it). The count is one cheap distinct aggregate over
    the name column — trivial next to the Levenshtein pass, same
    estimate-before-collect convention as ``arrow_topk``.
    """
    from pyspark.sql import Window as W

    rnames = _name_grain(right, name_col, key_col)
    lnames = (
        left.select(F.col(name_col).alias("lname"))
        .distinct()
        .withColumn("block", F.split(F.col("lname"), r"\s+")[0])
        .withColumn("len", F.length("lname"))
    )
    a = lnames.alias("a")
    b = rnames.alias("b")
    dist = F.levenshtein(F.col("lname"), F.col("b.name"), max_dist)
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (
                F.abs(F.col("a.len") - F.col("b.len"))
                <= F.lit(max_dist)
            ),
        )
        .withColumn("distance", dist.cast("int"))
        .where(F.col("distance") >= 0)
    )
    opts = cand.select(
        "lname",
        "distance",
        F.col("min1").alias("cand_key"),
        F.col("b.name").alias("cand_name"),
    ).unionByName(
        cand.where(F.col("min2").isNotNull()).select(
            "lname",
            "distance",
            F.col("min2").alias("cand_key"),
            F.col("b.name").alias("cand_name"),
        )
    )
    w = W.partitionBy("lname").orderBy("distance", "cand_key")
    top2 = opts.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= 2
    )
    recs = left.select(
        F.col(key_col).alias("left_key"), F.col(name_col).alias("left_name")
    )
    n_names = lnames.count()
    options = (
        F.broadcast(top2)
        if n_names <= COMPRESSED_BROADCAST_MAX_NAMES
        else top2
    )
    joined = recs.join(
        options, recs.left_name == top2.lname
    ).where(F.col("cand_key") != F.col("left_key"))
    pick = F.min(F.struct("distance", "cand_key", "cand_name")).alias("m")
    return (
        joined.groupBy("left_key", "left_name")
        .agg(pick)
        .select(
            "left_key",
            "left_name",
            F.col("m.cand_key").alias("match_key"),
            F.col("m.cand_name").alias("match_name"),
            F.col("m.distance").alias("distance"),
        )
    )


def rare_token_pairs(
    records: DataFrame,
    name_col: str = "p_name",
    key_col: str = "p_partkey",
    max_dist: int = 3,
    length_bucket: int | None = None,
) -> DataFrame:
    """Blocked fuzzy pairs with the block = each name's RAREST token
    (minimum corpus document frequency, ties → lexicographically
    smallest token) instead of its first token.

    Recall rationale: first-token blocking misses pairs whose edit sits
    in the first word ("red widget" vs "ted widget"); the rarest SHARED
    token of two near-identical names is almost always the same token,
    since they share most words and rarity is a corpus-global property.
    Tokens with name-frequency 1 are EXCLUDED from the argmin: a token
    only one distinct name contains can never co-block a pair, yet it
    would always win the argmin (typos create unique tokens — exactly
    the names that most need linking). A name with no df≥2 token shares
    no token with any other name and is correctly unblockable.

    The scale property is stronger than first-token blocking, not
    weaker: a block's size is bounded by its token's name frequency
    (every member contains the token), and every member CHOSE it as its
    rarest — dominant tokens ("THE") can never form a block; they lose
    the argmin to any rarer word in the name.

    Plan: token df = one aggregate over distinct (name, token) pairs;
    the argmin per name is a combinable struct-min; then the same
    blocked self-join + length prefilter + JVM Levenshtein as
    :func:`fuzzy_pairs`. Three shuffles total (token df, name argmin,
    block join), each on compact rows. ``length_bucket`` composes the
    same lossless (block, length-cell) refinement as
    :func:`fuzzy_pairs`. On heavily-duplicated catalogs prefer
    :func:`rare_token_pair_histogram` — the sf0.1 part table (20k
    records over 64 distinct names) takes ~21 s here at record grain
    vs 1.5 s at name grain for identical pair counts.
    """
    toks = records.select(
        F.col(name_col).alias("name"),
        F.explode(F.split(F.col(name_col), r"\s+")).alias("tok"),
    ).distinct()
    df = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= 2)
    )
    rare = (
        toks.join(df, "tok")
        .groupBy("name")
        .agg(F.min(F.struct("__df", "tok")).alias("__m"))
        .select("name", F.col("__m.tok").alias("block"))
    )
    base = records.select(
        F.col(key_col).alias("key"),
        F.col(name_col).alias("name"),
        F.length(name_col).alias("len"),
    ).join(rare, "name")
    if length_bucket is not None:
        a, b, bucket_eq = _bucketed_sides(base, length_bucket, max_dist)
    else:
        a, b, bucket_eq = base.alias("a"), base.alias("b"), F.lit(True)
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & bucket_eq
            & (F.col("a.key") < F.col("b.key"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= F.lit(max_dist)),
        )
        .where(dist >= 0)
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("int").alias("distance"),
        )
    )


def rare_token_pair_histogram(
    records: DataFrame,
    name_col: str = "p_name",
    key_col: str = "p_partkey",
    max_dist: int = 3,
    length_bucket: int | None = None,
) -> DataFrame:
    """:func:`rare_token_pairs` aggregated to a distance histogram at
    NAME grain — the compression that makes rare-token linkage cheap on
    heavily-duplicated catalogs. The record-grain operator on the sf0.1
    part table (20k records over 64 distinct names) enumerates ~13M
    candidate record pairs and emits 4.1M rows (~21 s); this form runs
    the same Levenshtein work over 64 names and recovers identical
    record-pair counts as cnt_x·cnt_y (+ C(cnt,2) same-name at distance
    0) in well under a second — the same |records|² → |names|² move as
    :func:`fuzzy_pair_histogram`, composed with rare-token blocking.
    Names with no df≥2 token are unblockable and excluded (matching
    :func:`rare_token_pairs`, which can never pair them).
    """
    toks = records.select(
        F.col(name_col).alias("name"),
        F.explode(F.split(F.col(name_col), r"\s+")).alias("tok"),
    ).distinct()
    df = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= 2)
    )
    rare = (
        toks.join(df, "tok")
        .groupBy("name")
        .agg(F.min(F.struct("__df", "tok")).alias("__m"))
        .select("name", F.col("__m.tok").alias("block"))
    )
    names = (
        _name_grain(records, name_col, key_col)
        .drop("block")
        .join(rare, "name")
    )
    return _histogram_over_names(names, max_dist, length_bucket)


def resolve_entities(
    records: DataFrame,
    name_col: str = "p_name",
    key_col: str = "p_partkey",
    max_dist: int = 3,
    length_bucket: int | None = None,
) -> DataFrame:
    """Entity resolution: close the linkage loop from fuzzy pairs to
    ENTITY IDS — blocked name-grain near-match edges, transitive
    closure via connected components, and a canonical id (the minimum
    name of the component) stamped on every record. "red widget",
    "red widgets" and "red wadget" become one entity even though the
    first and last never matched directly.

    Plan: edges are generated at NAME grain (|distinct names|² per
    block, the same compression as the *_compressed operators); the
    component labeling is a DRIVER-side union-find whenever the
    name-pair edge list fits (counted first, same
    estimate-before-collect convention as ``arrow_topk`` — name-grain
    edges are dimension-sized by construction, and a driver pass costs
    one job where the distributed fixpoint costs O(log n) rounds of
    scheduling), falling back to `dedup.connected_components`
    (large-star/small-star) above ``ENTITY_DRIVER_UNION_MAX_EDGES``.
    Records only join the name→entity label map at the end.
    ``length_bucket`` composes the lossless composite block as
    everywhere in this module.
    """
    from pyspark.sql import Window

    from uk_housing_dashboard_etl_spark.operators.dedup import (
        connected_components,
    )

    names = (
        records.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("block", F.split(F.col("name"), r"\s+")[0])
        .withColumn("len", F.length("name"))
    )
    if length_bucket is not None:
        a, b, bucket_eq = _bucketed_sides(names, length_bucket, max_dist)
    else:
        a, b, bucket_eq = names.alias("a"), names.alias("b"), F.lit(True)
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"), max_dist)
    edges = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & bucket_eq
            & (F.col("a.name") < F.col("b.name"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= F.lit(max_dist)),
        )
        .where(dist >= 0)
        .select(
            F.col("a.name").alias("doc_a"), F.col("b.name").alias("doc_b")
        )
    )
    n_edges = edges.count()
    if n_edges <= ENTITY_DRIVER_UNION_MAX_EDGES:
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for r in edges.collect():
            ra, rb = find(r["doc_a"]), find(r["doc_b"])
            if ra != rb:
                # union by MIN name so the canonical id is deterministic
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        spark = records.sparkSession
        if rows:
            mapping = F.broadcast(
                spark.createDataFrame(rows, "name string, entity_id string")
            )
            labels = names.select("name").join(mapping, "name", "left").select(
                "name",
                F.coalesce("entity_id", F.col("name")).alias("entity_id"),
            )
        else:
            labels = names.select(
                "name", F.col("name").alias("entity_id")
            )
    else:
        labels = connected_components(
            names.select("name"), edges, id_col="name"
        ).select(
            F.col("node").alias("name"),
            F.col("cluster_id").alias("entity_id"),
        )
    n_names = labels.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_names")
    )
    recs = records.select(
        F.col(key_col).alias("key"), F.col(name_col).alias("name")
    ).join(labels, "name")
    w = Window.partitionBy("entity_id")
    # no forced broadcast: n_names is ENTITY-grain, which degenerates
    # to record grain on a catalog of unique names — AQE promotes the
    # join when the frame actually fits (same convention as
    # best_fuzzy_match_compressed's guarded hint above)
    return (
        recs.join(n_names, "entity_id")
        .select(
            "key",
            "name",
            "entity_id",
            "n_names",
            F.count(F.lit(1)).over(w).alias("n_records"),
        )
    )
