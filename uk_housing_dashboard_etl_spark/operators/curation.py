"""Corpus-curation operators: PII redaction, deterministic sampling,
train/val/test splitting.

All single-scan column expressions. Sampling/splitting use a
multiplicative integer hash (Knuth 2654435761) on the id — exact 64-bit
arithmetic, so assignments are reproducible across engines, runs, and
partitionings (unlike ``rand()`` or engine-specific hash functions),
and a document keeps its split forever as the corpus grows.

Scale notes: redaction is regexp work inside codegen; sampling/splits
are stateless row-local predicates — no shuffle anywhere. The split
summary is one map-side-combinable aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761  # golden-ratio multiplicative hashing constant

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 ()-]{7,}[0-9]"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Replace emails/phones/IPv4s with typed placeholder tags; report
    per-doc match counts so downstream filters can drop PII-heavy docs.

    NULL text (failed fetches) carries zero PII: counts coalesce to 0
    and ``has_pii`` is false, so the row keeps deterministic filter
    behavior under both ``where(has_pii)`` and ``where(~has_pii)`` —
    un-coalesced, the NULL propagated into ``has_pii`` and the doc
    silently vanished from BOTH filters (same null-edge class as the
    r10 sample_frames/winsorized fixes). ``redacted_text`` stays NULL:
    there is nothing to redact, and inventing '' would alias a failed
    fetch with a genuinely empty document downstream."""
    text = F.col(text_col)
    # F.regexp_extract_all with a lit pattern: avoids SQL-string escape
    # mangling of backslashes in the regex
    n_email = F.coalesce(
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0))), F.lit(0)
    )
    n_phone = F.coalesce(
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0))), F.lit(0)
    )
    n_ip = F.coalesce(
        F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), F.lit(0))), F.lit(0)
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        redacted.alias("redacted_text"),
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        n_ip.alias("n_ips"),
        ((n_email + n_phone + n_ip) > 0).alias("has_pii"),
    )


def _hash_pct(id_col: str) -> Column:
    """Deterministic pseudo-uniform percentile in [0, 100) from an id:
    exact 64-bit multiplicative hash — identical in any engine."""
    return (
        (F.col(id_col) * F.lit(KNUTH)) % F.lit(1_000_000_007)
    ) % F.lit(100)


def hash_sample(
    df: DataFrame, id_col: str, percent: int = 10
) -> DataFrame:
    """Keep a deterministic ~``percent``% sample keyed on the id.

    Membership is stable: re-running over a grown corpus re-selects
    exactly the same surviving ids (unlike ``df.sample``)."""
    return df.where(_hash_pct(id_col) < percent)


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): every row draws key = u^(1/w) from a deterministic
    pseudo-uniform u and the k largest keys win — inclusion odds
    proportional to weight, membership reproducible across runs,
    engines, and partitionings (u is the same exact multiplicative
    hash as :func:`hash_sample`, never an RNG).

    The mixture-sampling primitive ``temperature_mix`` rate-scales
    can't give you: a hard row BUDGET (exactly k docs for a pilot run
    or eval slice) while still favouring high-weight rows. Rows with
    non-positive weight are excluded (u^(1/w) is undefined there, and
    "weight 0" means "never sample" in every A-ES formulation).

    Plan: one row-local key expression + global top-k. Spark compiles
    ``orderBy(key).limit(k)`` to TakeOrderedAndProject — per-partition
    heaps of k rows and a k-row driver merge, NO full sort shuffle —
    so the cost at 100 TB is one scan, same as the filter samplers.
    """
    u = (
        ((F.col(id_col) * F.lit(KNUTH)) % F.lit(1_000_000_007)).cast(
            "double"
        )
        + F.lit(0.5)
    ) / F.lit(1_000_000_007.0)
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__aes_key", key)
        .orderBy(F.col("__aes_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__aes_key")
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, int],
    default_percent: int = 10,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep ``rates[stratum]``% of
    each stratum's rows (``default_percent`` for unlisted strata) —
    the rebalancing primitive for corpus mixing (e.g. downsample the
    dominant language, keep all of a rare one).

    Same multiplicative id hash as :func:`hash_sample`, so membership is
    stable as the corpus grows and across engines; the per-stratum
    threshold is just a CASE expression — a stateless row-local
    predicate, no shuffle, no sort, at any scale.
    """
    threshold: Column | None = None
    for value in sorted(rates):
        cond = F.col(strata_col) == value
        if threshold is None:
            threshold = F.when(cond, F.lit(rates[value]))
        else:
            threshold = threshold.when(cond, F.lit(rates[value]))
    threshold = (
        threshold.otherwise(F.lit(default_percent))
        if threshold is not None
        else F.lit(default_percent)
    )
    return df.where(_hash_pct(id_col) < threshold)


def dataset_split(
    df: DataFrame,
    id_col: str,
    val_percent: int = 10,
    test_percent: int = 10,
) -> DataFrame:
    """Assign train/val/test via the deterministic id hash.

    [0, test) → test; [test, test+val) → val; rest → train.
    """
    pct = _hash_pct(id_col)
    split = (
        F.when(pct < test_percent, F.lit("test"))
        .when(pct < test_percent + val_percent, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose text
    shares ≥ ``threshold`` distinct word ``n``-grams with a benchmark
    corpus (the standard eval-leakage guard for training-data pipelines;
    production runs use n≈8-13, short synthetic docs here use n=3).

    Shape: explode each side to its DISTINCT per-doc n-grams, inner-join
    on ngram, count hits per doc, left-join back onto the candidate set
    so clean docs report 0. The benchmark n-gram set is a real eval
    suite — thousands of docs, not corpus-scale — so it broadcasts and
    the corpus never shuffles; per-doc dedup of n-grams happens map-side
    inside ``array_distinct`` before the explode.
    """
    bench_grams = (
        _doc_ngrams(benchmark, text_col, id_col, n).select("ngram").distinct()
    )
    cand_grams = _doc_ngrams(documents, text_col, id_col, n)
    hits = (
        cand_grams.join(F.broadcast(bench_grams), "ngram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("ngram_hits"))
    )
    cand = documents.select(F.col(id_col).alias("doc_id"))
    return cand.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("ngram_hits"), F.lit(0)).alias("ngram_hits"),
        (F.coalesce(F.col("ngram_hits"), F.lit(0)) >= threshold).alias(
            "contaminated"
        ),
    )


def build_bloom(
    items: DataFrame, col: str = "ngram", m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """Build a Bloom filter over a column as a tiny (word, bits) bitmap
    table — ``m_bits`` bits packed 64 per long, ``k`` probes per item
    from ``xxhash64(value, seed)``.

    Spark 4 doesn't expose ``bloom_filter_agg`` in the public registry,
    so the bitmap is a first-class DataFrame: one ``bit_or`` aggregation
    over the set bits, at most ``m_bits/64`` rows (a 2^20-bit filter is
    ≤ 16384 rows ≈ 256 KB — broadcastable regardless of how many
    billions of items went in). No false negatives ever; false-positive
    rate ≈ (1 − e^{-kn/m})^k, the standard Bloom bound.
    """
    probes = items.select(
        F.explode(
            F.array(*[
                F.pmod(F.xxhash64(F.col(col), F.lit(j)), F.lit(m_bits))
                for j in range(k)
            ])
        ).alias("pos")
    )
    return probes.groupBy(
        (F.col("pos") / 64).cast("long").alias("word")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("bits")
    )


def bloom_might_contain(
    df: DataFrame,
    bloom: DataFrame,
    col: str = "ngram",
    m_bits: int = 1 << 20,
    k: int = 5,
    out_col: str = "in_bloom",
) -> DataFrame:
    """Probe a :func:`build_bloom` bitmap: ``out_col`` is true iff ALL
    ``k`` probe bits are set (the Bloom membership test). The bitmap
    joins broadcast on the word index, so the probed side never
    shuffles — the point of a Bloom filter at 100 TB, where the exact
    membership set would be too large to broadcast."""
    probed = df.withColumn(
        "__probe", F.explode(F.array(*[F.lit(j) for j in range(k)]))
    ).withColumn(
        "__pos", F.pmod(F.xxhash64(F.col(col), F.col("__probe")), F.lit(m_bits))
    ).withColumn(
        "__word", (F.col("__pos") / 64).cast("long")
    ).withColumn(
        "__mask",
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))"),
    )
    hit = probed.join(F.broadcast(bloom), F.col("__word") == F.col("word"), "left")
    bit_set = F.coalesce(
        F.col("bits").bitwiseAND(F.col("__mask")) != 0, F.lit(False)
    )
    return (
        hit.groupBy(*df.columns)
        .agg(F.min(bit_set).alias(out_col))
    )


def decontaminate_bloom(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Scale path for :func:`decontaminate`: benchmark n-gram membership
    via a Bloom bitmap instead of the exact broadcast set.

    The exact path broadcasts every distinct benchmark n-gram string; at
    a few hundred bytes per gram that stops fitting once the eval suite
    grows past ~10M grams. The Bloom bitmap is fixed-size (``m_bits/8``
    bytes — 128 KB at the default) no matter the benchmark size, no
    false negatives (every truly contaminated doc is flagged), and a
    tunable false-positive rate that only ever OVER-counts hits — the
    conservative direction for a leakage guard. Gate query
    ``decontaminate_bloom_check`` asserts the no-false-negative
    containment against the exact path.
    """
    bench_grams = (
        _doc_ngrams(benchmark, text_col, id_col, n).select("ngram").distinct()
    )
    bloom = build_bloom(bench_grams, "ngram", m_bits, k)
    cand_grams = _doc_ngrams(documents, text_col, id_col, n)
    flagged = bloom_might_contain(cand_grams, bloom, "ngram", m_bits, k)
    hits = (
        flagged.where(F.col("in_bloom"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("bloom_hits"))
    )
    cand = documents.select(F.col(id_col).alias("doc_id"))
    return cand.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("bloom_hits"), F.lit(0)).alias("bloom_hits"),
        (F.coalesce(F.col("bloom_hits"), F.lit(0)) >= threshold).alias(
            "contaminated"
        ),
    )


def _doc_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc_id, ngram) pairs, distinct per doc — whitespace word grams.

    array_remove: split("") yields [""] — an empty doc must have an
    EMPTY gram set at every n, or all empties share the "" unigram."""
    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), ""
    )
    grams = F.expr(
        f"""CASE WHEN size(__toks) < {n} THEN array()
             ELSE array_distinct(transform(sequence(0, size(__toks) - {n}),
                                 i -> concat_ws(' ', slice(__toks, i + 1, {n}))))
            END"""
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .select("doc_id", F.explode(grams).alias("ngram"))
    )


def split_summary(
    df: DataFrame, id_col: str, val_percent: int = 10, test_percent: int = 10
) -> DataFrame:
    """Per-split doc counts — the sanity mart for a split assignment."""
    return (
        dataset_split(df, id_col, val_percent, test_percent)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def source_cap(
    documents: DataFrame,
    cap: int = 25,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-source quota (the Dolma/C4 per-domain cap): keep at most
    ``cap`` docs per source, preferring higher ``quality_score``, doc_id
    ascending as the deterministic tie-break. Returns
    (doc_id, source, quality, source_rank).

    Exact two-phase top-k for skew safety: phase 1 ranks within
    (source, salt) — a deterministic hash salt, ``salt_buckets`` ways —
    and keeps ``cap`` per salted subgroup, which provably preserves every
    global top-``cap`` row (rank within a subset never exceeds rank
    within the whole). Phase 2 ranks the ≤ cap·salt_buckets survivors
    per source.

    Verified plan (Spark 4): each exchange is preceded by a Partial
    ``WindowGroupLimit``, so map tasks already emit ≤ cap rows per key —
    a PLAIN row_number top-k is therefore also skew-bounded, but its
    final per-source task still receives cap × (map task count) rows,
    which grows with cluster size (1M rows at cap=10 on 100k input
    splits). The salt phase pins that final input at cap·salt_buckets
    (160 rows) no matter how wide the scan, at the price of one extra
    tiny exchange. FileScan prunes to (doc_id, text, source).
    """
    from pyspark.sql import Window

    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        quality_score,
    )

    scored = quality_score(
        documents, id_col=id_col, keep_cols=(source_col,)
    ).select("doc_id", F.col(source_col).alias("source"), "quality")
    salt = ((F.col("doc_id") * F.lit(KNUTH)) % F.lit(1_000_000_007)) % F.lit(
        salt_buckets
    )
    w1 = Window.partitionBy("source", "__salt").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    pruned = (
        scored.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= cap)
        .drop("__salt", "__r1")
    )
    w2 = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        pruned.withColumn("source_rank", F.row_number().over(w2))
        .where(F.col("source_rank") <= cap)
        .select(
            "doc_id",
            "source",
            "quality",
            F.col("source_rank").cast("int").alias("source_rank"),
        )
    )


def curate_corpus(
    documents: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end curation mart: keep/drop filter funnel, then exact
    dedup keeping each group's canonical (minimum-id) document, then the
    per-(lang, source) corpus inventory a dataset card reports.

    Output per group: ``n_docs`` (input), ``n_kept`` (past the filters),
    ``n_final`` (after dedup), ``tokens_final`` (token budget of the
    surviving corpus).

    Scale shape: ONE scan of the corpus, zero joins. The funnel verdict,
    group keys, and content hash are computed row-locally in the same
    projection (``filter_funnel(carry_cols=...)``), then a single window
    over the 32-char content hash finds each duplicate group's canonical
    kept doc — partitioning by the hash of ALL docs is uniform (dropped
    docs land in their own hash groups), so there is no null-key skew —
    and the final rollup is one partial+final hash agg. The join
    formulation this replaces scanned the corpus three times.
    """
    from pyspark.sql import Window

    from uk_housing_dashboard_etl_spark.operators.dedup import _norm_text
    from uk_housing_dashboard_etl_spark.operators.text_analysis import filter_funnel

    hashed = documents.withColumn(
        "__chash", F.md5(_norm_text(F.col(text_col)))
    )
    verdict = filter_funnel(
        hashed,
        text_col=text_col,
        id_col=id_col,
        carry_cols=(*group_cols, "__chash"),
    )
    canon_id = F.min(
        F.when(F.col("keep"), F.col("doc_id"))
    ).over(Window.partitionBy("__chash"))
    enriched = verdict.withColumn(
        "final", F.col("keep") & (F.col("doc_id") == canon_id)
    )
    return enriched.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.count(F.when(F.col("final"), 1)).alias("n_final"),
        F.sum(F.when(F.col("final"), F.col("n_tokens")).otherwise(0)).alias(
            "tokens_final"
        ),
    )


def temperature_mix(
    documents: DataFrame,
    alpha: float = 0.7,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based source rebalancing (the mT5/XLM-R multinomial
    mix): downsample each source with keep-rate (n_min / n_s)^(1-alpha),
    so the smallest source keeps everything and dominant sources flatten
    toward it; alpha=1 keeps the natural distribution, alpha=0 equalizes.

    Membership uses the same multiplicative id hash as ``hash_sample``
    (1e-6 granularity) — deterministic, engine-portable, stable as the
    corpus grows. Two passes: a per-source count aggregate (tiny) whose
    result broadcasts into the row-local keep predicate — no shuffle
    ever touches document bodies.

    Output: one row per source with its natural size, keep rate and
    post-mix size.
    """
    counts = documents.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        source_col,
        "n_docs",
        F.pow(
            F.col("n_min").cast("double") / F.col("n_docs"),
            F.lit(1.0 - alpha),
        ).alias("__rate"),
    )
    # materialize the (tiny) per-source rate table once: it feeds both
    # the keep predicate and the final output, and without this the plan
    # re-runs the corpus count aggregate for each consumer
    rates = rates.localCheckpoint(eager=True)
    u = (
        ((F.col(id_col) * F.lit(KNUTH)) % F.lit(1_000_000_007))
        % F.lit(1_000_000)
    ) / F.lit(1_000_000.0)
    kept = (
        documents.select(id_col, source_col)
        .withColumn("__u", u)
        .join(F.broadcast(rates.select(source_col, "__rate")), source_col)
        .where(F.col("__u") < F.col("__rate"))
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    from uk_housing_dashboard_etl_spark.functions.rounding import round4

    return rates.join(kept, source_col, "left").select(
        source_col,
        "n_docs",
        round4(F.col("__rate")).alias("rate"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
    )


def pack_sequences(
    documents: DataFrame,
    budget_tokens: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed
    token-budget bins — the batching step before training, where short
    docs are concatenated up to a context-length budget.

    Docs spread over ``n_shards`` via the portable multiplicative hash,
    then each shard packs independently: order by (hash, id), running
    token total, ``bin_idx = floor((cum - tokens) / budget)`` — a doc
    starts a new bin when the previous ones filled the budget
    (cumulative-boundary packing: deterministic and one window pass, vs
    first-fit which is inherently sequential). Per-shard windows keep
    every partition independent — no global sort, no single-reducer
    funnel, shards scale with the cluster.

    Output: (doc_id, shard, bin_idx, n_tokens) — a (shard, bin_idx)
    group is one packed training sequence.
    """
    # array_remove: an empty doc packs with n_tokens 0 (it consumes no
    # budget), not a phantom 1 from split("") == [""]. coalesce: a NULL
    # text is no content too — size(null) is null, which would leave
    # the doc with a NULL bin_idx (unassigned by the packing plan).
    toks = F.size(
        F.array_remove(
            F.split(
                F.lower(
                    F.trim(
                        F.regexp_replace(
                            F.coalesce(F.col(text_col), F.lit("")),
                            r"\s+",
                            " ",
                        )
                    )
                ),
                " ",
            ),
            "",
        )
    )
    hashed = documents.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("n_tokens"),
        (
            ((F.col(id_col) * F.lit(KNUTH)) % F.lit(1_000_000_007))
            % F.lit(n_shards)
        ).cast("int").alias("shard"),
        ((F.col(id_col) * F.lit(KNUTH)) % F.lit(1_000_000_007)).alias("__h"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return hashed.select(
        "doc_id",
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(budget_tokens))
        .cast("int")
        .alias("bin_idx"),
        "n_tokens",
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots: per doc id,
    ``added`` (new only), ``removed`` (old only), ``changed`` (both,
    content hash differs), or ``unchanged`` — what a training-data
    release process reviews before promoting a snapshot, and the input
    to incremental re-tokenization (only added+changed re-process).

    Plan: each side reduces to (id, md5-of-normalized-text) BEFORE the
    full-outer join, so the shuffle carries 40-byte rows, never
    document bodies; with both snapshots stored bucketed by id the
    exchange disappears entirely. Output: ``doc_id, status, old_hash,
    new_hash``.

    Presence is tracked by explicit markers, NOT hash nullity, and the
    content comparison is null-safe: a doc whose text is NULL (failed
    fetch) hashes to a NULL ``md5``, so the pre-r10 hash-nullity test
    misreported a present-in-both doc as ``added``/``removed`` the
    moment one side's text was NULL, and ``NULL -> real`` content
    transitions fell through a null-unsafe ``!=`` to ``unchanged``
    (r10 empty/NULL sweep finding). Now: presence decides added/
    removed; ``eqNullSafe`` decides changed/unchanged, so
    ``NULL -> 'x'`` is ``changed`` and ``NULL -> NULL`` is
    ``unchanged``.
    """
    from uk_housing_dashboard_etl_spark.operators.dedup import _norm_text

    o = old.select(
        F.col(id_col).alias("doc_id"),
        F.md5(_norm_text(F.col(text_col))).alias("old_hash"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        F.md5(_norm_text(F.col(text_col))).alias("new_hash"),
        F.lit(True).alias("__in_new"),
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("old_hash").eqNullSafe(F.col("new_hash")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    # NULL-id rows are OUT OF CONTRACT (r10 advice): the full outer
    # join's equi-key never matches NULL to NULL, so a doc with a NULL
    # id present in both snapshots would surface as one 'removed' plus
    # one 'added' row instead of changed/unchanged. That mirrors SQL
    # join semantics, and identity-less rows have no meaningful diff —
    # callers with nullable ids must filter or synthesize ids first.
    return o.join(n, "doc_id", "full").select(
        "doc_id", status.alias("status"), "old_hash", "new_hash"
    )


def importance_resample(
    documents: DataFrame,
    target,
    k: int = 100,
    temperature: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR selection step (Xie et al. 2023): sample ``k`` documents
    with probability ∝ exp(dsir_score / T) via the Gumbel-top-k trick —
    rank by ``score/T + Gumbel noise`` and keep the top k, which is
    exactly sampling-without-replacement under the softmax. The noise
    is DERANDOMIZED: u comes from the same multiplicative id hash as
    :func:`hash_sample`, so the "sample" is reproducible across runs,
    engines, and corpus growth — the property a training-data release
    needs from its selection step.

    Plan: the scoring pass is :func:`text_analysis.dsir_scores` (one
    corpus scan, term-keyed exchange); selection adds only a row-local
    key computation and the TakeOrderedAndProject global top-k — no
    extra shuffle. Both the Gumbel term and the final key are 4dp-
    quantized so the rank order is bit-identical in the SQL oracle.
    """
    from uk_housing_dashboard_etl_spark.functions.rounding import round4
    from uk_housing_dashboard_etl_spark.functions.topk import (
        deterministic_topk,
    )
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        dsir_scores,
    )

    scores = dsir_scores(documents, target, text_col, id_col)
    u = (
        ((F.col("doc_id") * F.lit(KNUTH)) % F.lit(1_000_000_007))
        % F.lit(10_000)
        + F.lit(0.5)
    ) / F.lit(10_000.0)
    gumbel = round4(-F.log(-F.log(u)))
    keyed = scores.select(
        "doc_id",
        "dsir_score",
        round4(
            F.col("dsir_score") / F.lit(float(temperature)) + gumbel
        ).alias("sample_key"),
    )
    return deterministic_topk(
        keyed, [F.col("sample_key").desc(), F.col("doc_id")], k
    )


def split_leakage(
    documents: DataFrame,
    threshold: float = 0.5,
    method: str = "exact",
    val_percent: int = 10,
    test_percent: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval leakage guard: after the hash split, find train
    documents that are NEAR-DUPLICATES of a val/test document (n-gram
    Jaccard ≥ ``threshold``) and flag them for removal — the
    contamination ``decontaminate`` can't catch, because a paraphrased
    eval doc shares few exact n-grams windows but a high Jaccard.
    Benchmarks leak into training sets this way (Lee et al. 2022 §6).

    Output: one row per train doc — ``doc_id, leaks_to, n_eval_dups,
    leaky`` where ``leaks_to`` is the smallest offending eval doc id
    (NULL when clean).

    ``method='exact'`` uses the all-pairs shingle join (the oracle
    baseline — quadratic, sf-scale only); ``method='minhash'`` swaps in
    banded LSH pairs, the 100 TB path, same downstream shape. The pair
    frame is filtered to cross-split pairs BEFORE the aggregate, so
    the flag join carries only offending ids.
    """
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    split_doc = dataset_split(documents, id_col, val_percent, test_percent)
    if method == "exact":
        pairs = ngram_jaccard_pairs(
            documents, text_col, id_col, threshold=threshold
        )
    elif method == "minhash":
        pairs = minhash_lsh_pairs(
            documents, text_col, id_col, threshold=threshold
        )
    else:
        raise ValueError(f"unknown method {method!r}")

    assign = split_doc.select(F.col(id_col).alias("doc_id"), "split")
    sa = assign.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = assign.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    tagged = pairs.select("doc_a", "doc_b").join(sa, "doc_a").join(sb, "doc_b")
    # normalize to (train doc, eval doc) regardless of pair orientation
    cross = tagged.where(F.col("split_a") != F.col("split_b")).select(
        F.when(F.col("split_a") == "train", F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("train_id"),
        F.when(F.col("split_a") == "train", F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("eval_id"),
        F.when(F.col("split_a") == "train", F.col("split_a"))
        .otherwise(F.col("split_b"))
        .alias("__t"),
    ).where(F.col("__t") == "train")
    offenders = cross.groupBy(F.col("train_id").alias("doc_id")).agg(
        F.min("eval_id").alias("leaks_to"),
        F.count(F.lit(1)).alias("n_eval_dups"),
    )
    train = assign.where(F.col("split") == "train").select("doc_id")
    return train.join(offenders, "doc_id", "left").select(
        "doc_id",
        "leaks_to",
        F.coalesce("n_eval_dups", F.lit(0)).alias("n_eval_dups"),
        F.col("leaks_to").isNotNull().alias("leaky"),
    )


def epoch_shards(
    documents: DataFrame,
    n_epochs: int = 2,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic multi-epoch dataloader plan: for every (epoch,
    doc), the shard a reader worker should fetch it from and its read
    position WITHIN that shard — i.e. the resumable global-shuffle
    schedule an LLM training run consumes (each of ``n_shards`` workers
    streams its shard sequentially; different epochs see independent
    permutations). Output: ``doc_id, epoch (0-based), shard, pos
    (0-based within (epoch, shard))``.

    Determinism: order and shard both derive from the exact 64-bit
    multiplicative hash of (id ⊕-mixed epoch) — no rand(), identical
    in any engine, so a crashed run re-derives byte-identical epoch
    plans from nothing but the seed-free id set.

    Plan shape: positions are per-(epoch, shard) ``row_number`` — a
    GLOBAL sequence number would funnel the corpus through one
    partition (the classic window anti-pattern), while shard-local
    positions are exactly what dataloaders need AND bound every window
    partition at |corpus|/n_shards. One explode (n_epochs×, model-grain
    constant), one hash-keyed exchange; at 100 TB this plan IS the
    shard-writing job's sort key (epoch, shard, pos).
    """
    from pyspark.sql import Window

    if n_epochs < 1 or n_shards < 1:
        raise ValueError("n_epochs and n_shards must be >= 1")
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array(*[F.lit(e) for e in range(n_epochs)])
        ).alias("epoch"),
    )
    # epoch-mixed multiplicative hash: the +1 keeps epoch 0 from
    # degenerating to the raw id order. The id is reduced mod p FIRST,
    # so every intermediate is overflow-safe for the ENTIRE bigint id
    # domain (worst case: (p−1) + n_epochs·KNUTH ≈ 1e9 + n·2.65e9, then
    # ·KNUTH < 2.65e18 < 2^63) — without the leading mod, an id near
    # 2^63 would wrap in Spark but promote to HUGEINT in DuckDB, and
    # the two engines would silently derive different schedules. The
    # mod sign convention (sign of the dividend) matches between Spark
    # and DuckDB, so even negative ids stay engine-identical.
    h = (
        (
            (F.col("doc_id") % F.lit(1_000_000_007))
            + (F.col("epoch") + 1) * F.lit(KNUTH)
        )
        % F.lit(1_000_000_007)
        * F.lit(KNUTH)
    ) % F.lit(1_000_000_007)
    keyed = base.select(
        "doc_id", "epoch", h.alias("__h"),
        (h % F.lit(n_shards)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("__h", "doc_id")
    return keyed.select(
        "doc_id",
        "epoch",
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )
