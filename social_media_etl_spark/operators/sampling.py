"""Corpus sampling / balancing operators for training-data pipelines.

Mixing a 100 TB corpus means per-source quotas and stratified rates —
applied distributively, deterministically (reruns must produce the
same dataset), and without collecting anything to the driver.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

__all__ = [
    "stratified_sample",
    "quota_per_stratum",
    "deterministic_split",
    "md5_split",
    "seeded_shuffle",
    "write_shuffled_shards",
    "importance_sample",
    "hash_uniform",
    "smoothed_mixture_sample",
    "budget_quota",
    "weighted_sample_fixed",
    "hash_uniform_open",
]


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling at the given fractions
    (``sampleBy``): one scan, no shuffle; seeded → reproducible."""
    return df.sampleBy(strata_col, dict(fractions), seed)


def quota_per_stratum(
    df: DataFrame,
    strata_col: str,
    quota: int,
    order_by: Sequence[str],
) -> DataFrame:
    """Hard cap per stratum: keep the first ``quota`` rows by a
    DETERMINISTIC order (e.g. id). Unlike sampling this is exact and
    engine-reproducible — it is the ranked top-k pattern partitioned by
    stratum, so it parallelizes per stratum."""
    w = Window.partitionBy(strata_col).orderBy(*[F.col(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def deterministic_split(
    df: DataFrame,
    key_col: str,
    weights: Mapping[str, int],
    salt: str = "split",
) -> DataFrame:
    """Stable train/val/test assignment: bucket = xxhash64(salt, key) mod
    total-weight → a row's split NEVER changes as the corpus grows
    (unlike randomSplit, which reshuffles everything on any change).
    Adds a ``split`` column."""
    total = sum(weights.values())
    bucket = F.pmod(F.xxhash64(F.lit(salt), F.col(key_col)), F.lit(total))
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def md5_split(
    df: DataFrame,
    key_col: str,
    weights: Mapping[str, int] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Stable split via the first hex digit of md5(salt:key): weights
    are sixteenths (must sum to 16). Same growth-stable property as
    :func:`deterministic_split`, but md5 is reproducible in any engine
    (the DuckDB oracle computes the identical assignment), at ~2× the
    hash cost of xxhash64 — use this when cross-engine auditability
    matters more than hash throughput."""
    weights = weights or {"train": 12, "val": 2, "test": 2}
    if sum(weights.values()) != 16:
        raise ValueError("md5_split weights are sixteenths; must sum to 16")
    # NULL keys hash the \x00null marker (like _shuffle_key) instead
    # of null-propagating into a NULL split that every filter drops
    # (r8 review: silent corpus loss vs deterministic_split's bucket)
    digit = F.substring(
        F.md5(
            F.concat(
                F.lit(salt + ":"),
                F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null")),
            ).cast("binary")
        ),
        1,
        1,
    )
    hexmap = "0123456789abcdef"
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        cond = digit <= hexmap[acc - 1]
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def seeded_shuffle(
    df: DataFrame, key_col: str, seed: int = 0
) -> DataFrame:
    """Deterministic global corpus shuffle: adds ``shuffle_key`` =
    md5(seed:key) and returns the frame ORDERED by it — the standard
    pretraining-data shuffle, done as a hash-sort instead of RNG state
    so any engine (and any rerun, at any parallelism) produces the
    identical permutation. Changing ``seed`` gives an independent
    permutation; the key itself never changes as the corpus grows, so
    incremental additions interleave into the existing order instead of
    reshuffling everything.

    A null key is hashed as the distinct marker ``\\x00null`` (not the
    empty string, which a real key could collide with), so null-key rows
    also get a stable, deterministic position (ADVICE r5); rows SHARING
    a key (null or not) share a shuffle_key and tie-break by the
    engine's partition order — give every row a unique key for a total
    order.

    Scale: a total sort is ONE range exchange (distributed sort —
    Spark samples range bounds; there is no single-partition window
    and no global rank materialization). To SHARD the shuffled corpus
    into files, use :func:`write_shuffled_shards` — files then hold
    contiguous slices of the permutation.
    """
    return (
        df.withColumn("shuffle_key", _shuffle_key(key_col, seed))
        .orderBy("shuffle_key")
    )


def _shuffle_key(key_col: str, seed: int) -> Column:
    """md5(seed:key) shuffle key shared by seeded_shuffle and
    write_shuffled_shards; null keys hash the ``\\x00null`` marker."""
    return F.md5(
        F.concat(
            F.lit(f"{seed}:"),
            F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null")),
        ).cast("binary")
    )


def write_shuffled_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    seed: int = 0,
    mode: str = "overwrite",
) -> None:
    """Sharded form of :func:`seeded_shuffle` for writing a shuffled
    corpus: hash each key to the same deterministic ``shuffle_key``,
    range-partition into ``n_shards`` and sort within each, so every
    output file holds a CONTIGUOUS slice of the global permutation —
    reading files in footer min(shuffle_key) order replays the exact
    :func:`seeded_shuffle` order (pinned by
    test_write_shuffled_shards_are_contiguous_slices).

    This is the 100 TB path: a trainer streams shards instead of one
    totally-ordered frame, and the layout costs the SAME single range
    exchange as the total sort (repartitionByRange samples bounds; the
    per-partition sort is local, no global merge)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    keyed = df.withColumn("shuffle_key", _shuffle_key(key_col, seed))
    out = (
        keyed.repartitionByRange(n_shards, F.col("shuffle_key"))
        .sortWithinPartitions("shuffle_key")
    )
    from social_media_etl_spark.write_opts import apply_light_committer

    apply_light_committer(out.write.mode(mode)).parquet(path)


def importance_sample(
    df: DataFrame,
    key_col: str,
    weight_col: Column | str,
    salt: str = "imp",
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep a row iff
    uniform(key) < weight, where uniform is the first 8 hex digits of
    md5(salt:key) mapped to [0, 1). The per-row keep probability equals
    its weight (quality-proportional corpus downsampling), yet the
    decision is a pure function of the key — reruns, retries, and
    corpus growth never flip a row's fate (unlike rand()-based
    sampling), and any engine can replay the exact sample (DuckDB
    oracle does). One scan, no shuffle, no RNG state.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    return df.filter(hash_uniform(key_col, salt) < w)


def hash_uniform(key_col: str, salt: str) -> Column:
    """Deterministic uniform in [0, 1): first 8 hex digits of
    md5(salt:key) as an integer over 2^32. Both steps are exact in
    doubles, so ANY engine replays the identical value (the DuckDB
    oracles do) — the shared acceptance variable of every
    deterministic-Bernoulli sampler here."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"),
                        # NULL keys take the marker — a NULL uniform
                        # would silently fail every comparison (drop in
                        # the Bernoulli samplers) or sort FIRST and win
                        # unconditionally in the A-ES top-k (r8 review)
                        F.coalesce(
                            F.col(key_col).cast("string"), F.lit("\x00null")
                        ),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )


def hash_uniform_open(key_col: str, salt: str) -> Column:
    """Deterministic uniform in the OPEN interval (0, 1):
    (hash32 + 0.5) / 2^32 — for consumers that take a log of u (the
    exponential-jitter sampler), where u = 0 would be NULL in Spark
    and an error in DuckDB. Same exact-in-doubles cross-engine
    property as :func:`hash_uniform`."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"),
                        # NULL keys take the marker — a NULL uniform
                        # would silently fail every comparison (drop in
                        # the Bernoulli samplers) or sort FIRST and win
                        # unconditionally in the A-ES top-k (r8 review)
                        F.coalesce(
                            F.col(key_col).cast("string"), F.lit("\x00null")
                        ),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))


def smoothed_mixture_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    alpha: float = 0.5,
    salt: str = "mix",
) -> DataFrame:
    """α-smoothed source mixing: downsample so each source's expected
    share of the output is ∝ n_s^alpha — the published multilingual /
    multi-corpus sampling-exponent scheme (alpha≈0.5-0.7 flattens a
    long-tailed source distribution toward uniform without discarding
    the head entirely; alpha=1 keeps natural proportions, alpha=0
    targets uniform). Per-source keep rate r_s = (n_s/n_min)^(alpha-1),
    anchored so the SMALLEST source keeps everything (rate 1) and
    larger sources thin out; the keep decision is the deterministic
    md5(salt:key) Bernoulli, so reruns and corpus growth never flip a
    kept row and any engine replays the sample. Adds ``mix_rate``
    (rounded to 9 dp — past the 2^-32 resolution of the acceptance
    variable, but engine-exact so Spark and the oracle accept the
    identical row set despite last-ulp pow() differences).

    A NULL source is a real stratum: rows with a null ``source_col``
    are counted, rated, and sampled as their own group (internally the
    join keys on a null-marker normalization — a plain equi-join would
    silently DROP every null-source row while their count still
    deflated n_min and every real source's rate with it).

    Scale: the rates come from one tiny source-count aggregate
    broadcast back — the BIG side is never shuffled; one scan + a
    broadcast hash join + a pure-expression filter.
    """
    if not (0.0 <= alpha <= 1.0):
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    src = F.coalesce(F.col(source_col).cast("string"), F.lit("\x00null"))
    keyed = df.withColumn("__src", src)
    counts = keyed.groupBy("__src").agg(F.count(F.lit(1)).alias("__n_s"))
    n_min = counts.agg(F.min("__n_s").alias("__n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "__src",
        F.round(
            F.pow(
                F.col("__n_s").cast("double") / F.col("__n_min"),
                F.lit(alpha - 1.0),
            ),
            9,
        ).alias("mix_rate"),
    )
    return (
        keyed.join(F.broadcast(rates), "__src")
        .filter(hash_uniform(key_col, salt) < F.col("mix_rate"))
        .drop("__src")
    )


def budget_quota(
    df: DataFrame,
    stratum_col: str,
    size_col: str,
    budget: int,
    order_by: Sequence[str | Column],
) -> DataFrame:
    """Per-stratum SIZE budget (token-budget curation): order each
    stratum deterministically (quality-first), take rows while the
    running total of ``size_col`` stays within ``budget``. The
    data-mixing primitive 'give every source at most N tokens, best
    documents first'. One shuffle (window partitioned by stratum);
    output size is bounded by strata × budget regardless of corpus
    size. Adds ``cum_{size_col}`` (the running total including the
    current row).

    Edge case (deliberate, ADVICE r4): the filter is on the CUMULATIVE
    total, so a stratum whose first-ordered row alone exceeds the
    budget emits ZERO rows for that stratum — an oversize head blocks
    everything behind it. This is whole-document curation semantics
    (documents are never truncated to fit); pre-cap ``size_col`` at the
    budget — or chunk oversize documents first (operators/chunking.py)
    — if partial inclusion of the head document is wanted."""
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(*[F.col(c) if isinstance(c, str) else c for c in order_by])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = f"cum_{size_col}"
    return df.withColumn(cum, F.sum(size_col).over(w)).filter(
        F.col(cum) <= budget
    )


def weighted_sample_fixed(
    df: DataFrame,
    key_col: str,
    weight_col: Column | str,
    k: int,
    salt: str = "aes",
) -> DataFrame:
    """EXACT-size weighted sample without replacement (Efraimidis &
    Spirakis A-ES, the exponential-jitter form): each row draws
    e = −ln(u)/w with u = md5-uniform(key); the k SMALLEST e values
    are the sample, giving weight-proportional inclusion. Complements
    :func:`importance_sample` (independent Bernoulli → random output
    SIZE) when the budget is a hard row count.

    Deterministic end to end: u is a pure function of the key, so
    reruns, retries, and any engine replay the identical sample — and
    the top-k is a distributed TakeOrdered (per-partition heads, no
    global sort materialization). Rows with non-positive weight are
    excluded (their jitter is undefined). u uses the OPEN-interval
    mapping (hash32 + 0.5) / 2^32 ∈ (0, 1): the half-open
    ``hash_uniform`` can return exactly 0, where Spark's non-ANSI
    log(0) yields NULL (a NULL jitter sorts FIRST and would enter the
    sample unconditionally) while DuckDB's ln(0) raises — review r6.
    Returns the sampled rows with the jitter in ``__e``.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    e = -F.log(hash_uniform_open(key_col, salt)) / w
    return (
        df.filter(w > 0)
        .withColumn("__e", e)
        .orderBy("__e", key_col)
        .limit(k)
    )
