"""Mergeable sketches + deterministic corpus shuffle (brief §extras).

Two pieces of the bookkeeping layer a 10^12-document curation run needs
around the operators in this package, each built so Spark and the DuckDB
oracle evaluate bit-identical integer arithmetic:

* **HyperLogLog-style distinct registers** (:func:`hll_registers`,
  :func:`hll_merge`, :func:`hll_estimate`) — Flajolet et al. 2007.  At
  crawl scale "distinct urls per (host, day)" as an exact
  ``count(distinct)`` is a full shuffle of every url string per group;
  the HLL register table is ≤ ``m`` BIGINTs per group, built by ONE
  partial-agg groupBy max (map-side combine collapses each partition to
  ≤ groups×m cells before the exchange), and register tables from
  different days/segments union-max together without touching raw data
  — the property that makes incremental crawl accounting possible.
  Determinism: the bucket and the rank both come from one md5; the
  estimator is evaluated in a FIXED integer order (see
  :func:`hll_estimate`) so the same registers give the same estimate on
  every engine, shuffle order, and re-run.  The raw-HLL estimator is
  used as published; the small-range linear-counting correction needs a
  logarithm, so instead of a float ``ln`` the function emits
  ``zero_registers`` alongside the estimate and leaves the regime choice
  to the consumer (our contract query pins both columns).

* **Deterministic global corpus shuffle** (:func:`corpus_shuffle`) —
  the example-order randomization every LM training run does before
  sharding.  ``ORDER BY rand()`` at 10^12 rows is a corpus-wide sort
  with a non-reproducible key; keying by ``md5(seed || doc_id)`` gives a
  shuffle that is (a) statistically uniform, (b) reproducible from the
  seed alone (resume/audit re-derive the same order), and (c) a plain
  hash repartition: shard = key mod n_shards, within-shard position =
  rank of the key inside the shard.  The within-shard rank is a window
  partitioned BY SHARD — parallel across shards, and per-task bounded
  because ``n_shards`` is chosen for target file size exactly as real
  training-shard writers do (10^12 docs / 2^16 shards ≈ 1.5e7 rows per
  sort task).  The physical write path is ``repartition(shard) →
  sortWithinPartitions(skey)``; the explicit ``pos`` column exists so
  the order itself is contract-checkable.

Scale notes (100 TB): nothing here collects, cross-joins, or windows
over an unbounded partition; every shuffle is bounded by sketch size
(HLL: groups×m cells) or is the intended
repartition itself (shuffle: one exchange on the shard key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Fixed tags keep the two hash families independent of each other and of
# the md5 uses elsewhere in the package (dedup shingles, split buckets, ...).
_HLL_TAG = "hll:"
_SHUF_TAG = "shuf:"

# The remainder drawn for the HLL rank is 32 bits (8 hex chars), so ranks
# are in [1, 33] and 2^(33-reg) fits comfortably in BIGINT even summed over
# every register (m * 2^33 ≤ 2^41 for m ≤ 256).
_HLL_RANK_BITS = 33


def _hll_cols(key_col, m: int):
    """(bucket, rho) columns for one key — both derived from ONE md5."""
    h = F.md5(F.concat(F.lit(_HLL_TAG), F.col(key_col).cast("string")))
    # first 2 hex chars = 8 uniform bits; m must divide 256 so the mod is
    # exactly uniform (low-bit selection of a uniform byte)
    bucket = (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % m).alias("bucket")
    r32 = F.conv(F.substring(h, 3, 8), 16, 10).cast("long")
    # rank = leading zeros of the 32-bit remainder + 1 = 33 - bit_length;
    # bin(x) has length bit_length(x) for x >= 1, and the all-zero
    # remainder takes the max rank by convention
    rho = (
        F.when(r32 == 0, F.lit(_HLL_RANK_BITS))
        .otherwise(F.lit(_HLL_RANK_BITS) - F.length(F.bin(r32)))
        .cast("long")
        .alias("rho")
    )
    return bucket, rho


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    m: int = 64,
) -> DataFrame:
    """Per-group HLL register table: (group..., bucket, reg).

    ONE groupBy max — partial aggregation collapses each input partition
    to ≤ |groups|·m cells before the exchange, so the shuffle is bounded
    by the sketch size regardless of corpus size.  Absent (group,
    bucket) rows mean register value 0 (no key hashed there);
    :func:`hll_estimate` accounts for them without materializing zeros.
    """
    if 256 % m != 0:
        raise ValueError(f"m must divide 256 for an exactly-uniform bucket: {m}")
    bucket, rho = _hll_cols(key_col, m)
    return (
        df.select(*group_cols, bucket, rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge two register tables built with the same (key_col, m).

    union → groupBy max: the lossless HLL merge (max is idempotent,
    commutative, associative), which is why yesterday's sketch plus
    today's segment equals the sketch of the union — no raw keys move.
    """
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("reg").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: tuple[str, ...] = (), m: int = 64
) -> DataFrame:
    """Raw-HLL cardinality estimate per group, integer-exact.

    E = alpha_m · m² / Σ_j 2^(-M_j), evaluated entirely in BIGINT in a
    FIXED order so every engine produces the identical value:

      S  = Σ_present 2^(33 - reg)  +  zero_registers · 2^33
      t  = (7213·m³) div (10000·m + 10790)        -- alpha_m·m², scaled
      E  = (t · 2^33) div S

    (alpha_m = 0.7213/(1 + 1.079/m) per Flajolet et al.; t ≤ ~4.7e4 and
    t·2^33 ≤ ~4.1e14 for m ≤ 256, so nothing overflows.)  Emits
    ``zero_registers`` so a consumer can detect the small-range regime
    where published HLL switches to linear counting (that correction
    needs a float ln, deliberately left out of the integer contract —
    :func:`hll_linear_corrected` applies it for job-side consumers).
    """
    alpha_num = 7213 * m * m * m
    alpha_den = 10000 * m + 10790
    t = alpha_num // alpha_den
    pow33 = 1 << _HLL_RANK_BITS
    per_group = registers.groupBy(*group_cols).agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RANK_BITS} - reg AS INT))"
            )
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    return per_group.select(
        *group_cols,
        F.expr(
            f"CAST({t} AS BIGINT) * CAST({pow33} AS BIGINT)"
            f" div (s_present + ({m} - n_present) * CAST({pow33} AS BIGINT))"
        )
        .cast("long")
        .alias("est_distinct"),
        (F.lit(m).cast("long") - F.col("n_present")).cast("long").alias("zero_registers"),
    )


def corpus_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: str = "s1",
) -> DataFrame:
    """Deterministic pre-training shuffle: (id, shard, pos).

    shard = first 4 md5 hex chars of (seed || id) mod n_shards; pos =
    1-based rank of the md5 key within the shard (ties impossible:
    the full 32-hex key is unique per id with overwhelming probability
    and ``id`` is appended as the final tie-break).  The window
    partitions BY SHARD, so the sort parallelizes across shards and
    each task sorts ~|corpus|/n_shards rows — n_shards is the file
    count and is sized accordingly (see module docstring).  The
    physical write path for the materialized corpus is
    ``repartition(n_shards, shard) → sortWithinPartitions(skey)``; this
    plan-level form exposes the explicit order for contract checking.
    """
    from pyspark.sql import Window

    key = F.md5(
        F.concat(F.lit(_SHUF_TAG), F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )
    planned = docs.select(
        F.col(id_col),
        key.alias("skey"),
        (F.conv(F.substring(key, 1, 4), 16, 10).cast("long") % n_shards).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("skey", id_col)
    return planned.select(
        id_col, "shard", F.row_number().over(w).cast("long").alias("pos")
    )


def hll_linear_corrected(estimates: DataFrame, m: int = 64) -> DataFrame:
    """Published small-range correction over :func:`hll_estimate` output.

    Raw HLL reads ~0.72·m when the registers are nearly empty (with 3
    keys and m=256 it answers ~180); Flajolet et al. switch to linear
    counting ``m·ln(m/V)`` (V = zero registers) when the raw estimate is
    under 5m/2.  That needs a logarithm, so this correction lives
    OUTSIDE the integer-exact oracle contract (q_hll_distinct pins the
    raw path): ln over a BIGINT register count is still deterministic
    and partitioning-independent — just not replayable in pure integer
    SQL — which is exactly right for job-side sidecars like the
    datacard's vocab estimate.
    """
    threshold = (5 * m) // 2
    lc = F.round(
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zero_registers"))
    ).cast("long")
    return estimates.withColumn(
        "est_distinct",
        F.when(
            (F.col("est_distinct") <= threshold) & (F.col("zero_registers") > 0),
            lc,
        ).otherwise(F.col("est_distinct")),
    )
