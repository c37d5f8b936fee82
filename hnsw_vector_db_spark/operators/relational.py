"""Relational operator surface — joins, aggregations, windows, rollups,
sorts, set ops over the TPC-H-ish tables.

Per SURVEY.md §2.2: the reference has only degenerate analogs of these
(metadata dict lookup = broadcast hash join, get_stats = one aggregation),
but a complete engine exposes the full relational surface; Spark provides
it natively and these canonical queries pin the semantics with SQL
oracles while doubling as the benchmark's relational headliners.

Scale notes inline per query; the common rules: dimension sides broadcast
(nation/region/customer at real TPC-H scale: nation+region always,
customer depends — AQE decides from runtime stats), aggregates are
partial+final, date filters reach the parquet scan (PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-01") -> DataFrame:
    """TPC-H Q1 shape: scan-heavy partial+final agg, the map-side-combine
    benchmark. One shuffle of (flag,status) partials — 6 groups."""
    return (
        lineitem.filter(F.col("l_shipdate") < F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_revenue_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    n: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-n.
    customer(filtered) broadcasts; lineitem never moves except the final
    groupBy(o_orderkey) shuffle; top-n is TakeOrderedAndProject."""
    c = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    j = (
        orders.join(F.broadcast(c), orders.o_custkey == c.c_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
    )
    return (
        j.groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(n)
    )


def customer_order_ranks(orders: DataFrame, top_k: int = 3) -> DataFrame:
    """Window-function surface: rank orders per customer by totalprice,
    keep top_k. One shuffle on o_custkey."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rnk")
    )


def nation_rollup(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Grouping-sets surface: account stats by (region, nation) with
    ROLLUP subtotals. Dims broadcast; rollup is one pass."""
    j = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


def orders_by_month(orders: DataFrame) -> DataFrame:
    """Date-function surface: monthly order counts/revenue (year/month
    extraction; date filters push to the scan). Output (o_year, o_month,
    n_orders, total_revenue)."""
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


def part_brand_stats(part: DataFrame, type_like: str = "%a%") -> DataFrame:
    """String-function surface: LIKE filter + upper/substring/concat.
    Output (p_brand, initial, n_parts, avg_price)."""
    return (
        part.filter(F.col("p_type").like(type_like))
        .withColumn("initial", F.upper(F.substring("p_name", 1, 1)))
        .groupBy("p_brand", "initial")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
        )
    )


def lineitem_corr_stats(lineitem: DataFrame) -> DataFrame:
    """Statistical-aggregate surface: correlation + sample stddev per
    return flag. Output (l_returnflag, qty_price_corr, qty_stddev)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
    )


def customer_segment_cube(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """CUBE grouping-sets surface (rollup's sibling): all subtotal
    combinations of (mktsegment, nation). Output (c_mktsegment, n_name,
    n_customers, total_acctbal)."""
    j = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    return j.cube("c_mktsegment", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


def user_set_ops(events: DataFrame, value_cut: float = 150.0) -> DataFrame:
    """Set-op surface: users with a high-value purchase but no high-value
    error (EXCEPT/anti-join duality). Output (user_id)."""
    high = events.filter(F.col("value") > value_cut)
    purch = high.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    err = high.filter(F.col("event_type") == "error").select("user_id").distinct()
    return purch.exceptAll(err).select("user_id").orderBy("user_id")


def salted_agg(
    df: DataFrame,
    key: str,
    salt_buckets: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-phase (salted) aggregation for skew-prone keys: phase 1 groups
    by (key, salt) so one hot key spreads over ``salt_buckets`` reducers,
    phase 2 re-combines per key. Only decomposable aggregates survive the
    split; this canonical form carries count and sum(value) — extend with
    min/max the same way.

    AQE's skew-join splitting does not help *aggregations* (it only splits
    join partitions), so salting is still the tool when one key holds >>
    1/parallelism of the rows — the GROUP BY analog of the reference's
    single hot entry point (`core/hnsw/graph.py:67`: every search funnels
    through one node).

    ``salt_on``: column whose hash spreads rows (default: a per-row
    deterministic spread from all columns is NOT possible without an id —
    pass a high-cardinality column like an event/row id for deterministic
    results).
    """
    salt_src = F.col(salt_on) if salt_on else F.monotonically_increasing_id()
    salted = df.withColumn("_salt", F.pmod(F.hash(salt_src), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("value").alias("_sum"),
    )
    return (
        partial.groupBy(key)
        .agg(
            F.sum("_cnt").alias("n"),
            F.round(F.sum("_sum"), 6).alias("sum_value"),
        )
    )


def rolling_revenue(
    orders: DataFrame, days: int = 90, epoch: str = "1992-01-01"
) -> DataFrame:
    """Per-customer rolling revenue over a time-RANGE window frame —
    every order row carries the sum and count of that customer's orders
    in the trailing ``days`` days (inclusive).

    The RANGE frame (``rangeBetween(-days, currentRow)`` over a day
    offset) is the window feature the rest of the suite doesn't touch:
    the frame is defined by ORDER-VALUE distance, not row position, so
    same-day orders all see each other symmetrically — deterministic
    under ties with no row_number tiebreak needed. Plan: ONE shuffle on
    o_custkey, one sort, a sliding-frame WindowExec — where the naive
    SQL equivalent is an inequality self-join (O(n^2) per customer, and
    a broadcast-nested-loop trap at scale). Output (o_custkey,
    o_orderkey, d, rolling_total, n_in_window), oracle-checked exactly
    against DuckDB's RANGE frame."""
    d = F.datediff(F.to_date("o_orderdate"), F.lit(epoch).cast("date"))
    base = orders.select(
        "o_custkey", "o_orderkey", d.alias("d"), "o_totalprice"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("d"))
        .rangeBetween(-days, Window.currentRow)
    )
    return base.select(
        "o_custkey",
        "o_orderkey",
        "d",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_total"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k (k most expensive orders per customer). Spark 4
    plans the rank filter as WindowGroupLimit pushed BELOW the exchange —
    each map task pre-prunes to its local top-k per key, so the shuffle
    carries ~k rows per (key, input partition), not the whole table.
    Output (o_custkey, o_orderkey, o_totalprice, rnk)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rnk",
        )
    )


def salted_distinct_count(
    df: DataFrame,
    key_col: str,
    dist_col: str,
    n_salts: int = 16,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Skew-safe EXACT distinct count per key — the aggregation shape
    that survives one dominant key at 100 TB.

    A plain ``countDistinct`` per key funnels every row of a hot key
    through one reducer (partial aggregation can't combine distincts).
    Salting by ``hash(dist_col) % n_salts`` splits each key's DISTINCT
    VALUE SPACE into disjoint classes — so per-(key, salt) distinct
    counts are exact and their per-key sum is the exact global distinct
    count. Two ordinary hash aggregations, both with map-side partial
    combine, hot keys spread over ``n_salts`` reducers.

    The salt must be a pure function of the distinct column (disjoint
    classes), never a random number — randomness would double-count
    values that land in two salts.
    """
    salt = F.pmod(F.xxhash64(F.col(dist_col)), F.lit(n_salts))
    part = df.groupBy(F.col(key_col), salt.alias("_salt")).agg(
        F.countDistinct(dist_col).alias("_c")
    )
    return part.groupBy(key_col).agg(F.sum("_c").alias(out_col))


def value_histogram(
    df: DataFrame,
    value_col: str = "o_totalprice",
    lo: float = 0.0,
    hi: float = 600_000.0,
    n_buckets: int = 24,
) -> DataFrame:
    """Equi-width histogram of a numeric column: fixed [lo, hi) bucket
    grid, per-bucket count/min/max/sum — the profiling primitive behind
    every data-quality dashboard and range-partitioner choice.

    Scale shape: the bucket id is a pure projection (floor of a linear
    map, clamped to the top bucket), so the whole operator is ONE hash
    aggregation on a small integer key with map-side partial combine —
    the histogram never materializes per-row state and the known [lo,
    hi) bounds mean NO preliminary min/max pass over the data (when
    bounds are unknown, that's one tiny extra aggregate). Output
    (bucket, bucket_lo, n, min_value, max_value, sum_value),
    oracle-checked exactly (identical floor arithmetic both engines).
    """
    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
        F.lit(n_buckets - 1),
    ).cast("int")
    return (
        df.filter(
            (F.col(value_col) >= lo) & (F.col(value_col) < hi + 1e-9)
        )
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(value_col), 2).alias("min_value"),
            F.round(F.max(value_col), 2).alias("max_value"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .withColumn(
            "bucket_lo", F.round(F.col("bucket") * F.lit(width) + F.lit(lo), 2)
        )
    )


def _local_skyline(mat, eps: float = 0.0):
    """Indices of the Pareto front of ``mat`` (n x d, all-minimize).

    Lex-sort rows ascending, then scan: after the sort a row can only be
    dominated by an earlier row, so each row is checked against the
    running skyline only — O(n * |skyline| * d), and |skyline| is small
    on real data (O(log^(d-1) n) for independent dims).
    """
    import numpy as np

    n = mat.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.lexsort(mat.T[::-1])  # primary key = column 0
    sky: list[int] = []
    sky_mat = np.empty((0, mat.shape[1]))
    for i in order:
        row = mat[i]
        if sky:
            le = (sky_mat <= row).all(axis=1)
            lt = (sky_mat < row).any(axis=1)
            if bool((le & lt).any()):
                continue
        sky.append(i)
        sky_mat = np.vstack([sky_mat, row[None, :]])
    return np.asarray(sky, dtype=np.int64)


def skyline(
    df: DataFrame,
    minimize: list[str],
    maximize: list[str] = (),
) -> DataFrame:
    """Pareto front (skyline): rows not dominated by any other row —
    another row that is <= on every minimized dim, >= on every maximized
    dim, and strictly better on at least one. Ties on every dim keep
    both rows (neither strictly dominates).

    Two-phase distributed shape (the classic partition-skyline theorem:
    a global skyline point is undominated in its own partition, so
    skyline(S) = skyline(union of per-partition skylines)):

      1. per-partition skyline via mapInPandas, INCREMENTAL across Arrow
         batches — memory is O(|front| + batch), never the partition;
      2. the union of local fronts (small) collapses to one partition
         for the exact global pass.

    Rows with NULL in any dim are excluded (dominance is undefined).
    At 100 TB phase 1 is a scan; phase 2's single partition holds only
    sum-of-local-fronts rows. If a pathological dataset made local
    fronts huge (e.g. perfectly anti-correlated dims), the same operator
    recurses: grid-partition on dim quantiles and re-run phase 1.
    """
    import numpy as np
    import pandas as pd

    minimize = list(minimize)
    maximize = list(maximize)
    dims = minimize + maximize
    if not dims:
        raise ValueError("skyline needs at least one dimension")
    sign = np.array([1.0] * len(minimize) + [-1.0] * len(maximize))

    clean = df.na.drop(subset=dims)

    def front(batches):
        install_zip_guard()
        sky_pdf: pd.DataFrame | None = None
        for pdf in batches:
            both = pdf if sky_pdf is None else pd.concat([sky_pdf, pdf], ignore_index=True)
            mat = both[dims].to_numpy(dtype=np.float64) * sign
            sky_pdf = both.iloc[_local_skyline(mat)].reset_index(drop=True)
        if sky_pdf is not None and len(sky_pdf):
            yield sky_pdf

    # front closes over _local_skyline (a module-level function), which
    # cloudpickle serializes BY REFERENCE — the worker must be able to
    # import this package. Ship it explicitly: relying on an earlier
    # operator having shipped it makes correctness depend on execution
    # ORDER (caught by running skyline first in a fresh foreign-cwd
    # session: ModuleNotFoundError on the Python worker).
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(clean.sparkSession)
    local = clean.mapInPandas(front, schema=clean.schema)
    return local.repartition(1).mapInPandas(front, schema=clean.schema)


BLOOM_BITS = 1 << 18  # 256 Kbit = 32 KB — fits any task closure comfortably


def bloom_build(
    dim: DataFrame,
    key_col: str,
    num_bits: int = BLOOM_BITS,
    num_hashes: int = 4,
) -> list[int]:
    """Build a Bloom filter over ``dim[key_col]`` as a list of int64
    words (the from-scratch form of a runtime filter / sideways
    information passing — Spark's own InjectRuntimeFilter does this
    JVM-side for eligible shapes; this operator makes it available to
    ANY plan).

    Shape: explode each key into its ``num_hashes`` bit positions,
    bit_or the masks per 64-bit word — a keyed aggregation whose key
    domain is at most num_bits/64 words, so the shuffle AND the driver
    collect are bounded by the filter SIZE (32 KB default), never by
    the dim cardinality. Deterministic (xxhash64 with fixed seeds).
    """
    if num_bits % 64 != 0:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    def _pos(i: int) -> str:
        return f"pmod(xxhash64({key_col}, {i}), {num_bits}L)"

    exploded = dim.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.expr(f"cast({_pos(i)} / 64 as long)").alias("word"),
                        F.expr(f"shiftleft(1L, cast({_pos(i)} % 64 as int))").alias("mask"),
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("b")
    ).select("b.word", "b.mask")
    rows = exploded.groupBy("word").agg(
        F.bit_or("mask").alias("mask")
    ).collect()
    words = [0] * (num_bits // 64)
    for r in rows:
        words[int(r["word"])] = int(r["mask"])
    return words


def bloom_contains(
    words: list[int],
    key_col: str,
    num_bits: int = BLOOM_BITS,
    num_hashes: int = 4,
) -> Column:
    """Membership-probe Column for a filter built by :func:`bloom_build`:
    true iff every hash position's bit is set. No false negatives ever;
    false positives at the standard (1-e^(-kn/m))^k rate. The words ship
    as ONE array literal in the plan (32 KB default) — evaluated
    per-row in codegen, before any shuffle the caller adds."""
    arr = F.lit(words)
    checks = []
    for i in range(num_hashes):
        p = F.expr(f"pmod(xxhash64({key_col}, {i}), {num_bits}L)")
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        bit = F.expr(f"shiftleft(1L, cast(pmod(xxhash64({key_col}, {i}), {num_bits}L) % 64 as int))")
        checks.append(word.bitwiseAND(bit) != 0)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    num_bits: int = BLOOM_BITS,
    num_hashes: int = 4,
) -> DataFrame:
    """EXACT semi-join with a Bloom prefilter on the fact side: build the
    filter over the dim keys (bounded aggregation + 32 KB collect), probe
    it in the fact scan stage (codegen expression — rows failing the
    filter never reach the shuffle), then close with the exact semi-join
    so false positives are eliminated. Same result as
    ``fact.join(dim, on, "left_semi")`` — the Bloom stage only moves
    bytes off the exchange. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling ~selectivity x fact:
    the classic runtime-filter win, available to any plan shape (Spark's
    built-in InjectRuntimeFilter triggers only on eligible equi-joins
    with selective creation-side filters).
    """
    words = bloom_build(dim, dim_key, num_bits, num_hashes)
    pre = fact.filter(bloom_contains(words, fact_key, num_bits, num_hashes))
    return pre.join(
        dim.select(F.col(dim_key).alias(fact_key)), fact_key, "left_semi"
    )


AGG_STATE_COLS = ("cnt", "vsum", "vmin", "vmax")


def agg_state(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Mergeable per-key aggregate STATE (count/sum/min/max) — the
    incremental-ETL primitive: aggregate each new partition (hour, day,
    shard) ONCE, persist the tiny state table, and answer rollups by
    merging states instead of re-scanning history. Exactly the
    partial-aggregate shape Spark runs internally, reified as data.
    At 100 TB the history is never re-read: a day's update costs one
    scan of the day plus a merge of state tables whose size is the key
    domain."""
    return df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(value_col).alias("vsum"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )


def merge_agg_states(*states: DataFrame) -> DataFrame:
    """Merge any number of :func:`agg_state` tables into one equivalent
    state: count/sum add, min/max fold — each combinator associative and
    commutative, so states merge in any order and any grouping (the
    property the tests pin). One union + one keyed aggregation over
    state-sized inputs."""
    if not states:
        raise ValueError("merge_agg_states needs at least one state")
    key_cols = [c for c in states[0].columns if c not in AGG_STATE_COLS]
    if len(key_cols) != 1:
        raise ValueError(
            f"agg_state tables carry exactly one key column, got {key_cols}"
        )
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(key_cols[0]).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def quantile_scale(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: list[str],
    n_tiles: int = 4,
) -> DataFrame:
    """Per-group feature scaling: z-score, min-max, and ntile quantile
    bucket of ``value_col`` within each ``group_col`` — the standard
    normalization block of a feature pipeline, as two window passes over
    ONE hash partitioning (the aggregate frame and the ntile rank reuse
    the same shuffle). Deterministic ntile tiebreak via ``id_cols``.
    Degenerate groups (stddev 0 / min==max) scale to 0.0/0.5 rather
    than NULL so downstream feature columns stay dense."""
    w = Window.partitionBy(group_col)
    wo = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), *[F.col(c).asc() for c in id_cols]
    )
    mu = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    lo = F.min(value_col).over(w)
    hi = F.max(value_col).over(w)
    z = F.when(sd > 0, (F.col(value_col) - mu) / sd).otherwise(F.lit(0.0))
    mm = F.when(hi > lo, (F.col(value_col) - lo) / (hi - lo)).otherwise(F.lit(0.5))
    return df.select(
        *id_cols,
        group_col,
        value_col,
        (F.round(z, 6) + F.lit(0.0)).alias("zscore"),
        (F.round(mm, 6) + F.lit(0.0)).alias("minmax"),
        F.ntile(n_tiles).over(wo).alias("tile"),
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join for the case AQE can't fix: the dim side is
    too big to broadcast AND the fact keys are skewed, so a plain
    shuffled join lands every row of a hot key in ONE reducer. Salting
    splits each fact key into ``n_salt`` sub-keys (deterministic
    xxhash64 of the whole fact row, so re-runs partition identically)
    and replicates each dim row ``n_salt`` times; the join runs on
    (key..., salt), spreading a hot key over n_salt tasks at the cost of
    an n_salt-times-larger dim shuffle — the standard trade, and why
    n_salt should track the observed skew factor, not the cluster size.

    The join RESULT is exactly ``facts JOIN dim ON on`` (the salt only
    routes rows and is dropped); the driver oracle pins that identity.
    AQE's skew-join split handles most cases without this (and is ON in
    session.py) — use salted_join where AQE can't see the skew: a
    single in-flight stage feeding a stateful op, hash aggregation over
    composite hot keys, or engines/settings without runtime re-plan.
    A ``shuffle_hash`` hint keeps the demo honest (a broadcastable dim
    needs no salt — Spark would elide the skew problem entirely).

    ``how`` is restricted to the fact-preserving modes (inner / left /
    left_semi / left_anti / cross): the salt replicates every dim row
    ``n_salt`` times, so any dim-preserving mode (right / full / outer)
    would null-extend each UNMATCHED dim replica n_salt times and break
    the documented identity — rejected with ValueError rather than
    silently returning duplicated unmatched dim rows. (Matched dim rows
    are fine in every mode: exactly one replica carries each fact row's
    salt value.)"""
    if n_salt < 1:
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    safe = {"inner", "left", "leftouter", "left_outer", "left_semi",
            "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how.lower().replace("_", "") not in {s.replace("_", "") for s in safe}:
        raise ValueError(
            f"salted_join(how={how!r}): dim-preserving joins (right/full/"
            "outer) are unsound under dim replication — each unmatched dim "
            f"row would appear n_salt={n_salt} times; use a plain join or "
            "AQE skew handling for those modes"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(F.xxhash64(F.struct(*facts.columns)), F.lit(n_salt)).cast(
        "int"
    )
    f = facts.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return f.join(d.hint("shuffle_hash"), keys + ["_salt"], how).drop("_salt")
