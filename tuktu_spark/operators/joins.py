"""Join / merge operators (SURVEY.md §2.4).

The reference's JoinGenerator is a hand-rolled symmetric hash join over
Akka workers (JoinGenerator.scala:29-151, inner-only, no spill); here a
join is declarative and Catalyst picks broadcast/shuffled-hash/sort-merge —
plus semi/anti/outer variants the reference lacks.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..tables import persist
from .registry import flag, operator, reject_removed_keys

_HOW = {
    "inner": "inner",
    "left": "left",
    "right": "right",
    "full": "full",
    "outer": "full",
    "semi": "left_semi",
    "left_semi": "left_semi",
    "anti": "left_anti",
    "left_anti": "left_anti",
    "cross": "cross",
}


@operator("join")
def join(config: dict):
    """Equi-join of the piped DataFrame with another flow branch.

    config: {"on": [keys] | [[lk, rk], ...], "how": "inner", "broadcast":
    bool} — `broadcast` hints the other side (dimension tables at scale).
    The merge-capable flow compiler passes the second branch; standalone
    use: make_operator(...)(left, right).
    """
    how = _HOW[config.get("how", "inner")]
    on = config["on"]
    broadcast_right = flag(config, "broadcast", False)

    def transform(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
        if right is None:
            raise ValueError("join operator needs two inputs")
        r = F.broadcast(right) if broadcast_right else right
        if on and isinstance(on[0], (list, tuple)):
            cond = reduce(
                lambda a, b: a & b, [left[lk] == r[rk] for lk, rk in on]
            )
            return left.join(r, cond, how)
        return left.join(r, on, how)

    return transform


@operator("union_merge", "serial_merge")
def union_merge(config: dict):
    """SerialMerger (merge/BaseMergers.scala:90-97): UNION ALL of branches;
    missing columns padded with nulls (Tuktu rows are schemaless maps)."""
    allow_missing = flag(config, "allow_missing_columns", True)

    def transform(*dfs: DataFrame) -> DataFrame:
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing), dfs
        )

    return transform


def _order_boundaries(df: DataFrame, ob: list[str], buckets: int) -> list[tuple]:
    """Deterministic range boundaries for ``ob`` (ascending simple
    columns): a VALUE-BASED sample (xxhash64 of the key tuple mod P — a
    pure function of the data, unlike seeded row sampling whose draw
    depends on partition layout), collected bounded, sorted, and cut into
    up to ``buckets - 1`` distinct quantile boundary tuples. Identical
    under any recompute of a deterministic input."""
    key = F.struct(*[F.col(c) for c in ob])
    sample = (
        df.select(*ob)
        .where(F.pmod(F.xxhash64(key), F.lit(97)) == 0)
        .limit(100_000)
        .collect()
    )
    if not sample:  # tiny input: hash sieve may keep nothing
        sample = df.select(*ob).limit(10_000).collect()
    # null-keyed rows are excluded from boundary candidates (they are not
    # orderable in Python); at query time a null key compares null against
    # every boundary struct and lands in bucket 0 — consistent with
    # Spark's nulls-first ascending order, so correctness is unaffected
    keys = sorted(
        t
        for t in (tuple(r[c] for c in ob) for r in sample)
        if all(v is not None for v in t)
    )
    n = len(keys)
    cuts: list[tuple] = []
    for i in range(1, buckets):
        if n == 0:
            break
        k = keys[min(i * n // buckets, n - 1)]
        if not cuts or k != cuts[-1]:
            cuts.append(k)
    return cuts


def _global_row_number_bounded(
    df: DataFrame, ob: list[str], out_col: str, buckets: int | None = None
) -> DataFrame:
    """Fault-tolerant variant of ``_global_row_number`` (r5 ADVICE): the
    bucket id is a PURE FUNCTION of the row (comparison against literal
    boundary tuples), so NO persist pin is needed — under executor loss
    and lineage recompute the offsets table and the data window provably
    agree, because (1) bucket assignment is value-determined and (2) the
    offsets are per-bucket COUNTS, which tie order cannot change. Same
    index semantics as `row_number() OVER (ORDER BY ob)` (ties
    unspecified, as ever); boundary quality only affects balance, never
    correctness — equal keys always land in one bucket. Requires ``ob``
    to be ascending plain column names (the production positional paths:
    doc ids, line numbers); desc / expression orders use the persist
    kernel. One bounded driver collect (the boundary sample) per plan
    build; no cache residency at all."""
    if not all(isinstance(c, str) for c in ob):
        raise ValueError("bounded kernel needs plain ascending column names")
    spark = df.sparkSession
    if buckets is None:
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cuts = _order_boundaries(df, ob, int(buckets))
    key = F.struct(*[F.col(c) for c in ob])
    # bucket = #boundaries below the key, as a LAMBDA-FREE when-chain (at
    # most `buckets`-1 terms): an earlier size(filter(array, lambda ...))
    # form crashed at runtime — constraint propagation infers the join
    # filter `bucket_expr <=> __bkt__` into the offsets branch, and
    # Catalyst's attribute rewriting cannot descend into lambdafunction,
    # so the pushed copy kept the OTHER branch's attr ids
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND). Plain when-chains rewrite
    # fine (redundant pushed filter, harmless).
    bucket = F.lit(0)
    for t in cuts:
        lit_struct = F.struct(*[F.lit(v).alias(c) for v, c in zip(t, ob)])
        bucket = bucket + F.when(key > lit_struct, 1).otherwise(0)
    bucketed = df.withColumn("__bkt__", bucket)
    tiny = Window.orderBy("__bkt__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("__bkt__")
        .agg(F.count(F.lit(1)).alias("__cnt__"))
        .withColumn("__off__", F.coalesce(F.sum("__cnt__").over(tiny), F.lit(0)))
        .select("__bkt__", "__off__")
    )
    local = Window.partitionBy("__bkt__").orderBy(*ob)
    return (
        bucketed.withColumn("__lrn__", F.row_number().over(local))
        .join(F.broadcast(offsets), "__bkt__")
        .withColumn(out_col, (F.col("__off__") + F.col("__lrn__")).cast("bigint"))
        .drop("__bkt__", "__lrn__", "__off__")
    )


def _global_row_number_auto(df: DataFrame, ob: list, out_col: str) -> DataFrame:
    """Dispatch between the positional kernels (round-7, verdict #4):
    plain ascending column names -> the persist-free BOUNDED kernel,
    whose bucket ids are pure functions of the data — recompute under
    executor loss provably renumbers identically (and there is no cache
    residency at all). Desc / expression orders -> the persist-pinned
    kernel (boundary sampling of arbitrary expressions is not
    value-stable). Production positional paths (line source bounds,
    running_count, drop_first) hit the bounded branch for the common
    plain-column case.

    COST TRADE (deliberate): the bounded kernel evaluates the un-cached
    upstream ~2x at execution (offsets aggregate + data window) plus a
    bounded boundary-sample collect at plan build, where the persist
    kernel evaluated once into cache. Recompute-safety and zero cache
    residency are worth two passes over a SCAN; for an expensive
    non-cached upstream, persist/checkpoint it first (or pass an
    expression order to opt back into the persist kernel)."""
    if ob and all(isinstance(c, str) for c in ob):
        return _global_row_number_bounded(df, list(ob), out_col)
    return _global_row_number(df, ob, out_col)


def _global_row_number(df: DataFrame, ob: list, out_col: str) -> DataFrame:
    """Distributed 1-based global row number in ``ob`` order WITHOUT a
    single-partition window: range-partitioned sort, per-partition
    row_number (hash-clustered by partition id — fully parallel), plus
    broadcast cumulative partition offsets (a partition-count-sized
    table; its own cumsum window is over that tiny table, not the data).
    Same index assignment as `row_number() OVER (ORDER BY ob)` for any
    total order; ties may number differently (row_number tie order is
    unspecified in both forms).

    The persist pins one materialization of the sort so the offsets table
    and the data window see the SAME partition assignment (range-boundary
    sampling is not guaranteed stable across recomputes; MEMORY_AND_DISK,
    so eviction spills instead of recomputing). Where the order
    keys are ascending plain columns, ``_global_row_number_bounded``
    (round 6) is the fault-tolerant/persist-free form: literal boundary
    tuples make the bucket id a pure function of the data, so lineage
    recompute cannot desynchronize offsets from the window.

    The pin is held until the next run_flow or query build
    (tables.persist). A returned DataFrame not materialized by then
    recomputes from lineage: for deterministic upstreams (file scans)
    the range sort reproduces the same partition assignment, so indices
    are unchanged; for nondeterministic upstreams materialize (collect or
    write) first, or use the bounded kernel."""
    sorted_df = df.orderBy(*ob).withColumn("__pid__", F.spark_partition_id())
    # pin the partition assignment so offsets and the window agree
    sorted_df = persist(sorted_df)
    tiny = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        sorted_df.groupBy("__pid__")
        .agg(F.count(F.lit(1)).alias("__cnt__"))
        .withColumn("__off__", F.coalesce(F.sum("__cnt__").over(tiny), F.lit(0)))
        .select("__pid__", "__off__")
    )
    local = Window.partitionBy("__pid__").orderBy(*ob)
    return (
        sorted_df.withColumn("__lrn__", F.row_number().over(local))
        .join(F.broadcast(offsets), "__pid__")
        .withColumn(out_col, (F.col("__off__") + F.col("__lrn__")).cast("bigint"))
        .drop("__pid__", "__lrn__", "__off__")
    )


def _global_prefix_sum_bounded(
    df: DataFrame, ob: list[str], value_col: str, out_col: str,
    buckets: int | None = None,
) -> DataFrame:
    """Persist-free prefix sum (round 7): the bounded row-number kernel's
    construction carries over verbatim because the per-bucket offsets are
    SUMS — order-within-bucket cannot change a sum, and the bucket id is
    a pure function of the row, so lineage recompute under executor loss
    provably reproduces the same cumulative values (ties ordered
    arbitrarily, as in every prefix-sum form here). Plain ascending
    column orders only."""
    if not all(isinstance(c, str) for c in ob):
        raise ValueError("bounded kernel needs plain ascending column names")
    spark = df.sparkSession
    if buckets is None:
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cuts = _order_boundaries(df, ob, int(buckets))
    key = F.struct(*[F.col(c) for c in ob])
    bucket = F.lit(0)
    for t in cuts:  # lambda-free (see _global_row_number_bounded)
        lit_struct = F.struct(*[F.lit(v).alias(c) for v, c in zip(t, ob)])
        bucket = bucket + F.when(key > lit_struct, 1).otherwise(0)
    bucketed = df.withColumn("__bkt__", bucket)
    tiny = Window.orderBy("__bkt__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("__bkt__")
        .agg(F.sum(value_col).alias("__tot__"))
        .withColumn("__off__", F.coalesce(F.sum("__tot__").over(tiny), F.lit(0)))
        .select("__bkt__", "__off__")
    )
    local = Window.partitionBy("__bkt__").orderBy(*ob).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        bucketed.withColumn("__lcum__", F.sum(value_col).over(local))
        .join(F.broadcast(offsets), "__bkt__")
        .withColumn(out_col, F.col("__off__") + F.col("__lcum__"))
        .drop("__bkt__", "__lcum__", "__off__")
    )


def _global_prefix_sum_auto(
    df: DataFrame, ob: list, value_col: str, out_col: str
) -> DataFrame:
    """Plain ascending column orders -> the persist-free bounded prefix
    sum; anything else -> the persist-pinned kernel."""
    if ob and all(isinstance(c, str) for c in ob):
        return _global_prefix_sum_bounded(df, list(ob), value_col, out_col)
    return _global_prefix_sum(df, ob, value_col, out_col)


def _global_prefix_sum(
    df: DataFrame, ob: list, value_col: str, out_col: str
) -> DataFrame:
    """Distributed inclusive prefix sum of ``value_col`` in ``ob`` order —
    same offsets technique as _global_row_number (range-partitioned sort,
    per-partition cumsum clustered by partition id, broadcast cumulative
    partition totals). Exact for integer/decimal values; identical to
    `SUM(v) OVER (ORDER BY ob ROWS UNBOUNDED PRECEDING)` without the
    single-partition funnel."""
    sorted_df = df.orderBy(*ob).withColumn("__pid__", F.spark_partition_id())
    sorted_df = persist(sorted_df)
    tiny = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        sorted_df.groupBy("__pid__")
        .agg(F.sum(value_col).alias("__tot__"))
        .withColumn("__off__", F.coalesce(F.sum("__tot__").over(tiny), F.lit(0)))
        .select("__pid__", "__off__")
    )
    local = Window.partitionBy("__pid__").orderBy(*ob).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        sorted_df.withColumn("__lcum__", F.sum(value_col).over(local))
        .join(F.broadcast(offsets), "__pid__")
        .withColumn(out_col, F.col("__off__") + F.col("__lcum__"))
        .drop("__pid__", "__lcum__", "__off__")
    )


def _zip_branches(dfs, order_by, padding: bool, rename=None) -> DataFrame:
    """Number every branch with the positional kernel, then zip them on
    the row number — later branches overwrite shared fields. ``rename``
    maps (branch index, numbered frame) to the frame that joins the zip
    (js_merge moves its js column aside there). Keeps ``__rn__``."""
    numbered = []
    for i, df in enumerate(dfs):
        ob = order_by[str(i)] if isinstance(order_by, dict) else order_by
        num = _global_row_number_auto(df, ob, "__rn__")
        numbered.append(rename(i, num) if rename else num)
    how = "full" if padding else "inner"
    out = numbered[0]
    for nxt in numbered[1:]:
        dup = [c for c in nxt.columns if c in out.columns and c != "__rn__"]
        if padding:
            # zipAll pads the shorter branch with an EMPTY row map, so
            # on padded rows the surviving branch's fields must win:
            # keep the earlier value where the later branch has no row.
            renames = {c: f"__prev_{c}__" for c in dup}
            prev = out
            for c, r in renames.items():
                prev = prev.withColumnRenamed(c, r)
            joined = prev.join(nxt, "__rn__", how)
            for c, r in renames.items():
                joined = joined.withColumn(
                    c, F.coalesce(F.col(c), F.col(r))
                ).drop(r)
            out = joined
        else:
            out = out.drop(*dup).join(nxt, "__rn__", how)
    return out


@operator("zip_merge", "simple_merge")
def zip_merge(config: dict):
    """SimpleMerger (merge/BaseMergers.scala:14-21): positional zip-union of
    branch rows, later branches overwrite shared fields, via row_number
    equi-join over an explicit per-branch order.

    SCALE NOTE: positional zip requires a GLOBAL row order. Each branch is
    numbered with the distributed positional kernel — no branch ever
    collapses to one task, unlike the reference's single-actor
    SimpleMerger. Plain ascending column orders take the fault-tolerant
    persist-free kernel (literal range boundaries make the bucket id a
    pure function of the data, _global_row_number_bounded); desc or
    expression orders take the persist-pinned range-partitioned kernel
    (_global_row_number). Both assign the same indices as
    ``row_number() OVER (ORDER BY ...)``. For truly huge data prefer a
    keyed join on a real key.

    config: {order_by: {branch_index(str): [cols]} or a single list for
    all, padding (PaddingMerger: keep the longer side)}.
    """
    reject_removed_keys("zip_merge", config, "engine")
    order_by = config["order_by"]
    padding = flag(config, "padding", False)
    return lambda *dfs: _zip_branches(dfs, order_by, padding).drop("__rn__")


@operator("js_merge")
def js_merge(config: dict):
    """JSMerger (merge/BaseMergers.scala:26-56): SimpleMerger's positional
    zip-union, except one designated column — an ORDERED array of
    string->string maps holding JS element snippets (WebJsOrderedObject)
    — is merged by concatenation with first-branch key precedence: any
    key already present in an earlier branch's items is dropped from
    later branches' maps. The JS evaluation itself is client-side
    rendering in the reference's web module; the merge semantics are the
    data contract, and they are pure column algebra here
    (flatten/map_keys to collect seen keys, map_filter to drop them).

    config: {order_by (as zip_merge), js_field (default 'tuktu_js_field'),
    padding}. Numbers branches with zip_merge's positional kernel."""
    reject_removed_keys("js_merge", config, "engine")
    js_field = config.get("js_field", "tuktu_js_field")
    order_by = config["order_by"]
    padding = flag(config, "padding", False)

    def merge_js(a, b):
        seen = F.flatten(F.transform(a, lambda m: F.map_keys(m)))
        return F.concat(
            a,
            F.transform(
                b,
                lambda m: F.map_filter(
                    m, lambda k, _v: ~F.array_contains(seen, k)
                ),
            ),
        )

    def transform(*dfs: DataFrame) -> DataFrame:
        have = [df for df in dfs if js_field in df.columns]
        if len(have) < 2:
            return _zip_branches(dfs, order_by, padding).drop("__rn__")
        # zip-merge everything but the js column (each branch's moves to
        # its own __js<i>__, so it never counts as a shared field), then
        # fold the js columns positionally with the key-precedence concat
        out = _zip_branches(
            dfs,
            order_by,
            padding,
            lambda i, num: num.withColumnRenamed(js_field, f"__js{i}__")
            if js_field in num.columns
            else num,
        )
        js_cols = [f"__js{i}__" for i in range(len(dfs)) if f"__js{i}__" in out.columns]
        # A padded full join (or a plain NULL cell) leaves NULL js columns;
        # the reference zipAll-pads with empty lists, keeping the surviving
        # side's items — so coalesce each branch to the empty array before
        # the fold (concat(NULL, x) would otherwise wipe the whole row).
        empty = F.array().cast("array<map<string,string>>")
        js_vals = [F.coalesce(F.col(c), empty) for c in js_cols]
        merged = reduce(merge_js, js_vals[1:], js_vals[0])
        return out.withColumn(js_field, merged).drop("__rn__", *js_cols)

    return transform


@operator("lookup_join")
def lookup_join(config: dict):
    """SQLProcessor append-mode / MongoDBFindProcessor (sql.scala:46-111) —
    per-row lookup rewritten as a broadcast left join (the reference's
    `distinct` memoization becomes the join itself)."""
    on = config["on"]
    how = _HOW[config.get("how", "left")]

    def transform(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
        if right is None:
            raise ValueError("lookup_join needs a lookup-side input")
        return left.join(F.broadcast(right), on, how)

    return transform


@operator("intersect_merge")
def intersect_merge(config: dict):
    """Set intersection of branches — absent in the reference (SURVEY §2.6
    note); Spark-native. ``all=True`` keeps duplicates (INTERSECT ALL)."""
    keep_dups = flag(config, "all", False)

    def transform(*dfs: DataFrame) -> DataFrame:
        out = dfs[0]
        for nxt in dfs[1:]:
            out = out.intersectAll(nxt) if keep_dups else out.intersect(nxt)
        return out

    return transform


@operator("except_merge")
def except_merge(config: dict):
    """Set difference of branches (first minus the rest) — Spark-native."""
    keep_dups = flag(config, "all", False)

    def transform(*dfs: DataFrame) -> DataFrame:
        out = dfs[0]
        for nxt in dfs[1:]:
            out = out.exceptAll(nxt) if keep_dups else out.subtract(nxt)
        return out

    return transform


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """AS-OF join: for each left row, the latest right row with
    right_ts <= left_ts within the key group (tie: equal timestamps match).

    Absent in the reference AND in vanilla Spark SQL (SURVEY §2.4 note) —
    implemented as the single-shuffle union trick: tag sides, sort by
    (key, ts, side) with right-before-left at ties, and carry right values
    forward with last(ignorenulls) over an unbounded-preceding window.
    No range explosion, no per-row lookups; state is one row per column.
    """
    rcols = right_cols or [
        c for c in right.columns if c not in keys and c != right_ts
    ]
    l_tag = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in rcols],
        F.struct(*left.columns).alias("__row"),
    )
    r_tag = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in rcols],
        F.lit(None).cast(
            "struct<" + ", ".join(f"{f.name}: {f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("__row"),
    )
    u = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
            for c in rcols
        ],
        F.last(F.when(F.col("__is_left") == 0, F.col("__ts")), ignorenulls=True)
        .over(w)
        .alias("__m_ts"),
    )
    out = carried.filter(F.col("__is_left") == 1).select(
        F.col("__row.*"),
        *[F.col(f"__m_{c}").alias(c) for c in rcols],
        F.col("__m_ts").alias("matched_ts"),
    )
    return out


@operator("asof_join")
def asof_join_op(config: dict):
    """AS-OF join (see asof_join): latest right row with right_ts <= left_ts
    per key. config: {"keys", "left_ts", "right_ts", "right_cols"}."""
    keys = config["keys"]
    lts, rts = config["left_ts"], config["right_ts"]
    rcols = config.get("right_cols")

    def transform(left: DataFrame, right: DataFrame) -> DataFrame:
        return asof_join(left, right, keys, lts, rts, rcols)

    return transform


@operator("range_join")
def range_join(config: dict):
    """Range join: left value within [right.lo, right.hi). Absent in the
    reference. The band side is a dimension by nature — broadcast it so
    the fact side never shuffles; a band-per-bucket equi-join prefilter is
    the fallback when the band table itself is huge."""
    value = config["value"]
    lo, hi = config["lo"], config["hi"]
    extra_keys = config.get("keys", [])

    def transform(left: DataFrame, right: DataFrame) -> DataFrame:
        cond = (F.col(value) >= F.col(lo)) & (F.col(value) < F.col(hi))
        for k in extra_keys:
            cond = cond & (left[k] == right[k])
        return left.join(F.broadcast(right), cond)

    return transform


@operator("salted_join")
def salted_join(config: dict):
    """Skew-resistant equi-join: the (skewed) left side gets a
    deterministic salt in [0, salt); the right side is replicated once per
    salt value, so one hot key spreads over ``salt`` tasks instead of one.

    AQE's skew-join split handles sort-merge skew automatically; salting
    is the manual fallback when a single key exceeds what one task can
    hold even after splitting (SCALE.md). The salt is a hash of the whole
    left row — deterministic across retries (rand() would break
    exactly-once semantics under task retry).

    config: {"on": [keys], "how": "inner"|"left", "salt": 8}
    """
    on = config["on"]
    how = config.get("how", "inner")
    salt = int(config.get("salt", 8))

    def transform(left: DataFrame, right: DataFrame) -> DataFrame:
        l_salted = left.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])), F.lit(salt)).cast("int"),
        )
        r_salted = right.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        return l_salted.join(r_salted, [*on, "__salt"], how).drop("__salt")

    return transform
