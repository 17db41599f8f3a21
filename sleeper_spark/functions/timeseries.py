"""Time-series joins Spark lacks natively, composed from DataFrame
primitives so Catalyst still owns the physical plan.

``asof_join`` — for each left row, attach the most recent right row at
or before the left timestamp, per key (the kdb/pandas ``merge_asof``
backward join; DuckDB's native ``ASOF JOIN`` is the test oracle).

The classic distributed realisation is union + sort + carry-forward,
NOT a join node: tag both sides, sort each key's timeline once, and
carry the latest right payload down the timeline with a running
``last(ignorenulls)`` window. One shuffle on the key columns, linear
scan per key, O(1) running state — no range-condition join that Spark
would plan as a broadcast-nested-loop, and no per-row Python. Skewed
keys are ordinary window skew (AQE handles them like any hot key).

``sessionize`` — gaps-and-islands session assignment: a new session
starts where the gap to the previous event (per key) exceeds the
threshold. One shuffle on the key, two window passes, no UDF.

``range_join`` — events-to-intervals containment join realised as a
BUCKETED EQUI-JOIN: intervals explode to the fixed-width buckets they
cover, events map to their single bucket, and Catalyst plans a hash or
sort-merge join on (keys, bucket) with the exact range predicate as a
post-filter. A naive ``l.ts BETWEEN r.lo AND r.hi`` join condition has
no equality component, so Spark would plan a broadcast-nested-loop /
cartesian — quadratic at scale. Bucketing restores the equi-join at the
cost of duplicating each interval row ~interval/width times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TS = "__asof_ts__"
_SIDE = "__asof_side__"
_PAYLOAD = "__asof_p__"
_LEFTROW = "__asof_l__"


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_ts: str, right_ts: str,
              allow_exact: bool = True) -> DataFrame:
    """Backward as-of join: left columns + the right row with the
    largest ``right_ts`` <= ``left_ts`` (strictly < when ``allow_exact``
    is False) sharing the ``on`` keys; right columns are null when no
    such row exists. Right rows should be unique per (on, right_ts) —
    pre-aggregate otherwise, or which duplicate wins is unspecified.

    Output columns: left's columns, then right's non-key non-ts columns.
    """
    r_payload_cols = [c for c in right.columns
                      if c not in on and c != right_ts]
    l_cols = [c for c in left.columns]
    clash = sorted(set(l_cols) & set(r_payload_cols))
    if clash:
        # the final select would emit two columns per clashing name —
        # downstream select()/write would fail with AMBIGUOUS_REFERENCE
        raise ValueError(
            f"asof_join output would duplicate column name(s) {clash}; "
            "rename or drop them on one side first")

    r = right.select(
        *on,
        F.col(right_ts).alias(_TS),
        # rights sort before lefts at equal ts iff exact matches count
        F.lit(0 if allow_exact else 1).alias(_SIDE),
        F.struct(*[F.col(c) for c in r_payload_cols]).alias(_PAYLOAD),
        F.lit(None).cast(
            left.select(F.struct(*l_cols)).schema[0].dataType
        ).alias(_LEFTROW),
    )
    l = left.select(
        *on,
        F.col(left_ts).alias(_TS),
        F.lit(1 if allow_exact else 0).alias(_SIDE),
        F.lit(None).cast(
            right.select(F.struct(*r_payload_cols)).schema[0].dataType
        ).alias(_PAYLOAD),
        F.struct(*[F.col(c) for c in l_cols]).alias(_LEFTROW),
    )
    w = (Window.partitionBy(*on)
         .orderBy(F.col(_TS).asc(), F.col(_SIDE).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = F.last(_PAYLOAD, ignorenulls=True).over(w)
    timeline = r.unionByName(l).withColumn(_PAYLOAD, carried)
    out = timeline.where(F.col(_LEFTROW).isNotNull())
    return out.select(
        *[F.col(f"{_LEFTROW}.{c}").alias(c) for c in l_cols],
        *[F.col(f"{_PAYLOAD}.{c}").alias(c) for c in r_payload_cols],
    )


def sessionize(df: DataFrame, on: list[str], ts: str, gap,
               session_col: str = "session_id",
               order_cols: list[str] | None = None) -> DataFrame:
    """Assign a per-key session index (0-based, in time order): a new
    session starts where the gap to the key's previous event exceeds
    ``gap`` (same unit as ``ts``). Classic gaps-and-islands — lag to
    flag session starts, running sum to number them. One shuffle on the
    key columns, linear per key.

    ``order_cols``: extra tie-break columns appended to the time
    ordering. With DUPLICATE timestamps this is not cosmetic: the lag
    pass and the running-sum pass are separate window evaluations whose
    tie orders need not agree, so a tie group at a session boundary can
    otherwise split across sessions nondeterministically (the flagged
    start row lands mid-group in the second pass's order). Pass a
    unique column (an event id) whenever ``ts`` can repeat."""
    order = [F.col(ts).asc()] + [F.col(c).asc() for c in (order_cols or [])]
    w = Window.partitionBy(*on).orderBy(*order)
    is_start = F.when(
        F.lag(ts).over(w).isNull()
        | ((F.col(ts) - F.lag(ts).over(w)) > F.lit(gap)), 1).otherwise(0)
    running = Window.partitionBy(*on).orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("__s__", is_start) \
        .withColumn(session_col, (F.sum("__s__").over(running) - 1)
                    .cast("long")) \
        .drop("__s__")


def range_join(left: DataFrame, right: DataFrame, on: list[str],
               left_ts: str, r_start: str, r_end: str,
               bucket_width: int) -> DataFrame:
    """Containment join: left rows paired with every right interval
    [r_start, r_end) of the same keys that contains ``left_ts`` — as a
    bucketed EQUI-join (see module doc). ``bucket_width`` trades
    interval-row duplication (~interval/width copies) against join
    selectivity; pick it near the typical interval length."""
    if bucket_width <= 0:
        # 'x div 0' is null, which would silently empty the join
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")

    def with_bucket(df, src, out):
        # integer-exact `div` via a FIXED-name temp column: interpolating
        # the user's column name into F.expr would mis-parse names with
        # spaces/keywords, and double-based floor(c / w) loses exactness
        # for int64 timestamps beyond 2^53
        return (df.withColumn("__t__", src)
                .withColumn(out, F.expr(f"__t__ div {int(bucket_width)}"))
                .drop("__t__"))

    lb = with_bucket(left, F.col(left_ts), "__b__")
    rb = with_bucket(
        with_bucket(right, F.col(r_start), "__b0__"),
        # end is exclusive: the last covered bucket is (end-1) div W
        F.col(r_end) - 1, "__b1__")
    rb = rb.withColumn(
        "__b__", F.explode(F.sequence(F.col("__b0__"), F.col("__b1__")))
    ).drop("__b0__", "__b1__")
    out = lb.join(rb, on + ["__b__"], "inner") \
        .where((F.col(left_ts) >= F.col(r_start))
               & (F.col(left_ts) < F.col(r_end)))
    return out.drop("__b__")


def funnel_counts(df: DataFrame, steps: list, user_col: str = "user_id",
                  step_col: str = "event_type",
                  ts_col: str = "ts",
                  max_gap: int | None = None) -> DataFrame:
    """Ordered-funnel analysis: how many users completed step 1, then
    step 2 STRICTLY AFTER their first step 1, then step 3 after that
    reach, and so on — the conversion measurement (view → click →
    purchase) every event pipeline ships.

    Each stage is a hash aggregation producing a per-user reach-time
    table (one row per surviving user) joined to the next step's
    events — k-1 equi-joins on the user key for k steps, per-user
    state never leaving the executors, no ordered collect_list, no
    window over a user's whole history. A funnel over 10^9 users is
    k hash-aggs over tables that only SHRINK stage by stage.

    Semantics: reach time of stage i = min event time of ``steps[i]``
    strictly after the user's stage-(i-1) reach time — the classic
    unbounded-window funnel. ``max_gap`` (same unit as ``ts_col``)
    bounds each HOP: stage i must occur within ``max_gap`` of the
    stage-(i-1) reach, the standard conversion-window semantics
    (filter ``df`` by a time range first to bound the whole funnel
    instead). Output: ``step, step_index, n_users``, monotonically
    non-increasing in ``step_index``.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    cur = (df.where(F.col(step_col) == steps[0])
           .groupBy(user_col)
           .agg(F.min(ts_col).alias("__reach")))
    spark = df.sparkSession
    stages = [cur]
    for s in steps[1:]:
        after = F.col(ts_col) > F.col("__reach")
        if max_gap is not None:
            after = after & (F.col(ts_col) <= F.col("__reach") + max_gap)
        nxt = (df.where(F.col(step_col) == s)
               .join(cur, user_col)
               .where(after)
               .groupBy(user_col)
               .agg(F.min(ts_col).alias("__reach")))
        # localCheckpoint: each stage feeds the next; without it stage k
        # re-runs every earlier join (k^2 scans of the event table)
        nxt = nxt.localCheckpoint(eager=False)
        cur = nxt
        stages.append(cur)
    # all k stage counts from ONE stacked action (the sequential
    # per-stage count() paid k job round-trips; stage k's checkpoint
    # materializes inside this job and later stages' branches reuse it)
    stat = None
    for i, st in enumerate(stages):
        t = st.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(i).alias("i"), "n")
        stat = t if stat is None else stat.unionByName(t)
    counts = {r["i"]: r["n"] for r in stat.collect()}
    from sleeper_spark.query import local_rows_df
    return local_rows_df(
        spark, [(str(s), i, int(counts[i])) for i, s in enumerate(steps)],
        "step string, step_index int, n_users long")


def retention_cohorts(df: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts",
                      period: int = 86_400_000_000) -> DataFrame:
    """Cohort retention — the product-analytics staple: users are
    cohorted by the period of their FIRST activity, and each later
    period they act in increments their cohort's retention count.
    Output ``(cohort, period_offset, n_users)``; offset 0 is the
    cohort's size, and for a fixed cohort the counts are
    non-increasing only in aggregate product terms (a user CAN skip a
    period and return — this reports activity, not survival).

    Plan shape: distinct (user, period) pairs via one hash aggregation
    (the raw event volume collapses immediately — at 100 TB this is
    the only pass over the events), per-user first period from the
    same table, a join on the user key (both sides are already
    aggregates), and a final count. ``period`` uses integer ``div`` on
    the timestamp column, so cohort boundaries are exact for int64
    epoch values far beyond double precision."""
    if period <= 0:
        raise ValueError(f"period must be positive, got {period}")
    p = F.expr(f"`{ts_col}` div {int(period)}")
    acts = (df.where(F.col(ts_col).isNotNull())
            .select(F.col(user_col), p.alias("__p"))
            .distinct())
    firsts = acts.groupBy(user_col).agg(F.min("__p").alias("cohort"))
    return (acts.join(firsts, user_col)
            .groupBy("cohort",
                     (F.col("__p") - F.col("cohort")).cast("int")
                     .alias("period_offset"))
            .agg(F.count(F.lit(1)).alias("n_users")))


def gap_fill(df: DataFrame, on: list[str], ts: str, step: int,
             value: str, fill: str = "locf") -> DataFrame:
    """Regularize an event series: bucket ``ts`` to ``step``-sized
    intervals per entity, emit ONE row per bucket across each entity's
    [min, max] span — including the buckets that had no events — and
    fill the gaps (``locf`` carry-forward, ``zero``, or ``none`` to
    leave NULL). The time-series densification every
    training-pipeline featurizer needs before windowed models (a
    rolling mean over a series with holes is silently wrong).

    Output: ``on`` + ``bucket_ts`` (long, bucket start in ts units) +
    ``<value>`` (the bucket's max, filled per ``fill``) + ``n_rows``
    (source rows in the bucket; 0 marks a filled gap).

    Scale shape: one groupBy shuffle keyed (entity, bucket) for the
    in-bucket aggregate, one per-entity min/max aggregate whose dense
    spine is generated with ``sequence``+``explode`` (rows ∝ span/step
    per entity — pick ``step`` so spans stay thousands, not billions;
    the explode is narrow and never collects), a co-keyed left join,
    and one window pass for the carry-forward. No UDF, no driver
    loop; skewed entities are ordinary window skew (AQE)."""
    if fill not in ("locf", "zero", "none"):
        raise ValueError(f"fill must be locf|zero|none, got {fill!r}")
    if step <= 0:
        raise ValueError("step must be a positive ts-unit interval")
    bucket = (F.floor(F.col(ts).cast("long") / step) * step) \
        .cast("long")
    b = (df.withColumn("bucket_ts", bucket)
         .groupBy(*on, "bucket_ts")
         .agg(F.max(value).alias("__v"),
              F.count(F.lit(1)).alias("__n")))
    spine = (b.groupBy(*on)
             .agg(F.min("bucket_ts").alias("__mn"),
                  F.max("bucket_ts").alias("__mx"))
             .select(*on, F.explode(F.sequence(
                 F.col("__mn"), F.col("__mx"),
                 F.lit(step).cast("long"))).alias("bucket_ts")))
    j = spine.join(b, on=[*on, "bucket_ts"], how="left")
    filled = F.col("__v")
    if fill == "locf":
        w = (Window.partitionBy(*on).orderBy("bucket_ts")
             .rowsBetween(Window.unboundedPreceding, 0))
        filled = F.last("__v", ignorenulls=True).over(w)
    elif fill == "zero":
        filled = F.coalesce(F.col("__v"), F.lit(0).cast("double"))
    return j.select(
        *on, "bucket_ts", filled.alias(value),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long")
        .alias("n_rows"))


def rolling_features(df: DataFrame, on: list[str], ts: str,
                     value: str, windows: dict[str, int],
                     micros_scale: int = 1_000_000) -> DataFrame:
    """Trailing event-time window features per entity: for each row and
    each named window span (``{"1h": 3600_000_000}``, in the units of
    ``ts``) emit ``n_<name>`` (row count) and ``sum_<name>_micros``
    (the value summed as floored micro-unit longs) over
    ``[ts - span, ts]`` — the rolling activity/spend features a
    feature-store materialises before training.

    One shuffle on the entity key; every span shares that single sort
    (Spark evaluates all RANGE frames over one partitioned ordering, so
    k windows cost one exchange + one sort, not k). RANGE frames
    include ties-in-ts as peers — same semantics as SQL RANGE, so an
    oracle reproduces rows bit-for-bit. The per-item micro-quantization
    (floor, then integer sum) keeps the sums order-independent where a
    float running sum is not — the property every oracle here relies
    on (integer addition commutes; float addition does not). NULL
    values contribute count but not sum (floor(NULL) sums as NULL-skip
    in both engines)."""
    out = df
    v_micros = F.floor(F.col(value) * micros_scale).cast("long")
    out = out.withColumn("__vm", v_micros)
    for name, span in windows.items():
        w = (Window.partitionBy(*on).orderBy(F.col(ts).cast("long"))
             .rangeBetween(-int(span), 0))
        out = (out
               .withColumn(f"n_{name}",
                           F.count(F.lit(1)).over(w).cast("long"))
               .withColumn(f"sum_{name}_micros",
                           F.sum("__vm").over(w).cast("long")))
    return out.drop("__vm")
