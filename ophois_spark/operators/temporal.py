"""Temporal joins Spark lacks as built-ins, expressed shuffle-minimally.

The as-of join ("for each left row, the latest right row at-or-before
it") is a first-class operator in kdb+/DuckDB/Pandas but absent from
Spark SQL. The naive formulations both fail at 100 TB:

* inequality join + argmax: ``l JOIN r ON key AND r.t <= l.t`` is a
  range join — Catalyst plans it as a broadcast nested loop or a
  per-key explosion proportional to |l|x|r| per key;
* per-key ``collect_list`` + UDF: single hot task per key, all rows of
  a key in one executor's memory at once.

This implementation is the merge formulation: UNION both sides, one
hash shuffle on the key, one sort per partition, and a running
``last_value(ignorenulls)`` window carries the most recent right-side
payload forward into each left row. Cost is one Exchange + one sort —
the same shape as any windowed aggregation, linear in rows, no join
operator at all (plan-asserted in tests/test_temporal.py).

No reference counterpart (the Rust engine has no temporal layer); this
is a graft-mandated pipeline operator in the SURVEY §2.7 sense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "sessionize", "sessionize_naive"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    tie: str,
    payload: list[str],
    prefix: str = "r_",
) -> DataFrame:
    """Left as-of join: for every ``left`` row, attach ``payload`` from
    the ``right`` row with the greatest ``(ts, tie)`` such that
    ``right.ts <= left.ts`` and keys match; NULLs when no such row.

    ``tie`` must be a deterministic total-order tie-breaker within
    (key, ts) on the right side (e.g. an event id): among equal-``ts``
    right rows the one with the greatest ``tie`` wins, making the
    result insensitive to partitioning and input order.

    Both inputs may carry extra columns; ``left``'s survive untouched,
    ``right``'s ``payload`` columns arrive prefixed. ``ts`` may be any
    orderable type shared by both sides (use ``unix_micros`` for
    timestamps to keep cross-engine comparisons exact).

    NULL-timestamp contract (SQL comparison semantics, matching the
    ``r.ts <= l.ts`` predicate an oracle states): right rows with NULL
    ``ts`` are never a valid match and are dropped here before the
    union — without the filter they would sort NULLS FIRST as
    t = -infinity and become the "latest" payload for every left row
    of their key. Left rows with NULL ``ts`` survive with NULL payload:
    they sort before every non-NULL right row, so the running
    ``last_value`` has seen nothing when it reaches them.
    """
    pay_struct = F.struct(*[F.col(c) for c in payload])
    l_cols = left.columns
    lt = left.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_rtie"),
        F.lit(None).cast(
            right.select(pay_struct.alias("_p")).schema["_p"].dataType.simpleString()
        ).alias("_p"),
        F.struct(*[F.col(c) for c in l_cols]).alias("_l"),
    )
    rt = right.filter(F.col(ts).isNotNull()).select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.col(tie).cast("long").alias("_rtie"),
        pay_struct.alias("_p"),
        F.lit(None).cast(lt.schema["_l"].dataType.simpleString()).alias("_l"),
    )
    # Order within a key: time, then right-before-left at equal ts
    # (at-or-before semantics), then the right tie-breaker so the last
    # right row seen at any prefix is the (max ts, max tie) one.
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t"), F.col("_side"), F.col("_rtie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = lt.unionByName(rt)
    matched = u.withColumn("_m", F.last("_p", ignorenulls=True).over(w)).where(
        F.col("_side") == 1
    )
    out = [F.col(f"_l.{c}").alias(c) for c in l_cols]
    out += [F.col(f"_m.{c}").alias(f"{prefix}{c}") for c in payload]
    return matched.select(*out)


def event_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel → one row per prefix: (stage,
    n_users) — how many users performed steps[0], then steps[1]
    STRICTLY after it, then steps[2] strictly after that, and so on
    (each stage anchored at the EARLIEST qualifying occurrence, the
    standard funnel semantics: greedy-earliest maximizes downstream
    conversions, so the counts are the true maxima).

    Scale shape at 10^12 events: stage k is one filter on the event
    type (pushed to the scan), one equi-join on the user key against
    the stage-(k-1) anchor relation (ONE row per surviving user —
    shrinks monotonically, broadcastable long before the funnel
    bottoms out), and one algebraic min-aggregation. No window over a
    user's full history, no collect_list, no range join; a hot user's
    events collapse in the map-side partial min.
    """
    stage = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.min(ts_col).alias("t"))
    )
    out_rows = [stage.agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit(steps[0]).alias("stage"), "n_users"
    )]
    for i, s in enumerate(steps[1:], start=2):
        stage = (
            events.filter(F.col(type_col) == s)
            .join(stage, F.col(user_col) == F.col("u"))
            .filter(F.col(ts_col) > F.col("t"))
            .groupBy("u")
            .agg(F.min(ts_col).alias("t"))
        )
        out_rows.append(
            stage.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(" > ".join(steps[:i])).alias("stage"), "n_users"
            )
        )
    from functools import reduce

    return reduce(DataFrame.unionByName, out_rows)


def interval_point_join(
    intervals: DataFrame,
    points: DataFrame,
    key: str,
    slab_us: int,
    start_col: str = "s_us",
    end_col: str = "e_us",
    ts_col: str = "t_us",
) -> DataFrame:
    """Containment join Spark lacks as a built-in: every (interval,
    point) pair sharing ``key`` with start ≤ t ≤ end — WITHOUT a range
    join. What the naive ``ON key AND s <= t AND t <= e`` really plans
    (measured, BENCH/BASELINE.md "Interval containment join A/B"): with
    the equi-key present, a hash join on the key evaluating the range
    as a residual over the PER-KEY CROSS PRODUCT — fine at moderate key
    cardinality, quadratic on hot keys (7x slower at 2 users x 1M
    points), and a pure broadcast nested loop when no key exists. This
    is the slab-bucketing formulation every scale engine uses for
    interval overlap: intervals explode onto the fixed time slabs they
    cover, points land on exactly ONE slab, and the join becomes a hash
    equi-join on (key, slab) + a cheap containment filter whose
    candidate set is bounded by slab co-residence, not key fan-out.

    Because a point belongs to exactly one slab, each qualifying pair
    matches exactly once — no dedup step, unlike interval-interval
    joins (cf. the reference-point rule in segment_crossings).

    ``slab_us`` bounds the fan-out: an interval explodes into
    len/slab + 1 rows. Pick it near the typical interval length —
    explode factor ~2 — the standard tuning. All arithmetic is int64
    microseconds; no timestamp/float anywhere.

    Scale shape at 10^12 events: one narrow explode on the (smaller)
    interval side, one hash shuffle each side on (key, slab) —
    bucketable — and the filter is codegen. Hot keys (one user's dense
    day) spread across slabs BY CONSTRUCTION, the skew-resistance a
    plain per-key join lacks; AQE splits any residual hot slab.
    Output: (key, interval columns, point columns) — caller projects.
    """
    # integer div, never float division: at epoch-microsecond scale a
    # double quotient is representable but the discipline here is no
    # float in any key derivation
    iv = intervals.withColumn(
        "_slab",
        F.explode(
            F.sequence(
                F.expr(f"{start_col} div {slab_us}"),
                F.expr(f"{end_col} div {slab_us}"),
            )
        ),
    )
    pt = points.withColumn("_slab", F.expr(f"{ts_col} div {slab_us}"))
    return (
        iv.join(pt, [key, "_slab"])
        .filter(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
        )
        .drop("_slab")
    )


def sessionize_naive(
    events: DataFrame,
    gap_us: int,
    key: str = "user_id",
    ts: str = "t_us",
    tie: str = "event_id",
) -> DataFrame:
    """Textbook gap sessionization — ONE window over the key's entire
    history. Semantics reference and A/B baseline for ``sessionize``;
    the single ``Window.partitionBy(key)`` is the same trap
    ``pack_sequences`` documents: every event of a hot key (a bot, a
    scraper, a monitoring account — the Common-Crawl-log norm) lands
    in ONE task for the sort + running sum. Correct at any scale where
    no key dominates; the slabbed ``sessionize`` is the 100 TB form.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts, tie)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    st = (
        F.col("_pt").isNull() | (F.col(ts) - F.col("_pt") > F.lit(gap_us))
    ).cast("long")
    return (
        events.withColumn("_pt", F.lag(ts).over(w))
        .withColumn("_sid", F.sum(st).over(wc) - F.lit(1))
        .groupBy(F.col(key), F.col("_sid").alias("session_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts).alias("start_us"),
            F.max(ts).alias("end_us"),
        )
    )


def slab_run_ids(
    e: DataFrame,
    slab_us: int,
    cut_fn,
    carry: tuple[str, ...] = (),
    run_col: str = "_run",
) -> DataFrame:
    """Two-level slab prefix sum over per-key ordered rows → the input
    plus each row's TRUE predecessor values and a 0-based run id. The
    shared kernel under ``sessionize`` (time-gap cut, no carry) and
    ``trajectory.trip_segments`` (time+distance cut, lat/lon carry).

    ``e`` must carry ``_k`` (key), ``_t`` (int64 order), ``_i`` (int64
    tie — (_t, _i) must be unique per key) plus the ``carry`` columns
    the cut needs from the PREVIOUS row. ``cut_fn(prev, cur)`` builds
    the boolean "start a new run" Column from two dicts of Columns
    keyed by ``("_t", "_i", *carry)``; it is evaluated both on row
    pairs and on slab-summary structs, so it must be a pure expression
    of those inputs. Output adds ``_p_<c>`` (previous row's value,
    NULL only at the key's first row) for ``_t``/``_i``/every carry
    column, ``_cut`` (1 where a new run starts) and ``run_col``.

    Decomposition (the 100 TB argument, stated once here): the ordered
    scan runs per (key, ``_t div slab_us``) so a hot key's history
    shards across slabs BY CONSTRUCTION — the bound is rows-per-slab,
    never rows-per-key; slab summaries (lexicographic first/last row
    struct + inner cut count) are |keys × active slabs| rows,
    volume-independent; their per-key window hands each slab its
    carry-in row and run-count offset; a second (key, slab) window
    finishes locally. Both row-side windows and the summary join share
    ONE (key, slab) hash partitioning.
    """
    cols = ("_t", "_i", *carry)
    e = e.withColumn("_slab", F.expr(f"_t div {int(slab_us)}"))
    w_loc = Window.partitionBy("_k", "_slab").orderBy("_t", "_i")
    loc = e
    for c in cols:
        loc = loc.withColumn(f"_lp_{c}", F.lag(c).over(w_loc))
    prev_loc = {c: F.col(f"_lp_{c}") for c in cols}
    cur_row = {c: F.col(c) for c in cols}
    loc = loc.withColumn(
        "_inner_cut",
        F.when(F.col("_lp__t").isNull(), F.lit(0)).otherwise(
            cut_fn(prev_loc, cur_row).cast("long")
        ),
    )
    summ = loc.groupBy("_k", "_slab").agg(
        F.min(F.struct(*cols)).alias("_first"),
        F.max(F.struct(*cols)).alias("_last"),
        F.sum("_inner_cut").alias("_inner_cuts"),
    )
    w_slab = Window.partitionBy("_k").orderBy("_slab")
    w_slab_prev = w_slab.rowsBetween(Window.unboundedPreceding, -1)
    prev_s = {c: F.col("_prev").getField(c) for c in cols}
    first_s = {c: F.col("_first").getField(c) for c in cols}
    summ2 = (
        summ.withColumn("_prev", F.lag("_last").over(w_slab))
        .withColumn(
            "_first_cut",
            F.when(F.col("_prev").isNull(), F.lit(1)).otherwise(
                cut_fn(prev_s, first_s).cast("long")
            ),
        )
        .withColumn(
            "_cuts_before",
            F.coalesce(
                F.sum(F.col("_inner_cuts") + F.col("_first_cut")).over(w_slab_prev),
                F.lit(0),
            ),
        )
        .select("_k", "_slab", "_prev", "_cuts_before")
    )
    j = loc.join(summ2, ["_k", "_slab"])
    # each row's TRUE predecessor: the in-slab lag, else the carry-in
    for c in cols:
        j = j.withColumn(
            f"_p_{c}",
            F.coalesce(F.col(f"_lp_{c}"), F.col("_prev").getField(c)),
        )
    prev_row = {c: F.col(f"_p_{c}") for c in cols}
    w_loc_c = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cut = F.when(F.col("_p__t").isNull(), F.lit(1)).otherwise(
        cut_fn(prev_row, cur_row).cast("long")
    )
    j = j.withColumn("_cut", cut)
    j = j.withColumn(
        run_col, F.col("_cuts_before") + F.sum("_cut").over(w_loc_c) - F.lit(1)
    )
    return j.drop(
        "_prev", "_inner_cut", "_cuts_before", *[f"_lp_{c}" for c in cols]
    )


def sessionize(
    events: DataFrame,
    gap_us: int,
    slab_us: int,
    key: str = "user_id",
    ts: str = "t_us",
    tie: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization → (key, session_id, n_events,
    start_us, end_us): a session is a maximal run of a key's events
    where consecutive gaps are ≤ ``gap_us`` (strictly greater starts a
    new one); ``session_id`` is 0-based in time order per key.

    Same output as ``sessionize_naive`` (pinned in
    tests/test_temporal.py) via the ``slab_run_ids`` two-level slab
    prefix sum (see its docstring for the decomposition and the 100 TB
    argument) with the pure time-gap cut. All arithmetic is int64
    microseconds (gap boundary exact cross-engine; equal-ts events
    ordered by ``tie``; the gap compares ``ts`` only). ``slab_us``
    must be ≥ 1; pick it ~10-100× ``gap_us`` so slab summaries stay
    tiny while hot keys still shard.
    """
    e = events.select(
        F.col(key).alias("_k"),
        F.col(ts).cast("long").alias("_t"),
        F.col(tie).cast("long").alias("_i"),
    )
    cut = lambda p, c: c["_t"] - p["_t"] > F.lit(int(gap_us))  # noqa: E731
    return (
        slab_run_ids(e, slab_us, cut, run_col="session_id")
        .groupBy(F.col("_k").alias(key), "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_t").alias("start_us"),
            F.max("_t").alias("end_us"),
        )
    )


DAY_US = 86_400_000_000  # one day in epoch microseconds


def retention_cohorts(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Cohort retention matrix → (cohort_day, age_days, n_users): users
    bucketed by their FIRST active day (epoch-day integer, no timezone
    arithmetic anywhere), counted on each later active day offset.

    Scale shape, in shuffle order:

    - distinct (user, epoch_day): the ONLY pass over raw events, and
      it collapses the per-user event fan-in (k events/user/day → 1
      row) before anything else moves;
    - first-day: map-side-combinable min per user over the collapsed
      pairs;
    - one hash equi-join back on user_id (both sides |users|-scale);
    - final (cohort, age) count — plain count(*), NOT count distinct:
      (user, day) is unique by construction, and (cohort_day,
      age_days) pins the day, so a user contributes at most one row
      per output cell. Map-side combinable.

    Everything is int64 (epoch-day indices and counts) — bit-identical
    across engines.
    """
    ud = events.select(
        "user_id",
        F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {DAY_US}")
        .cast("long")
        .alias("day"),
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ud.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("age_days")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select("cohort_day", F.col("age_days").cast("long").alias("age_days"), "n_users")
    )


HOUR_US = 3_600_000_000  # one hour in epoch microseconds


def st_cube_rollup(
    pts: DataFrame,
    grid_deg: float,
    ts_col: str = "ts",
    type_col: str = "event_type",
    user_col: str = "user_id",
) -> DataFrame:
    """Spatiotemporal OLAP cube → one row per (cell, hour, type) group
    AND every roll-up margin (all-cells, all-hours, all-types and
    their combinations) in a single pass: the pre-aggregated pyramid a
    dashboard serves without re-scanning events (the reference's
    metrics sinks are the zero-dimension corner of this cube —
    src/graph.rs order/size made OLAP).

    ``pts``: (lat_d, lon_d, ts, event_type, user_id). Cell is the
    floor-grid composite key (gx * 2^20 + gy — same grid family as the
    snap/crossings operators), hour is the integer epoch-hour mod 24
    (no timezone/date semantics anywhere), and the margins carry
    sentinels plus an explicit grouping bitmask ``g`` (cell=4 |
    hour=2 | type=1) computed with ``grouping()`` so engines agree
    regardless of their internal grouping-id conventions.

    ``g`` is the AUTHORITATIVE margin discriminator — select margins
    by bitmask, never by sentinel equality. The sentinels exist only
    so the key columns stay non-null for hashing/joins: CELL_ALL
    (-2^62) and hour -1 cannot collide with data (a real composite
    cell is bounded by ±2^41 at any grid, a real hour is 0..23), but
    event_type 'ALL' COULD collide with a pathological type string —
    with ``g`` odd you are reading a type margin regardless.

    Scale shape: ``cube`` expands to 8 grouping sets, each a plain
    algebraic aggregation with map-side partial combine — one shuffle
    of partial aggregates, NO row replication shuffle. n_users is
    COUNT(DISTINCT) so Spark plans the standard two-phase expand;
    everything emitted is int64 counts — bit-identical across engines.
    """
    CELL_ALL = -(1 << 62)
    g = F.lit(grid_deg)
    d = pts.select(
        (
            F.floor(F.col("lon_d") / g).cast("long") * F.lit(1 << 20)
            + F.floor(F.col("lat_d") / g).cast("long")
        ).alias("cell"),
        (
            F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {HOUR_US}") % 24
        )
        .cast("int")
        .alias("hour"),
        F.col(type_col).alias("event_type"),
        F.col(user_col).alias("user_id"),
    )
    return (
        d.cube("cell", "hour", "event_type")
        .agg(
            (
                F.grouping("cell") * F.lit(4)
                + F.grouping("hour") * F.lit(2)
                + F.grouping("event_type")
            )
            .cast("int")
            .alias("g"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.coalesce(F.col("cell"), F.lit(CELL_ALL).cast("long")).alias("cell"),
            F.coalesce(F.col("hour"), F.lit(-1).cast("int")).alias("hour"),
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "g",
            "n_events",
            "n_users",
        )
    )


OUTLIER_K = 3  # MAD multiplier
OUTLIER_MIN_ABS = 2  # absolute floor so mad=0 users need a real jump


def user_rate_outliers(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Per-user daily-rate anomaly flags → (user_id, day, n_events,
    med, mad, is_outlier): a day is anomalous when its event count
    deviates from the user's median daily count by more than
    ``OUTLIER_K``×MAD and by more than ``OUTLIER_MIN_ABS`` (the
    abuse/bot-rate probe a crawl or event pipeline runs per account).

    INTEGER discipline end-to-end: day = epoch day (exact), counts are
    ints, median/MAD are lower-median ORDER STATISTICS (value at
    row_number ceil(n/2) in (value, day)-sorted order — deterministic,
    no float percentile, cross-engine exact). Windows partition by
    user_id: bounded by one user's distinct days, never a corpus hot
    key. Two window passes (median, then MAD) + one broadcast-free
    join back on user_id.
    """
    d = events.select(
        "user_id",
        F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp")) / F.lit(86400))
        .cast("long")
        .alias("day"),
    )
    daily = d.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    from pyspark.sql import Window

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(F.asc(val), F.asc("day"))
        ranked = df.withColumn("_r", F.row_number().over(w)).withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        med = ranked.filter(F.col("_r") == F.ceil(F.col("_n") / 2)).select(
            "user_id", F.col(val).alias(out)
        )
        return med

    med = lower_median(daily, "n_events", "med")
    dev = daily.join(med, "user_id").withColumn(
        "_ad", F.abs(F.col("n_events") - F.col("med"))
    )
    mad = lower_median(
        dev.select("user_id", "day", F.col("_ad").alias("n_events")), "n_events", "mad"
    )
    out = dev.join(mad, "user_id")
    flag = (F.col("_ad") > F.lit(OUTLIER_K) * F.col("mad")) & (
        F.col("_ad") > F.lit(OUTLIER_MIN_ABS)
    )
    return out.select(
        "user_id",
        "day",
        "n_events",
        F.col("med").cast("long").alias("med"),
        F.col("mad").cast("long").alias("mad"),
        flag.cast("int").alias("is_outlier"),
    )
