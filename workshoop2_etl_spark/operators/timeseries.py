"""Time-series operators over the events feed: gap-filled resampling,
staged funnels, and retention cohorts.

The reference's dashboards are static group-bys (SURVEY.md §2.6); these
are their time-axis siblings — the queries a product-analytics user
runs against the same fact table. All three are single-digit-shuffle
compositions of built-in operators:

- :func:`resample_fill` — per-group fixed-step grid (``sequence`` +
  explode) left-joined with per-bucket aggregates, then forward-filled
  with ``last(ignorenulls)`` over the group's time order. No UDFs; the
  grid explode is narrow; the only shuffles are the bucket aggregate
  and the per-group window sort.
- :func:`funnel` — ONE aggregation pass: min event time per stage per
  actor, then ordered-chain predicates (reached stage k iff
  m1 ≤ … ≤ mk, strictly increasing across distinct stages) unpivoted
  into (stage, n_actors) rows. Never a per-stage self-join.
- :func:`retention_cohorts` — first-activity cohort per actor × later
  activity periods → distinct-actor counts, two small aggregates and
  one join on the actor key.

Scale: every shuffle is keyed by the group/actor column; at 100 TB the
fact table shuffles once per operator on a high-cardinality key. The
grid explode in :func:`resample_fill` multiplies rows by the span/step
ratio — callers bound it with ``max_buckets`` (raise) rather than
discovering a quadratic blow-up in production.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from workshoop2_etl_spark.functions.text import epoch_micros
from workshoop2_etl_spark.operators.ids import running_sums

_US = 1_000_000


def resample_fill(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    agg: str = "avg",
    max_buckets: int = 1_000_000,
    fill: str = "ffill",
) -> DataFrame:
    """Per-group fixed-step resample with gap filling.

    Each group's timeline becomes a dense grid of ``step_seconds``
    buckets from its first to its last observation; ``value_col`` is
    aggregated per bucket (``avg``/``sum``/``min``/``max``/``count``)
    and empty buckets are filled per ``fill``:

    - ``"ffill"`` — inherit the most recent earlier bucket's value
      (classic forward fill; leading gaps stay NULL).
    - ``"linear"`` — straight-line interpolation between the nearest
      observed bucket on each side (two IGNORE NULLS windows — one
      trailing ``last``, one leading ``first`` — carrying both the
      neighbor's value and its bucket index, so the slope is exact
      even across multi-bucket gaps). Trailing gaps hold the last
      observation (no future anchor to interpolate toward); leading
      gaps stay NULL — same edge semantics pandas
      ``interpolate(limit_direction='forward')`` uses.

    Returns (group_cols…, ``bucket_ts`` timestamp, ``v`` double).

    ``max_buckets`` guards the grid explode: a single group spanning
    years at 1-second steps would quietly generate 10⁸ rows per group
    — fail loudly instead (at action time, executor-side) so the
    caller picks a coarser step.
    """
    if agg not in ("avg", "sum", "min", "max", "count"):
        raise ValueError(f"unsupported agg {agg!r}")
    if fill not in ("ffill", "linear"):
        raise ValueError(f"unsupported fill {fill!r}")
    gcols = list(group_cols)
    step_us = step_seconds * _US
    # floor, not cast-truncation: division truncates TOWARD ZERO, so a
    # pre-1970 timestamp would land one bucket high — diverging from
    # both the grid semantics and the DuckDB oracle's floor().
    bucket = F.floor(epoch_micros(df, ts_col) / F.lit(step_us)).cast(
        "long"
    )

    per_bucket = (
        df.withColumn("__bucket", bucket)
        .groupBy(*gcols, "__bucket")
        .agg(getattr(F, agg)(F.col(value_col)).cast("double").alias("__v"))
    )
    spans = per_bucket.groupBy(*gcols).agg(
        F.min("__bucket").alias("__lo"), F.max("__bucket").alias("__hi")
    )
    # Lazy in-plan guard (no extra job, plan construction stays
    # side-effect-free): assert_true evaluates executor-side on the
    # P-group spans rows during the single execution and fails the
    # job with the message below; an earlier version ran an eager
    # take(1) here, executing the full per-bucket aggregate at CALL
    # time and again at action time.
    guarded_hi = F.when(
        F.assert_true(
            (F.col("__hi") - F.col("__lo")) < F.lit(max_buckets),
            F.lit(
                f"resample_fill grid would exceed max_buckets="
                f"{max_buckets} for at least one group; use a coarser "
                f"step_seconds"
            ),
        ).isNull(),
        F.col("__hi"),
    )
    grid = spans.select(
        *gcols,
        F.explode(F.sequence("__lo", guarded_hi)).alias("__bucket"),
    )
    w = (
        Window.partitionBy(*gcols)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(per_bucket, [*gcols, "__bucket"], "left")
    if fill == "linear":
        # Nearest observed neighbor on each side, carried WITH its
        # bucket index so the interpolation slope spans multi-bucket
        # gaps correctly. Two windows over the same per-group sort —
        # one physical sort, two frame scans.
        w_next = (
            Window.partitionBy(*gcols)
            .orderBy("__bucket")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        obs_b = F.when(F.col("__v").isNotNull(), F.col("__bucket"))
        prev_v = F.last("__v", ignorenulls=True).over(w)
        prev_b = F.last(obs_b, ignorenulls=True).over(w)
        next_v = F.first("__v", ignorenulls=True).over(w_next)
        next_b = F.first(obs_b, ignorenulls=True).over(w_next)
        filled = (
            F.when(F.col("__v").isNotNull(), F.col("__v"))
            .when(
                prev_v.isNotNull() & next_v.isNotNull(),
                prev_v
                + (next_v - prev_v)
                * (F.col("__bucket") - prev_b)
                / (next_b - prev_b),
            )
            # trailing gap: hold the last observation (no next anchor)
            .otherwise(prev_v)
        )
    else:
        filled = F.last("__v", ignorenulls=True).over(w)
    return joined.withColumn("__filled", filled).select(
        *gcols,
        F.timestamp_micros(
            F.col("__bucket") * F.lit(step_us)
        ).alias("bucket_ts"),
        F.col("__filled").alias("v"),
    )


def funnel(
    df: DataFrame,
    *,
    actor_col: str,
    ts_col: str,
    stage_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """Ordered-funnel conversion counts in ONE aggregation pass.

    An actor reaches stage k when their earliest occurrence of each
    stage is strictly ordered: min(s₁) < min(s₂) < … < min(sₖ) — the
    standard "first touches happen in order" funnel, which needs only
    the per-stage min timestamps, not a per-stage self-join or an
    event-sequence scan.

    Returns one row per stage: (``stage_idx`` long, ``stage``,
    ``n_actors`` long), n_actors non-increasing down the funnel.
    """
    stages = list(stages)
    if len(stages) < 2:
        raise ValueError("funnel needs at least two stages")
    mins = df.groupBy(actor_col).agg(
        *[
            F.min(
                F.when(F.col(stage_col) == s, F.col(ts_col))
            ).alias(f"__m{i}")
            for i, s in enumerate(stages)
        ]
    )
    reached = []
    cond = F.col("__m0").isNotNull()
    reached.append(cond)
    for i in range(1, len(stages)):
        cond = (
            cond
            & F.col(f"__m{i}").isNotNull()
            & (F.col(f"__m{i-1}") < F.col(f"__m{i}"))
        )
        reached.append(cond)
    counts = mins.agg(
        *[
            F.sum(c.cast("long")).alias(f"__n{i}")
            for i, c in enumerate(reached)
        ]
    )
    # Unpivot the single counts row into (stage_idx, stage, n_actors).
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"__n{i}").alias("n_actors"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return (
        counts.select(F.explode(pairs).alias("r"))
        .select("r.stage_idx", "r.stage", "r.n_actors")
    )


def retention_cohorts(
    df: DataFrame,
    *,
    actor_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Cohort retention triangle: actors grouped by first-activity
    period, counted in each later period they return.

    ``offset`` is whole periods since the cohort period (0 = the
    cohort period itself), computed as day-difference / period-days —
    exact because both endpoints are period-truncated. Two aggregates
    (first activity per actor; distinct actor-periods) joined on the
    actor key; the output is tiny (periods²/2 rows).

    Returns (``cohort`` date, ``offset`` long, ``n_actors`` long).
    """
    days = {"week": 7, "day": 1}.get(period)
    if days is None:
        raise ValueError("period must be 'week' or 'day'")
    trunc = F.date_trunc(period, F.col(ts_col)).cast("date")
    firsts = df.groupBy(actor_col).agg(F.min(trunc).alias("__cohort"))
    actives = df.select(
        F.col(actor_col), trunc.alias("__active")
    ).distinct()
    return (
        actives.join(firsts, actor_col)
        .groupBy(
            F.col("__cohort").alias("cohort"),
            (
                F.datediff("__active", "__cohort") / F.lit(days)
            )
            .cast("long")
            .alias("offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_actors"))
    )


def transition_counts(
    df: DataFrame,
    *,
    actor_col: str,
    ts_col: str,
    state_col: str,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """First-order state-transition (Markov bigram) counts: for each
    actor's time-ordered event sequence, count each consecutive
    (from_state → to_state) pair across the corpus.

    One window pass (``lag`` over the actor partition) + one count
    aggregate — the sequence-mining primitive behind next-action
    models and funnel diagnostics. Pass ``order_tiebreak`` columns
    (e.g. an event id) when timestamps can collide: a total order per
    actor makes the result deterministic.

    Returns (``from_state``, ``to_state``, ``n`` long).
    """
    w = Window.partitionBy(actor_col).orderBy(ts_col, *order_tiebreak)
    pairs = df.select(
        F.lag(F.col(state_col)).over(w).alias("from_state"),
        F.col(state_col).alias("to_state"),
    ).filter(F.col("from_state").isNotNull())
    return pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )


def attribution(
    df: DataFrame,
    *,
    actor_col: str,
    ts_col: str,
    channel_col: str,
    conversion_predicate,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """First-touch / last-touch attribution: for every actor whose
    history contains a conversion (``conversion_predicate`` Column),
    credit the channel of their EARLIEST pre-conversion event and the
    channel of their LATEST event strictly before the first
    conversion, then count credits per channel.

    Two aggregates and one actor-keyed join — never a per-channel
    self-join: (1) first conversion time per actor; (2) over the
    pre-conversion slice, ``min_by``/``max_by`` on the (ts,
    tiebreak…) struct picks each actor's first/last touch
    deterministically even under timestamp collisions. Actors who
    convert with no prior event (the conversion IS their first event)
    carry no touch credit — standard attribution semantics.

    Returns (``channel``, ``n_first_touch`` long, ``n_last_touch``
    long): one row per channel credited at least once, zeros filled on
    the side that never credited it.

    Scale: both aggregates shuffle on the actor key; the conversion
    table is actors-who-converted (far smaller than events) and joins
    back keyed — broadcast-eligible when dimension-sized. Channel
    cardinality bounds the final aggregate at a handful of rows.
    """
    order_key = F.struct(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    conv = (
        df.filter(conversion_predicate)
        .groupBy(actor_col)
        .agg(F.min(ts_col).alias("__conv_ts"))
    )
    pre = df.join(conv, actor_col).filter(
        F.col(ts_col) < F.col("__conv_ts")
    )
    touches = pre.groupBy(actor_col).agg(
        F.min_by(F.col(channel_col), order_key).alias("__first_ch"),
        F.max_by(F.col(channel_col), order_key).alias("__last_ch"),
    )
    firsts = touches.groupBy(F.col("__first_ch").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_first_touch")
    )
    lasts = touches.groupBy(F.col("__last_ch").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_last_touch")
    )
    return (
        firsts.join(lasts, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("n_first_touch", F.lit(0)).alias("n_first_touch"),
            F.coalesce("n_last_touch", F.lit(0)).alias("n_last_touch"),
        )
    )


def sliding_active_actors(
    df: DataFrame,
    *,
    actor_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window distinct active actors per day (DAU→WAU/MAU
    family): for each day that appears in the data, how many distinct
    actors were active in the ``window_days`` ending that day.

    COUNT(DISTINCT) over a sliding window has no single-pass window
    form — the standard scalable shape is contribution fan-out:
    distinct (actor, day) pairs [actor-days, far below event count]
    explode each pair to the ≤``window_days`` report days it
    contributes to (bounded, narrow), distinct again (an actor active
    twice in one window counts once), then a plain per-day count.
    Report days are clipped to the observed day span (no phantom tail
    after the last event) and to days with ≥1 event (semi-join with
    the observed-day set — dashboard convention, and what a DuckDB
    twin over real days computes).

    Returns (``day`` date, ``n_active`` long).

    Scale: every shuffle keys on (actor, day) or day; fan-out is a
    ×``window_days`` row multiplier on ACTOR-DAYS, not events —
    28-day windows over years of data stay linear. The observed-day
    set is days-sized, broadcast.
    """
    day = F.col(ts_col).cast("date")
    actor_days = df.select(
        F.col(actor_col).alias("actor"), day.alias("__day")
    ).distinct()
    observed = actor_days.select("__day").distinct()
    contrib = (
        actor_days.select(
            "actor",
            F.explode(
                F.sequence(
                    F.col("__day"),
                    F.date_add(F.col("__day"), window_days - 1),
                )
            ).alias("day"),
        )
        .distinct()
        .join(
            F.broadcast(observed.select(F.col("__day").alias("day"))),
            "day",
            "left_semi",
        )
    )
    return contrib.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_active")
    )


def islands(
    df: DataFrame,
    group_cols: Sequence[str],
    tick_col: str,
) -> DataFrame:
    """Gap-and-islands: collapse each group's set of integer ticks
    (days, hours, slots — caller's unit) into maximal runs of
    CONSECUTIVE ticks.

    The classic trick: over distinct ticks per group,
    ``tick - row_number()`` is constant exactly within a consecutive
    run, so one ordered window plus one aggregate yields every island
    — no self-join, no iteration. Returns one row per island:
    group cols, ``island_start``, ``island_end``, ``length_ticks``.

    Scale: both the window and the aggregate partition by the group
    key — fully parallel across groups; per-group work is a sort of
    that group's DISTINCT ticks (days-active, not events), orders of
    magnitude below event cardinality.
    """
    gcols = list(group_cols)
    return (
        df.select(*gcols, F.col(tick_col).cast("long").alias("__tick"))
        .distinct()
        .withColumn("__grp", F.col("__tick") - F.row_number().over(
            Window.partitionBy(*gcols).orderBy("__tick")
        ))
        .groupBy(*gcols, "__grp")
        .agg(
            F.min("__tick").alias("island_start"),
            F.max("__tick").alias("island_end"),
            F.count(F.lit(1)).alias("length_ticks"),
        )
        .drop("__grp")
    )


def longest_streaks(
    df: DataFrame,
    group_cols: Sequence[str],
    tick_col: str,
) -> DataFrame:
    """Per-group streak report from :func:`islands`: number of
    islands, total active ticks, and the LONGEST island (earliest
    start wins ties — deterministic). One extra per-group window over
    island rows (tiny: islands ≤ active ticks)."""
    gcols = list(group_cols)
    isl = islands(df, gcols, tick_col)
    w = Window.partitionBy(*gcols).orderBy(
        F.desc("length_ticks"), F.asc("island_start")
    )
    return (
        isl.withColumn("__rk", F.row_number().over(w))
        .groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("length_ticks").alias("n_active_ticks"),
            F.max(F.when(F.col("__rk") == 1, F.col("length_ticks"))).alias(
                "longest_len"
            ),
            F.max(F.when(F.col("__rk") == 1, F.col("island_start"))).alias(
                "longest_start"
            ),
        )
    )


def ewma(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-key exponentially-weighted moving average in event order:

        y_0 = x_0;   y_t = α·x_t + (1−α)·y_{t−1}

    (the recursive / ``adjust=False`` convention — each observation's
    influence decays by (1−α) per subsequent observation).

    Plan shape: ONE shuffle on the key, then a per-key higher-order
    ``aggregate`` over the time-sorted (ts, tiebreak…, x) struct array
    — the recursion runs inside whole-stage codegen, no Python. The
    per-key state is that key's history array (the same
    bounded-history contract as sessionization/``resample_fill``:
    keys here are actors/devices/series whose individual history fits
    an executor; a key whose history doesn't fit needs time-chunked
    state carry, which is what the streaming layer's stateful ops are
    for). Rows come back EXPLODED to the original grain with ``out_col``
    attached, so the operator composes like any projection.

    Ties on ``ts_col`` are ordered by ``tiebreak_cols`` (pass a unique
    id to make the recursion deterministic under collisions — struct
    ordering is lexicographic, same convention as :func:`attribution`).
    NULL observations carry the smoothed state unchanged (and emit
    the carried value) — the pandas-ewm convention; without the guard
    one NULL would poison every subsequent value of its key.

    Closed form equivalence (what the DuckDB oracle replays):
    y_t = (1−α)^t·x_0 + α·Σ_{i=1..t} (1−α)^{t−i}·x_i.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    order_struct = F.struct(
        F.col(ts_col).alias("__ts"),
        *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(tiebreak_cols)],
        F.col(value_col).cast("double").alias("__x"),
    )
    rows = df.groupBy(key_col).agg(
        F.array_sort(F.collect_list(order_struct)).alias("__hist")
    )
    # Fold the recursion: accumulator is the ewma-so-far array (NULL
    # seed distinguishes "no rows yet"); each step appends
    # α·x + (1−α)·last. element_at(-1) reads the running value.
    def _ewma_step(acc, s):
        last = F.element_at(acc, -1)
        no_state = (F.size(acc) == 0) | last.isNull()
        nxt = (
            # NULL observation = no new information: the smoothed
            # state CARRIES (pandas-ewm convention) instead of
            # poisoning every subsequent value with NULL arithmetic.
            F.when(
                s["__x"].isNull(),
                F.when(
                    F.size(acc) == 0, F.lit(None).cast("double")
                ).otherwise(last),
            )
            .when(no_state, s["__x"])
            .otherwise(
                F.lit(alpha) * s["__x"]
                + F.lit(1.0 - alpha) * last
            )
        )
        return F.concat(acc, F.array(nxt))

    folded = rows.withColumn(
        "__y",
        F.aggregate(
            "__hist",
            F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
            _ewma_step,
        ),
    )
    exploded = folded.select(
        F.col(key_col),
        F.posexplode(F.arrays_zip("__hist", "__y")).alias("__i", "__z"),
    )
    return exploded.select(
        key_col,
        F.col("__z.__hist.__ts").alias(ts_col),
        F.col("__z.__hist.__x").alias(value_col),
        F.col("__z.__y").alias(out_col),
    )


def holt(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + linear
    trend) in event order — :func:`ewma`'s sibling for drifting
    signals, where single smoothing lags systematically:

        l_0 = x_0,  b_0 = 0
        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    Same plan shape as :func:`ewma` (one key shuffle + a codegen'd
    two-state higher-order fold over the sorted history; same
    bounded-per-key-history contract and the same NULL-carries
    convention) — the accumulator is an array of (level, trend)
    structs instead of scalars, which is exactly why the fold
    formulation generalizes where a window sum cannot: ANY
    finite-state per-key recursion fits.

    Returns the original grain + ``level``, ``trend``, and
    ``forecast`` (= level + trend, the one-step-ahead prediction).
    The DuckDB oracle replays the identical recursion as a RECURSIVE
    CTE stepping rn → rn+1 with the same operand order, so all three
    doubles compare bit-equal unrounded (cf. :func:`ewma` on why
    replay beats closed forms).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    order_struct = F.struct(
        F.col(ts_col).alias("__ts"),
        *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(tiebreak_cols)],
        F.col(value_col).cast("double").alias("__x"),
    )
    rows = df.groupBy(key_col).agg(
        F.array_sort(F.collect_list(order_struct)).alias("__hist")
    )

    null_state = 'CAST(NULL AS STRUCT<l: DOUBLE, b: DOUBLE>)'

    def _step(acc, s):
        prev = F.element_at(acc, -1)
        l_new = F.lit(alpha) * s["__x"] + F.lit(1.0 - alpha) * (
            prev["l"] + prev["b"]
        )
        b_new = F.lit(beta) * (l_new - prev["l"]) + F.lit(1.0 - beta) * prev[
            "b"
        ]
        first = F.struct(
            s["__x"].alias("l"), F.lit(0.0).alias("b")
        )
        nxt = F.struct(l_new.alias("l"), b_new.alias("b"))
        no_state = (F.size(acc) == 0) | prev.isNull()
        step = (
            # NULL observation carries (level, trend) unchanged —
            # same convention as the EWMA fold.
            F.when(
                s["__x"].isNull(),
                F.when(F.size(acc) == 0, F.expr(null_state)).otherwise(
                    prev
                ),
            )
            .when(no_state, first)
            .otherwise(nxt)
        )
        return F.concat(acc, F.array(step))

    folded = rows.withColumn(
        "__s",
        F.aggregate(
            "__hist",
            F.expr("CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE>>)"),
            _step,
        ),
    )
    exploded = folded.select(
        F.col(key_col),
        F.posexplode(F.arrays_zip("__hist", "__s")).alias("__i", "__z"),
    )
    return exploded.select(
        key_col,
        F.col("__z.__hist.__ts").alias(ts_col),
        F.col("__z.__hist.__x").alias(value_col),
        F.col("__z.__s.l").alias("level"),
        F.col("__z.__s.b").alias("trend"),
        (F.col("__z.__s.l") + F.col("__z.__s.b")).alias("forecast"),
    )


def kaplan_meier(
    df: DataFrame,
    *,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan–Meier survival estimator (product-limit, 1958) over
    right-censored durations — THE churn/retention curve: subjects
    contribute ``duration_col`` (time observed) and ``event_col``
    (1 = event occurred, 0 = censored — still alive when observation
    ended, which naive "avg lifetime" silently treats as dead):

        S(t) = Π_{tᵢ ≤ t} (1 − dᵢ / nᵢ)

    with dᵢ events at time tᵢ and nᵢ the at-risk count (everyone
    with duration ≥ tᵢ, censored included — that's the whole point).

    Plan shape: the data-sized work is ONE aggregate onto distinct
    durations; the cumulative product then runs over that
    DISTINCT-TIME table, bounded by the time resolution (days →
    thousands of rows at any corpus size), so its single-partition
    window is metadata-scale — same reasoning as TextRank's top-k
    rank. The product is exp(Σ ln(1−dᵢ/nᵢ)) with the dᵢ=nᵢ factor
    guarded (ln(1)=0 contribution + an explicit zero-survival flag)
    so neither engine evaluates ln(0).

    Returns event times only (where dᵢ > 0): (``duration`` long,
    ``n_risk`` long, ``n_events`` long, ``survival`` double 6 dp).
    """
    per_t = (
        df.select(
            F.col(duration_col).cast("long").alias("duration"),
            F.col(event_col).cast("long").alias("__e"),
        )
        .groupBy("duration")
        .agg(
            F.sum("__e").alias("__d"),
            F.count(F.lit(1)).alias("__tot"),
        )
    )
    w_before = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_upto = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = per_t.agg(F.sum("__tot").alias("__n"))
    stepped = (
        # one-row broadcast, not a collect: plan construction stays
        # side-effect-free (cf. the resample_fill eager-guard lesson)
        per_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            (F.col("__n") - F.coalesce(F.sum("__tot").over(w_before), F.lit(0)))
            .cast("long"),
        )
        .withColumn(
            "__lnterm",
            F.log(
                F.when(F.col("__d") == F.col("n_risk"), F.lit(1.0)).otherwise(
                    1.0 - F.col("__d") / F.col("n_risk")
                )
            ),
        )
        .withColumn(
            "__dead",
            F.max(
                (F.col("__d") == F.col("n_risk")).cast("int")
            ).over(w_upto),
        )
        .withColumn(
            "survival",
            F.when(F.col("__dead") == 1, F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum("__lnterm").over(w_upto)), 6)
            ),
        )
    )
    return (
        stepped.filter(F.col("__d") > 0)
        .select(
            "duration",
            "n_risk",
            F.col("__d").alias("n_events"),
            "survival",
        )
    )


def holt_winters(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int,
    alpha: float,
    beta: float,
    gamma: float,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-key additive Holt–Winters (triple exponential smoothing:
    level + trend + a rolling seasonal vector of ``period`` indices)
    — :func:`holt` extended with seasonality, completing the family:

        l_t = α·(x_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(x_t − l_t) + (1−γ)·s_{t−m}

    Initialization is the simple deterministic convention
    (l₀ = x₀, b₀ = 0, seasonal vector all-zero — indices converge
    over the first cycles), chosen because BOTH engines can replay it
    exactly; ``fitted`` is the one-step-ahead prediction
    l_{t−1} + b_{t−1} + s_{t−m} (NULL for the first row — no prior
    state to predict from). Seasonality is POSITIONAL (every key's
    t-th observation is season index t mod m) — regularize the series
    first (:func:`resample_fill`) if timestamps are irregular.

    Execution: an Arrow-batched per-key kernel (``applyInPandas``),
    NOT the :func:`ewma`/:func:`holt` JVM fold. A fold that must EMIT
    every step can only accumulate into an array, so copy-on-append
    makes any such fold quadratic in series length; with scalar state
    (ewma/holt) the constant is small enough for typical per-key
    series, but multiplying it by the m-length seasonal vector
    (O(n²·m) per key) turns a ten-year minutely series into a real
    scale cliff — that's the crossover to Python. The kernel is
    O(n·m): one Python loop per key over Arrow-transferred batches,
    executor-parallel across keys (the same per-group escape hatch
    as ``similarity.mmr_rerank``). Per-key state is three scalars +
    the m-vector; series order is the same (ts, tiebreaks…, value)
    lexicographic sort the fold used.

    The recursion arithmetic is spelled in the exact operand order of
    the formulas above — Python doubles and the JVM fold are both
    IEEE-754, so the oracle's RECURSIVE-CTE replay (rows carrying the
    list state, same operand order) stays bit-equal unrounded when
    the input series is exact (the registered query feeds integer
    cents).

    Returns the original grain + ``level``, ``trend``, ``seasonal``
    (s_t), ``fitted`` (nullable — NULL on each key's first row).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    for nm, v in (("beta", beta), ("gamma", gamma)):
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"{nm} must be in [0, 1], got {v}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [
            df.schema[key_col],
            df.schema[ts_col],
            StructField(value_col, DoubleType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("seasonal", DoubleType()),
            StructField("fitted", DoubleType()),
        ]
    )
    sort_cols = list(dict.fromkeys([ts_col, *tiebreak_cols, value_col]))
    # close over plan-time constants exactly as the fold did with
    # F.lit(1.0 - alpha): each subtraction happens ONCE, here.
    oma, omb, omg = 1.0 - alpha, 1.0 - beta, 1.0 - gamma
    m = period

    def _kernel(pdf):
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        xs = pdf[value_col].astype("float64").to_list()
        n = len(xs)
        level = [0.0] * n
        trend = [0.0] * n
        seas = [0.0] * n
        fit = [None] * n
        s = [0.0] * m
        l = b = sv = 0.0
        f = None
        for i, x in enumerate(xs):
            if i == 0:
                l, b, sv, f = x, 0.0, 0.0, None
            else:
                sm = s[0]
                f = l + b + sm
                l_new = alpha * (x - sm) + oma * (l + b)
                b_new = beta * (l_new - l) + omb * b
                sv = gamma * (x - l_new) + omg * sm
                s = s[1:] + [sv]
                l, b = l_new, b_new
            level[i], trend[i], seas[i], fit[i] = l, b, sv, f
        return pd.DataFrame(
            {
                key_col: pdf[key_col].to_numpy(),
                ts_col: pdf[ts_col].to_numpy(),
                value_col: xs,
                "level": level,
                "trend": trend,
                "seasonal": seas,
                # nullable Float64 so the first row's fitted arrives
                # as NULL (a bare float column would smuggle NaN)
                "fitted": pd.array(fit, dtype="Float64"),
            }
        )

    cols = list(dict.fromkeys([key_col, *sort_cols, value_col]))
    return df.select(*cols).groupBy(key_col).applyInPandas(_kernel, schema)


def concurrency_profile(
    df: DataFrame,
    *,
    start_col: str,
    end_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sweep-line concurrency over half-open intervals [start, end):
    how many intervals are simultaneously active after each boundary
    instant — the "max concurrent sessions/users/connections" metric
    behind capacity planning, computed exactly, never by sampling
    instants.

    Classic sweep line: +1 at every start, −1 at every end, running
    sum in time order. The net deltas aggregate per DISTINCT boundary
    timestamp first (one data-sized shuffle; simultaneous starts and
    ends at one instant collapse into a single net — which also
    encodes the half-open convention: an interval ending exactly when
    another starts never overlaps it). The running sum over distinct
    boundaries is ``ids.running_sums`` — never a single-partition
    global window.

    Pure integer arithmetic end to end — cross-engine exact.

    Returns one row per distinct boundary: (``ts``, ``net`` long,
    ``n_active`` long — the count active immediately AFTER the
    boundary).
    """
    deltas = (
        df.select(F.col(start_col).alias("__ts"), F.lit(1).alias("__d"))
        .unionByName(
            df.select(F.col(end_col).alias("__ts"), F.lit(-1).alias("__d"))
        )
        .filter(F.col("__ts").isNotNull())
        .groupBy("__ts")
        .agg(F.sum("__d").cast("long").alias("net"))
    )
    return running_sums(
        deltas, ["__ts"], {"n_active": F.col("net")},
        num_partitions=num_partitions,
    ).select(F.col("__ts").alias("ts"), "net", "n_active")
