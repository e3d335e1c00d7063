"""Scale utilities: the physical-layout levers the 100 TB design notes
rely on (SURVEY.md §7 Milestone 5; per-query docstrings in
:mod:`streamclient_spark.operators.relational`).

Three levers, each with a test that *proves the plan property* rather
than asserting it in prose:

- **Bucketed co-located joins** (:func:`write_bucketed`): persist both
  fact tables bucketed + sorted by the join key; an equi-join on that
  key then runs with ZERO Exchange — the shuffle happened once at write
  time and is amortized over every subsequent join. This is the
  standing-pipeline layout for orders⋈lineitem at 100 TB (the
  alternative — shuffling ~100 TB per query — is the single largest
  avoidable cost in the whole engine).
- **Salted joins** (:func:`salted_join`): a skewed equi-join key (one
  hot key holding a double-digit percent of rows) caps at the hot
  partition's size. Salting splits each hot key into ``n_salts``
  sub-keys: the big side gets a deterministic per-row salt, the small
  side is replicated once per salt, and the join key becomes
  ``(key, salt)`` — the hot partition shrinks ``n_salts``-fold at the
  cost of replicating the small side. AQE's skew-join splitting
  (enabled in :mod:`streamclient_spark.session`) handles moderate skew
  automatically; explicit salting is for the pathological tail and for
  engines/stores where AQE cannot reach (streaming state).
- **Salted two-phase aggregation** (:func:`salted_agg_sum`): the same
  trick for ``groupBy(key).sum()`` with a hot group: partial-aggregate
  on ``(key, salt)`` first (map-side combine still applies), then
  re-aggregate on ``key``. Two small shuffles instead of one skewed
  one. Only reassociative measures qualify (sum/count/min/max — not
  exact percentile).

The salt must be DETERMINISTIC (derived from stable columns, not
``rand()``): retried tasks must salt identically or a shuffle retry
double-counts rows. We use ``pmod(xxhash64(cols...), n)``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

SALT_COL = "__salt"


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    *,
    path: str | None = None,
) -> None:
    """Persist ``df`` hash-bucketed and sorted by ``key`` as a managed
    (or, with ``path``, external) table. Join/aggregate on ``key``
    across tables bucketed with the SAME bucket count then requires no
    Exchange and no Sort — the scan itself reports the partitioning to
    Catalyst. Bucket count is a layout contract: pick it once per
    subject area (facts sharing join keys share the count).

    The pre-write ``repartition(n_buckets, key)`` uses the same
    Murmur3 hash as the bucket assignment, so every bucket lands in
    exactly one task → one file per bucket (no small-file tail).
    Note: modern Spark still inserts a partition-local Sort before a
    merge join on bucketed reads (sort-order propagation is legacy-
    gated); the Exchange — the cost that matters at 100 TB — is gone."""
    df = df.repartition(n_buckets, F.col(key))
    w = df.write.format("parquet").mode("overwrite")
    if path is not None:
        w = w.option("path", path)
    w.bucketBy(n_buckets, key).sortBy(key).saveAsTable(table)


def salt(n_salts: int, *cols: Column | str) -> Column:
    """Deterministic salt in ``[0, n_salts)`` from stable columns —
    xxhash64 so the salt distributes uniformly and reruns/retries agree
    bit-for-bit (``rand()`` here would corrupt shuffle retries)."""
    return F.pmod(F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols]), F.lit(n_salts)).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    n_salts: int,
    salt_from: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to a skewed ``key`` on ``big``: the big side
    gets a deterministic per-row salt, the small side replicates
    ``n_salts``× via a literal-range explode, and the join runs on
    ``(key, salt)``. Output equals ``big.join(small, key, how)``
    row-for-row; the skewed partition is split ``n_salts`` ways.

    Supported ``how``: inner / left / left_semi / left_anti — the joins
    where every output row is anchored to exactly one big-side row, so
    small-side replication can't surface. Right/full outer are refused:
    an unmatched small-side key appears once per salt replica there
    (n_salts null-padded duplicates), which silently corrupts results.

    ``salt_from`` defaults to every big-side column except the key —
    any stable per-row identity works; more columns → finer spread."""
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports how in {sorted(allowed)}, got {how!r}: "
            "right/full outer joins would emit one null-padded duplicate "
            "per salt replica for unmatched small-side keys"
        )
    cols = salt_from or [c for c in big.columns if c != key]
    b = big.withColumn(SALT_COL, salt(n_salts, *cols))
    s = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn(SALT_COL, F.col(SALT_COL).cast("int"))
    out = b.join(s, on=[key, SALT_COL], how=how)
    return out.drop(SALT_COL)


def salted_agg_sum(
    df: DataFrame,
    key: str,
    measures: dict[str, str],
    *,
    n_salts: int,
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Two-phase skew-proof aggregation: ``groupBy(key, salt).sum``
    then ``groupBy(key).sum``. ``measures`` maps input column → output
    alias; sums stay in Spark's exact decimal/long space when the input
    column already is one (callers wanting the engine's float-parity
    convention pass decimal columns in)."""
    cols = salt_from or [c for c in df.columns if c != key]
    phase1 = (
        df.withColumn(SALT_COL, salt(n_salts, *cols))
        .groupBy(key, SALT_COL)
        .agg(*[F.sum(c).alias(a) for c, a in measures.items()])
    )
    return phase1.groupBy(key).agg(
        *[F.sum(a).alias(a) for a in measures.values()]
    )


def bucketed_session(spark: SparkSession) -> SparkSession:
    """Confs that make bucketed reads effective: bucketing on, and no
    automatic bucket-count rescaling that would silently reintroduce a
    shuffle."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    return spark


#: memoized hash-representatives per modulus n: rep[p] is a small long
#: with ``pmod(hash(rep[p]), n) == p``, so ``repartition(n, lit-mapped
#: rep)`` places logical bucket b in physical partition b EXACTLY —
#: hash partitioning used as a direct partitioner. A pure function of
#: (n, Spark's Murmur3 impl), found once per process by one tiny
#: spark.range job (no fixture data involved), then reused by every
#: range-layout consumer.
_REPS_MEMO: dict[int, list[int]] = {}


def _partition_reps(spark: SparkSession, n: int) -> list[int]:
    reps = _REPS_MEMO.get(n)
    if reps is not None:
        return reps
    m = 64 * n
    while True:
        rows = (
            spark.range(0, m)
            .select(F.col("id"), F.pmod(F.hash("id"), F.lit(n)).alias("p"))
            .groupBy("p")
            .agg(F.min("id").alias("r"))
            .collect()
        )
        if len(rows) == n:
            out = [0] * n
            for row in rows:
                out[int(row["p"])] = int(row["r"])
            _REPS_MEMO[n] = out
            return out
        m *= 4  # astronomically unlikely; widen the search and retry


def _norm_order(order_cols: list) -> list[tuple[str, bool]]:
    """Normalize a helper order spec to [(column_name, ascending)].
    Accepts plain strings (ascending) and simple ``F.asc(name)`` /
    ``F.desc(name)`` columns with Spark's DEFAULT null ordering
    (asc→nulls first, desc→nulls last) — exactly the forms the
    registry consumers use; anything fancier raises so a silent
    order/placement disagreement is impossible."""
    import re

    out: list[tuple[str, bool]] = []
    for c in order_cols:
        if isinstance(c, str):
            out.append((c, True))
            continue
        m = re.fullmatch(
            r"Column<'([A-Za-z0-9_]+) (ASC|DESC) NULLS (FIRST|LAST)'>",
            str(c),
        )
        if not m or (m.group(2) == "ASC") != (m.group(3) == "FIRST"):
            raise ValueError(
                f"unsupported order expression {c!r}: pass a column name "
                "or simple F.asc/F.desc with default null ordering"
            )
        out.append((m.group(1), m.group(2) == "ASC"))
    return out


def _sort_cols(order: list[tuple[str, bool]]) -> list:
    return [
        F.col(name).asc() if asc else F.col(name).desc()
        for name, asc in order
    ]


def _value_literal(dtype: str):
    """SQL literal renderer for placement-bound values of ``dtype``.
    Integral → long literals; float/double → string-cast doubles
    (repr round-trips exactly). Anything else is unsupported — the
    caller raises rather than risking a lossy literal."""
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return lambda v: f"{int(v)}L"
    if dtype in ("float", "double"):
        return lambda v: f"CAST('{float(v)!r}' AS DOUBLE)"
    return None


def _bucket_case_sql(
    value: str, bounds: list, asc: bool, base: int, vlit
) -> str:
    """Balanced comparison tree assigning a row to its bucket:
    ``base + |{b in bounds : b <= value}|`` for ascending order
    (``>=`` flipped for descending), as a pure-codegen nested CASE of
    depth ceil(log2(|bounds|+1)). NULL values route to the extreme
    bucket matching Spark's default null ordering (asc → first,
    desc → last); NaN doubles compare largest on both the comparison
    and sort paths, so placement and within-partition order can never
    disagree."""

    def tree(lo: int, bs: list) -> str:
        if not bs:
            return str(base + lo)
        mid = len(bs) // 2
        cond = (
            f"{value} >= {vlit(bs[mid])}"
            if asc
            else f"{value} <= {vlit(bs[mid])}"
        )
        return (
            f"CASE WHEN {cond} THEN {tree(lo + mid + 1, bs[mid + 1:])} "
            f"ELSE {tree(lo, bs[:mid])} END"
        )

    null_bucket = base if asc else base + len(bounds)
    return (
        f"CASE WHEN {value} IS NULL THEN {null_bucket} "
        f"ELSE {tree(0, bounds)} END"
    )


def _place_by_bounds(
    df: DataFrame,
    order_cols: list,
    *,
    group_col: str | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, list, list[tuple], int]:
    """Deterministic, sampler-free range layout (r12; guide §2.4/§2.5):
    ONE column-pruned probe aggregate derives approximate percentile
    bounds of the leading value column (per ``group_col`` when the
    total order leads with a small tag/axis column), the bounds become
    a LITERAL comparison tree assigning each row a bucket id ``__pid``
    in total-order position, and a plain hash repartition on a
    bucket-representative column ``__pk`` (see :func:`_partition_reps`)
    places bucket b in physical partition b — contiguous key ranges
    per partition, like ``repartitionByRange``, but with NO sampler
    pass over the input and a placement that is a pure function of the
    row, so retried/recomputed partitions can never disagree (the
    property the old form needed a localCheckpoint to enforce).
    Bounds are split on the value column only (ties of a hot value
    share a bucket — the probe-accuracy skew bound documented on the
    callers); balance comes from the percentile sketch. With more
    groups than ``num_partitions``, the layout widens to one partition
    per group.

    Returns ``(placed, sort_cols, groups, n)``: ``placed`` is the
    repartitioned frame (+ ``__pid``/``__pk``), lazily
    localCheckpoint'd (raw-row block store — measured cheaper than the
    columnar persist cache for these skinny spines) so the caller's
    offsets aggregate and final pipeline share one computation;
    ``groups`` is ``[(group_value, first_bucket, n_buckets)]`` in
    group order.

    Caller contract (unchanged from the sampler form, which also
    executed its input twice — sampler + exchange): ``df`` must be
    deterministic, ``order_cols`` a total order, leading group values
    non-null."""
    spark = df.sparkSession
    n = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    order = _norm_order(order_cols)
    names = [c for c, _ in order]
    if group_col is not None:
        if names[0] != group_col or not order[0][1]:
            raise ValueError(
                "group_col must be the leading ASCENDING order column"
            )
        vname, vasc = order[1]
    else:
        vname, vasc = order[0]
    dt = dict(df.dtypes)
    vlit = _value_literal(dt[vname])
    if vlit is None:
        raise ValueError(
            f"range layout needs a numeric leading value column; "
            f"{vname!r} is {dt[vname]!r}"
        )

    # --- probe: one aggregate job over (group, value) only. The
    # percentile sketch feeds on a DETERMINISTIC 1/16 hash-sample of
    # the rows (xxhash64 over the order columns — retry-stable, unlike
    # rand(); the sketch insert was measured ~4× the cost of the
    # filtered scan at 600k rows): bounds only steer partition
    # BALANCE, the offsets pass below is exact regardless, so sampled
    # bounds cost nothing in correctness. Counts ride the same
    # aggregate un-sampled so group allocation stays proportional.
    fine = [j / 64 for j in range(1, 64)]
    sampled = F.when(
        F.pmod(F.xxhash64(*[F.col(c) for c, _ in order]), F.lit(16)) == 0,
        F.col(vname),
    )
    pct = F.percentile_approx(sampled, fine).alias("q")
    cnt = F.count(F.lit(1)).alias("c")
    if group_col is not None:
        rows = df.groupBy(group_col).agg(pct, cnt).collect()
        if any(r[group_col] is None for r in rows):
            raise ValueError("NULL group values are unsupported")
        rows.sort(key=lambda r: r[group_col])
        probe = [(r[group_col], list(r["q"] or []), int(r["c"])) for r in rows]
    else:
        r = df.agg(pct, cnt).first()
        probe = [(None, list(r["q"] or []), int(r["c"]))]

    # every group needs a bucket of its own and every bucket a
    # partition of its own (the rank offsets are per partition), so
    # more groups than partitions widen the layout
    n = max(n, len(probe))
    total = sum(c for _, _, c in probe) or 1
    groups: list[tuple] = []
    cases: list[str] = []
    base = 0
    budget = n
    for gi, (gval, q, c) in enumerate(probe):
        remaining_groups = len(probe) - gi - 1
        p_g = max(1, min(budget - remaining_groups, round(n * c / total)))
        budget -= p_g
        bounds: list = []
        if q and p_g > 1:
            picked = [q[min(len(q) - 1, (len(q) * j) // p_g)] for j in range(1, p_g)]
            if not vasc:
                picked.reverse()
            for b in picked:  # dedupe while preserving direction
                if b is not None and (not bounds or b != bounds[-1]):
                    bounds.append(b)
        k = len(bounds) + 1
        case = _bucket_case_sql(vname, bounds, vasc, base, vlit)
        if group_col is None:
            cases.append(case)
        else:
            glit = _value_literal(dt[group_col])
            if glit is None:
                gl = "'" + str(gval).replace("'", "''") + "'"
            else:
                gl = glit(gval)
            cases.append(f"WHEN {group_col} = {gl} THEN {case}")
        groups.append((gval, base, k))
        base += k
    n_buckets = base
    if group_col is None:
        bucket_sql = cases[0] if cases else "0"
    else:
        bucket_sql = "CASE " + " ".join(cases) + " END" if cases else "0"
    if n_buckets == 0:
        # empty grouped probe: one catch-all bucket keeps every
        # downstream literal array non-empty and well-typed
        groups, n_buckets, bucket_sql = [(None, 0, 1)], 1, "0"

    reps = _partition_reps(spark, n)
    reps_sql = ", ".join(f"{r}L" for r in reps[:n_buckets]) or "0L"
    placed = (
        df.selectExpr("*", f"CAST(({bucket_sql}) AS INT) AS __pid")
        .withColumn(
            "__pk", F.expr(f"element_at(array({reps_sql}), __pid + 1)")
        )
        .repartition(n, F.col("__pk"))
        .localCheckpoint(eager=False)  # materialized by the offsets job
    )
    return placed, _sort_cols(order), groups, n_buckets


def _bucket_offsets(
    placed: DataFrame, n_buckets: int, agg: Column, combine
) -> list:
    """Exact per-bucket aggregate of ``placed`` (one tiny shuffled job
    that also materializes the persisted layout — the checksum-
    materializer device), prefix-combined driver-side into the
    |buckets|-length offsets list the final projection embeds as
    literals (no broadcast join, no partition-less window). A NULL or
    out-of-range bucket id means the caller's input violated the
    determinism/non-null contract — loud failure, never silent
    mis-ranks."""
    rows = placed.groupBy("__pid").agg(agg.alias("__a")).collect()
    per = [None] * n_buckets
    for r in rows:
        b = r["__pid"]
        if b is None or not (0 <= b < n_buckets):
            raise RuntimeError(
                f"range layout saw bucket {b!r} outside [0, {n_buckets})"
                " — non-deterministic input or NULL group value"
            )
        per[b] = r["__a"]
    return combine(per)


def ranked_by_range(
    df: DataFrame,
    order_cols: list,
    *,
    rank_col: str = "rank",
    num_partitions: int | None = None,
    group_col: str | None = None,
    layout: dict | None = None,
) -> DataFrame:
    """Global dense row-number over a total order WITHOUT a single-task
    sort — the 100 TB replacement for ``row_number().over(Window.
    orderBy(...))`` (whose empty/low-cardinality partitionBy funnels
    the whole population through one task).

    Decomposition (r12, sampler-free): place rows into total-order
    buckets by LITERAL percentile bounds from one column-pruned probe
    (:func:`_place_by_bounds` — replaces ``repartitionByRange``'s
    sampler pass, which re-executed the whole upstream plan reading
    every column), sort within each partition, assign per-partition
    row numbers ENTIRELY JVM-side — the low 33 bits of
    ``monotonically_increasing_id()`` are exactly the within-partition
    row index in sorted flow order — and add each bucket's exact
    prefix-sum offset as a LITERAL array lookup (the |buckets|-row
    counts collect replaces the old counts-window + broadcast join;
    it doubles as the persisted layout's materializer). Ranks are
    identical to the window form whenever ``order_cols`` is a total
    order (callers must include a unique tie-break column). The old
    localCheckpoint is gone: placement is a pure function of the row,
    so the offsets job and the final projection cannot disagree even
    across partition recomputes.

    ``group_col`` (the leading asc order column, when it is a small
    tag/axis domain) makes the probe per-group — the stacked-spine
    consumers' shape. ``layout``, if a dict is passed, receives
    ``{"total": N, "groups": {gval: (rank_base, count)}}`` — EXACT
    counts from the offsets pass, letting consumers fold |spine|
    scalars into literals instead of crossJoin-broadcasting a 1-row
    aggregate.

    An earlier formulation numbered rows in an Arrow ``mapInPandas``
    pass; at 60M rows the Arrow round-trip of the full table made the
    operator superlinear (68 s at sf10 vs 3 s at sf1) — the codegen
    projection restores linear scaling."""
    cols = list(df.columns)
    placed, sort_cols, groups, n_buckets = _place_by_bounds(
        df, order_cols, group_col=group_col, num_partitions=num_partitions
    )

    def prefix_sum(per):
        out, acc = [], 0
        for v in per:
            out.append(acc)
            acc += int(v or 0)
        out.append(acc)  # grand total rides the same list
        return out

    offs = _bucket_offsets(
        placed, n_buckets, F.count(F.lit(1)), prefix_sum
    )
    if layout is not None:
        layout["total"] = offs[-1]
        layout["groups"] = {
            gval: (offs[b0], offs[b0 + k] - offs[b0])
            for gval, b0, k in groups
        }
    off_sql = ", ".join(f"{o}L" for o in offs[:-1])
    return placed.sortWithinPartitions(*sort_cols).select(
        *cols,
        F.expr(
            f"element_at(array({off_sql}), __pid + 1) + "
            f"(monotonically_increasing_id() & {(1 << 33) - 1}) + 1"
        ).alias(rank_col),
    )


def running_sum_by_range(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    *,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running sum over a total order WITHOUT a single-task sort —
    the 100 TB replacement for ``sum(x).over(Window.orderBy(...))``, the
    same trade :func:`ranked_by_range` makes for row numbers.

    Decomposition: range-partition on the order columns (linear shuffle,
    contiguous key ranges per partition, balanced by the range sampler),
    compute the WITHIN-partition running sum with a window partitioned on
    ``spark_partition_id()`` (one more linear, balanced hash shuffle —
    unlike row numbering there is no codegen-only trick for a running
    value sum, and an Arrow ``mapInPandas`` pass over the full table is
    the known-superlinear alternative per ranked_by_range's history),
    then add each partition's prefix-sum offset — a |partitions|-row
    aggregate — via a broadcast join. Results equal the global-window
    form whenever ``order_cols`` is a total order (callers must include
    a unique tie-break column).

    ``order_cols`` may contain strings or Column sort expressions (e.g.
    ``F.desc("cents")``); they are passed verbatim to both the range
    partitioner and the within-partition window so the two orders can
    never disagree. The input is localCheckpoint'd after the range
    shuffle so the offsets aggregate and the final join share one
    computation (and the range sampler's nondeterminism cannot split
    them).

    r12 note (guide §1.3 — measured, kept current): the sampler-free
    literal-bounds layout that ranked_by_range adopted was A/B'd here
    too (tools/ab_rangehelpers.py) and LOST at bench scale on both
    running consumers (q_part_abc_xyz 2.04→2.46 s median, q_skyline_2d
    0.65→0.84 s; q_pareto_abc tied) — these spines are small enough
    that the percentile probe job costs more than the sampler pass and
    second skinny exchange it removes, and unlike the rank consumers
    there is no crossJoin/bounds-join for the layout to pay for
    itself with. Re-try if a fact-scale running-sum consumer appears."""
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    part = (
        df.repartitionByRange(int(n), *order_cols)
        .select("*", F.spark_partition_id().alias("__pid"))
        .localCheckpoint(eager=False)
    )

    cols = list(df.columns)
    w_local = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = part.select(
        "*", F.sum(value_col).over(w_local).alias("__run_local")
    )

    totals = part.groupBy("__pid").agg(F.sum(value_col).alias("__t"))
    w = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        "__pid", (F.sum("__t").over(w) - F.col("__t")).alias("__offset")
    )

    return local.join(F.broadcast(offsets), "__pid").select(
        *cols,
        (F.col("__offset") + F.col("__run_local")).alias(out_col),
    )


def running_max_by_range(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    *,
    out_col: str = "running_max",
    strict: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running MAX over a total order without a single-task sort —
    the max twin of :func:`running_sum_by_range`, plus a ``strict``
    mode (max over rows strictly BEFORE the current one; NULL when no
    predecessor exists) which is the primitive behind staircase/
    frontier operators (2-D skyline: a point survives iff its y beats
    the strict-prefix max along x).

    Same decomposition: range-partition on the order columns, local
    window partitioned on ``spark_partition_id()``, then fold in each
    partition's predecessor-partitions max — a |partitions|-row
    aggregate joined back by broadcast. In strict mode the local frame
    ends at ``-1`` and the offset is the max over strictly earlier
    partitions, so the global result is exactly the single-window
    form. ``order_cols`` must be a total order for the strict variant
    to be well-defined (same rule as ranked_by_range). (r12: the
    sampler-free layout lost its A/B here — see the
    running_sum_by_range note.)"""
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    part = (
        df.repartitionByRange(int(n), *order_cols)
        .select("*", F.spark_partition_id().alias("__pid"))
        .localCheckpoint(eager=False)
    )

    cols = list(df.columns)
    hi = Window.currentRow - 1 if strict else Window.currentRow
    w_local = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, hi
    )
    local = part.select(
        "*", F.max(value_col).over(w_local).alias("__run_local")
    )

    totals = part.groupBy("__pid").agg(F.max(value_col).alias("__t"))
    w = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = totals.select(
        "__pid", F.max("__t").over(w).alias("__offset")
    )

    run = F.when(
        F.col("__run_local").isNull(), F.col("__offset")
    ).otherwise(
        F.when(
            F.col("__offset").isNull(), F.col("__run_local")
        ).otherwise(F.greatest("__run_local", "__offset"))
    )
    return local.join(F.broadcast(offsets), "__pid").select(
        *cols, run.alias(out_col)
    )


def ntile_from_rank(rank: Column, n_total: Column, k: int) -> Column:
    """SQL ``ntile(k)`` reconstructed from a global 1-based rank and the
    total row count — pure integer arithmetic, so it composes with
    :func:`ranked_by_range` to give distributed ntiles with no global
    window. Standard ntile semantics: with ``n = q·k + r`` rows, the
    first ``r`` buckets get ``q+1`` rows, the rest ``q`` (identical in
    Spark and DuckDB). All terms are integer, so no boundary can flap."""
    dec = "decimal(38,0)"  # exact integer division (long `/` is double)
    q = F.floor(n_total.cast(dec) / k).cast("long")
    r = n_total % k
    head = r * (q + 1)
    in_head = rank <= head
    bucket_head = F.ceil(rank.cast(dec) / (q + 1)).cast("long")
    bucket_tail = r + F.ceil(
        (rank - head).cast(dec) / F.greatest(q, F.lit(1))
    ).cast("long")
    return F.when(in_head, bucket_head).otherwise(bucket_tail).cast("int")


def fixpoint(
    init: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
) -> tuple[DataFrame, int]:
    """Iterate ``state = step(state, r)`` for ``r = 1, 2, ...`` until a
    round leaves the state unchanged; return ``(state, rounds)``.

    The one materialization and convergence policy of the converging
    kernels (star-CC, k-core, layered BFS/closeness, dedup label
    propagation). ``init`` and every round's result are lazily
    ``localCheckpoint``-ed: the cut bounds Catalyst's re-analysis to one
    round of plan and schedules no job of its own. The round's state
    is materialized by its convergence checksum — ONE global aggregate,
    row count plus a decimal(38,0) sum of ``xxhash64`` over all columns
    (a long sum of 64-bit hashes overflows), observed on a no-op write
    of the state. The write computes every partition into the
    checkpoint and the observed metrics fold the checksum into that
    same result stage, so a round costs one job beyond its step's own
    shuffles (a plain ``agg`` adds a shuffle-map job under AQE), and a
    result stage counts each partition once, retries included. The
    checksum must cover every partition: a partition-skipping probe
    (``isEmpty``/``take``) would leave the checkpoint to a second job. A
    checksum collision (~2⁻⁶⁴) could only stop the loop one round early.

    ``init`` is never checksummed, so the loop stops at the first round
    whose checksum repeats its predecessor's. ``rounds`` counts the
    rounds before that one — the rounds that changed the state (round 1
    is counted even if ``init`` was already a fixpoint). Up to
    ``max_rounds + 1`` steps run; if ``max_rounds`` rounds all change
    the state, it raises ``RuntimeError``: a kernel never returns a
    partial result."""
    state = init.localCheckpoint(eager=False)
    prev = None
    for r in range(1, max_rounds + 2):
        state = step(state, r).localCheckpoint(eager=False)
        obs = Observation()
        state.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*state.columns).cast("decimal(38,0)")).alias("h"),
        ).write.format("noop").mode("overwrite").save()
        m = obs.get
        sig = (m["n"], m["h"])
        if sig == prev:
            return state, r - 1
        prev = sig
    raise RuntimeError(f"no fixpoint within max_rounds={max_rounds}")


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> tuple[DataFrame, int]:
    """Connected components by the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", 2014) — the scale fallback to plain min-label propagation
    (q_dedup_cluster): propagation needs diameter-many rounds, this
    needs O(log n) with high probability, so a single snake-shaped
    component cannot stall the job. Use it when component diameters
    are unknown (web graphs, transitive similarity chains); the
    near-dup cliques of the dedup pipeline are diameter-2 and fine
    either way.

    Each round is two half-steps over the edge list, kept under the
    invariant ``first > second``:

    - **large-star**: per node u over its FULL neighborhood,
      m = min(neighbors ∪ u); every neighbor v > u re-attaches to m.
      (Strictly-larger test keeps the invariant and the edge count
      bounded.)
    - **small-star**: per larger endpoint a over its smaller
      neighbors, m = min; a and every other smaller neighbor attach
      to m.

    Both are one partial+final min-aggregate plus one co-partitioned
    join on the grouping key — the same per-round plan shape as label
    propagation, just O(log n) rounds instead of O(diameter). The
    rounds run on :func:`fixpoint` (convergence = edge-set fixpoint).

    Returns ``(labels, rounds)``: labels is ``(node, label)`` with
    label = the component's minimum node id (roots label themselves);
    ``rounds`` is :func:`fixpoint`'s count of edge-set-changing rounds.
    """
    init = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def star_round(e: DataFrame, _r: int) -> DataFrame:
        # large-star over the symmetric neighborhood
        sym = e.select("a", "b").union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).toDF("u", "v")
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star over the larger endpoint
        bmin = e.groupBy("a").agg(F.min("b").alias("m"))
        joined = e.join(bmin, "a")
        return (
            joined.select(F.col("a"), F.col("m").alias("b"))
            .union(
                joined.filter(F.col("b") != F.col("m")).select(
                    F.col("b").alias("a"), F.col("m").alias("b")
                )
            )
            .distinct()
        )

    e, rounds = fixpoint(init, star_round, max_rounds)

    # fixpoint edges are stars onto component minima; roots label
    # themselves
    members = e.select(F.col("a").alias("node"), F.col("b").alias("label"))
    roots = (
        e.select(F.col("b").alias("node"))
        .distinct()
        .join(members.select("node"), "node", "left_anti")
        .withColumn("label", F.col("node"))
    )
    return members.union(roots), rounds


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    beta_permille: int = 850,
    n_iters: int = 15,
    assume_no_dangling: bool = False,
    edges_distinct: bool = False,
    stats: tuple[int, int] | None = None,
    deg_col: str | None = None,
) -> DataFrame:
    """Distributed PageRank by power iteration, in **fixed-point integer
    arithmetic** so the result is bit-identical under retries, partition
    counts and aggregation order (the same determinism device as
    ``kmeans_fit``'s integer-grid partials: long sums are associative,
    float sums are not).

    Ranks live on a 1e-12 grid (``ONE = 10**12``). Per round:

    - every node sends ``rank // outdeg`` to each out-neighbor (exact
      integer division — the flooring loss stays with the sender and
      vanishes from the distributed mass, shrinking the total by at
      most |edges|/ONE per round: deterministic, not drift);
    - dangling mass (rank parked on nodes with no out-edges) is
      re-spread uniformly, the standard correction;
    - ``new = teleport + beta · (received + dangling/N)`` with
      ``beta = beta_permille/1000`` applied as integer multiply//1000.

    Plan shape per round: one co-partitioned join of the (checkpointed,
    degree-annotated) edge list with the rank vector on ``src``, one
    partial+final long-sum aggregate on ``dst``, one left join back
    onto the node set — no driver-side data beyond the 1-row dangling
    total (same per-round footprint as ``connected_components_star``'s
    checksum). ``localCheckpoint`` cuts lineage each round. At 100 TB
    the edge list is the only big table and it shuffles once up front
    onto ``src``; every round reuses that partitioning.

    Returns ``(node, rank)`` with rank as double (rank_fp / ONE);
    ranks sum to 1 − O((|edges| + N)·n_iters / 1e12).
    """
    ONE = 10**12
    # every internal checkpoint below is LAZY (eager=False): it still
    # cuts the logical plan (bounding Catalyst's per-round re-analysis)
    # and caches on first materialization, but schedules NO job of its
    # own — at toy graph sizes the eager variant's one-job-per-
    # checkpoint driver latency was most of the runtime (5.65× the
    # sf1 oracle, VERDICT r3 #4); the counts below force what must be
    # forced anyway.
    from streamclient_spark.cacheutil import managed_persist

    if deg_col is not None:
        # the caller hands a PREPARED edge table — (src, dst, deg)
        # complete, distinct, and already partitioned (ideally cached)
        # on src. The kernel then builds nothing: no dedup, no degree
        # aggregate, no re-partition — repeat builds against a
        # keyed-persisted index do only the power iteration.
        e = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(deg_col).alias("deg"),
        )
    else:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if not edges_distinct:
            # callers that already guarantee a distinct edge list (e.g.
            # a symmetrized u<v pair table) skip this shuffle entirely
            e = e.distinct()
        # persist, don't checkpoint: persist() registers the cache
        # without PLANNING the subtree (even a lazy localCheckpoint
        # calls toRdd, which plans synchronously on the driver — at toy
        # graph sizes those plannings, not the jobs, were the runtime)
        e = managed_persist(e)
    # ONE stats job for |E| and |N| (the former sizes the iteration
    # width, the latter the teleport constant) instead of two counts;
    # callers that already know both (e.g. from a memoized index build)
    # pass stats=(m, n) and skip the job entirely.
    if stats is not None:
        m, n = stats
    else:
        row = (
            e.select(F.explode(F.array("src", "dst")).alias("node"))
            .agg(
                F.count(F.lit(1)).alias("two_m"),
                F.count_distinct("node").alias("n"),
            )
            .first()
        )
        m, n = int(row["two_m"]) // 2, int(row["n"])
    if n == 0:
        return e.select(F.col("src").alias("node")).withColumn(
            "rank", F.lit(0.0)
        )
    # size the iteration width to the graph, not to the session default:
    # every round below is a join+agg over |E| rows, and running a 70k-edge
    # graph through 32-partition shuffles is pure task-scheduling overhead
    # (measured 17 s → 4.3 s for 5 rounds at sf1 by pinning width 8). The
    # ~250k-edges-per-partition rule keeps partitions comfortably in
    # memory at any scale; the defaultParallelism cap stops a huge graph
    # from exceeding the cluster.
    dp = edges.sparkSession.sparkContext.defaultParallelism
    width = int(max(8, min(dp, m // 250_000)))
    if assume_no_dangling:
        # outdeg ≥ 1 everywhere → every node appears as a src; the
        # node set is one column scan + distinct, no union
        nodes = (
            e.select(F.col("src").alias("node"))
            .repartition(width, "node")
            .distinct()
        )
    else:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .repartition(width, "node")
            .distinct()
        )
        # referenced every round (dangling collect + left join) — cache
        # it; the no-dangling path reads it once (initial ranks) and a
        # cache would only add memory pressure
        nodes = managed_persist(nodes)
    if deg_col is not None:
        ed = e  # prepared: degree present, caller-partitioned on src
        outdeg = e.select("src", "deg").groupBy("src").agg(
            F.first("deg").alias("deg")
        )
    else:
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        ed = managed_persist(
            e.join(outdeg, "src").repartition(width, "src")
        )
    # a symmetric (or otherwise in/out-covered) graph has no dangling
    # nodes AND every node receives mass, so callers that guarantee
    # outdeg ≥ 1 and indeg ≥ 1 everywhere (q_graph_pagerank symmetrizes
    # its edges) pass assume_no_dangling=True and skip the anti-join,
    # the per-iteration dangling-mass collect, AND the per-round left
    # join back onto the node set — at toy scale those driver round
    # trips and extra exchanges dominated the runtime, at 100 TB they
    # are one avoidable job plus one avoidable shuffle per iteration.
    if assume_no_dangling:
        has_dangling = False
        dangling = None
    else:
        dangling = nodes.join(
            outdeg.select(F.col("src").alias("node")), "node", "left_anti"
        ).localCheckpoint(eager=False)
        has_dangling = not dangling.isEmpty()

    teleport = ((ONE // n) * (1000 - beta_permille)) // 1000
    ranks = nodes.withColumn("r", F.lit(ONE // n))

    for it in range(n_iters):
        if has_dangling:
            dang_row = (
                dangling.join(ranks, "node")
                .agg(F.sum("r").alias("s"))
                .first()
            )
            dang_share = int(dang_row["s"] or 0) // n
        else:
            dang_share = 0
        received = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", F.expr("r div deg").alias("c"))
            .repartition(width, "dst")
            .groupBy("dst")
            .agg(F.sum("c").alias("in_fp"))
        )
        if assume_no_dangling:
            # indeg ≥ 1 everywhere → `received` already covers every
            # node; fold the update rule straight into the aggregate's
            # output projection (2 exchanges per round, no node join)
            ranks = received.select(
                F.col("dst").alias("node"),
                F.expr(
                    f"{teleport}L + (({beta_permille}L * in_fp) div 1000)"
                ).alias("r"),
            )
        else:
            ranks = (
                nodes.join(
                    received, nodes["node"] == received["dst"], "left"
                )
                .select(
                    "node",
                    (
                        F.coalesce(F.col("in_fp"), F.lit(0))
                        + F.lit(dang_share)
                    ).alias("recv"),
                )
                # `div` is exact long division — no float in the update
                .select(
                    "node",
                    F.expr(
                        f"{teleport}L + (({beta_permille}L * recv) div 1000)"
                    ).alias("r"),
                )
            )
        # cut lineage every 6th round — LAZILY, so no per-round job is
        # scheduled (the whole power iteration executes as ONE job graph
        # under the final action) while Catalyst never re-analyzes more
        # than ~6 rounds of joins. Even a lazy checkpoint plans its
        # subtree synchronously (toRdd), so the cadence trades planning
        # work now vs re-analysis later; ≤6-round kernels (the oracle-
        # attested 5-iteration query) run checkpoint-free and are
        # planned exactly once, at the caller's action. When the
        # dangling collect runs next round it materializes the cut
        # anyway, eagerness included.
        if has_dangling or (it % 6 == 5 and it != n_iters - 1):
            ranks = ranks.localCheckpoint(eager=False)

    return ranks.select("node", (F.col("r") / F.lit(float(ONE))).alias("rank"))


def morton_interleave(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) code: interleave the low ``bits`` bits of two
    non-negative int columns — bit j of ``a`` lands at position 2j, of
    ``b`` at 2j+1. A pure codegen expression tree (2·bits shift/mask
    terms), no UDF. Sorting by the result clusters rows that are close
    in BOTH dimensions, which is what makes multi-column min/max
    pruning work (see :func:`write_zordered`)."""
    code = F.lit(0).cast("long")
    for j in range(bits):
        abit = F.shiftright(a.cast("long"), j).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), j).bitwiseAND(F.lit(1))
        code = (
            code
            + (abit * F.lit(1 << (2 * j)))
            + (bbit * F.lit(1 << (2 * j + 1)))
        )
    return code


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet laid out by Z-order over (col_a, col_b):
    range-partition on the Morton code, sort within partitions, drop
    the helper column. Every output file then covers a small rectangle
    of the (a, b) space, so parquet min/max footer stats prune files
    for predicates on EITHER column — the data-layout lever a
    single-column sort only gives to its leading column. This is the
    poor man's OPTIMIZE ZORDER BY of lakehouse engines, built from
    stock Spark primitives; at 100 TB the same two lines run per
    partition of a date-partitioned table. Determinism note: the range
    partitioner samples, so FILE BOUNDARIES may vary run to run — the
    layout property (small per-file rectangles) holds regardless; the
    data itself is byte-identical rows."""
    # Min-max scale BOTH columns to the same 0..2^bits-1 grid first:
    # raw interleave of mismatched bit widths degenerates to a sort on
    # the wider column (its top varying bit outranks every bit of the
    # narrower one) and the narrow dimension never tightens. The scan
    # for the 4 extremes is one tiny aggregate.
    ext = df.agg(
        F.min(col_a).alias("al"), F.max(col_a).alias("ah"),
        F.min(col_b).alias("bl"), F.max(col_b).alias("bh"),
    ).first()
    if ext["al"] is None or ext["bl"] is None:
        # empty input (or all-null layout columns): there is nothing to
        # lay out — write the frame as-is instead of crashing on
        # float(None) in the grid arithmetic
        df.write.mode("overwrite").parquet(path)
        return
    grid = (1 << bits) - 1

    def scaled(c: str, lo: float, hi: float) -> Column:
        span = max(float(hi) - float(lo), 1.0)
        return F.floor(
            (F.col(c).cast("double") - float(lo)) * grid / span
        ).cast("long")

    z = morton_interleave(
        scaled(col_a, ext["al"], ext["ah"]),
        scaled(col_b, ext["bl"], ext["bh"]),
        bits=bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_files: int,
    sort_within: list[str] | None = None,
) -> int:
    """Compact a small-file parquet directory to ``target_files`` files
    with an atomic directory swap — the maintenance pass every
    streaming sink needs (each microbatch appends files; a day of
    1-minute batches is 1440 tiny files whose open/footer overhead
    dominates scans long before data volume does).

    Reads the directory, coalesces (``coalesce`` — a narrow
    repartitioning, no shuffle) to the target count, optionally sorts
    within partitions to restore run-length/footer-stat quality, writes
    to a sibling temp dir, then swaps via two renames. Crash posture:
    a reader between the two renames sees ENOENT (the window is two
    metadata ops, but it exists — a transactional table format closes
    it; this is the parquet-swap trade-off), and a crash inside the
    window leaves the valid old dir under ``<path>.old``, which the
    NEXT call recovers automatically before compacting. No state is
    ever half-visible. Returns the new file count."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    path = path.rstrip("/")
    tmp = path + ".compact_tmp"
    old = path + ".old"
    if not _os.path.exists(path) and _os.path.exists(old):
        # crashed mid-swap last time: the .old dir is the valid data
        _os.rename(old, path)
    df = spark.read.parquet(path)
    w = df.coalesce(target_files)
    if sort_within:
        w = w.sortWithinPartitions(*sort_within)
    w.write.mode("overwrite").parquet(tmp)
    if _os.path.exists(old):
        _shutil.rmtree(old)
    _os.rename(path, old)
    _os.rename(tmp, path)
    _shutil.rmtree(old)
    return len(_glob.glob(f"{path}/part-*.parquet"))


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> tuple[DataFrame, int]:
    """k-core decomposition by iterative peeling: drop every node with
    degree < k, recompute degrees, repeat to fixpoint — the standard
    dense-subgraph extractor (spam/community cores; the graph analog of
    the dedup pipeline's support floors). Input edges are symmetrized
    internally; returns ``(nodes, rounds)`` where nodes is ``(node,
    core_deg)`` — the members of the k-core with their within-core
    degree.

    Per round: one partial+final count aggregate (degrees) and two
    semi-joins of the edge list against the surviving-node set — the
    same per-round plan shape as the star-CC half-steps — run on
    :func:`fixpoint`. Peeling converges in O(rounds-to-stable) —
    typically a handful on real graphs because most sub-core nodes
    fall in the first rounds. A partially-peeled graph is NOT a k-core,
    so an exhausted ``max_rounds`` raises (fixpoint's contract)."""
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionAll(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )

    def peel(e: DataFrame, _r: int) -> DataFrame:
        keep = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("u").alias("node"))
        )
        return e.join(
            keep.withColumnRenamed("node", "u"), "u", "left_semi"
        ).join(keep.withColumnRenamed("node", "v"), "v", "left_semi")

    e, rounds = fixpoint(sym.distinct(), peel, max_rounds)

    nodes = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )
    return nodes, rounds
