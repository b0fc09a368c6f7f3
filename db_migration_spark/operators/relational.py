"""Core relational operators (SURVEY.md §2.2-§2.7).

The flagship is the QA count-reconciliation report — the reference's own
definition of success (``/root/reference/src/azanium/runcommand.py:188-203``,
``pseudoace.py:113-124``): per-class entity counts from the migrated store
full-outer-joined against expected counts from an independently produced
catalog, diffed, and sorted descending (``util.py:81-86``).

Scale notes (100 TB): the count side is a map-side-combinable hash aggregate
over the fact stream; the catalog side is tiny (thousands of classes), so the
join is an explicit ``broadcast()`` — no shuffle of the aggregated side
beyond the agg itself, and the agg output is already small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F


def qa_count_report(
    actual: DataFrame,
    expected: DataFrame,
    class_col: str = "class_name",
    actual_count_col: str = "actual_count",
    expected_count_col: str = "expected_count",
) -> DataFrame:
    """QA reconciliation (SURVEY §2 J1+A1+X6).

    ``actual``: (class_name, actual_count) — typically the output of
    :func:`per_class_counts`.  ``expected``: (class_name, expected_count) —
    the id-catalog side (``runcommand.py:38-60``).  Returns one row per class
    with both counts (null-filled to 0, matching the reference's treatment of
    missing classes as count mismatches), the diff, and a match flag; sorted
    by descending actual count then class name — the reference sorts its
    report rows descending by the first count column (``util.py:86``).
    The sort is local to one partition: the report is O(#classes) rows,
    so a total order needs no range exchange (and no sampling job), and
    a single-file sink keeps it as is.

    Join strategy note: Spark cannot broadcast either side of a FULL OUTER
    join, so this is a sort-merge join — of two O(#classes) *aggregates*
    (thousands of rows at most), so the exchange is trivial at any input
    scale.  The joins that must stay broadcast are the dim joins inside the
    count computation (see the x6 declared query: nation is broadcast into
    the fact-stream scan).
    """
    joined = actual.join(expected, on=class_col, how="full_outer")
    return (
        joined.select(
            F.col(class_col),
            F.coalesce(F.col(actual_count_col), F.lit(0)).cast("long").alias(actual_count_col),
            F.coalesce(F.col(expected_count_col), F.lit(0)).cast("long").alias(expected_count_col),
        )
        .withColumn("diff", F.col(actual_count_col) - F.col(expected_count_col))
        .withColumn("matches", F.col("diff") == 0)
        .coalesce(1)
        .sortWithinPartitions(F.desc(actual_count_col), F.col(class_col))
    )


QA_REPORT_COLUMNS = ("class_name", "actual_count", "expected_count", "diff", "matches")
_QaRow = Row(*QA_REPORT_COLUMNS)


def qa_report_rows(actual: list, expected: list) -> list[Row]:
    """:func:`qa_count_report` on the driver, for inputs that are already
    O(#classes) rows — ``actual`` (class_name, actual_count) as
    :func:`per_class_counts` collects, ``expected`` (class_name,
    expected_count) as the id catalog reads — with the same rules and
    the same row order: a missing side counts 0, ``diff`` is actual
    minus expected, ``matches`` is ``diff == 0``, and the rows run by
    descending actual count, then class name (the reference builds its
    report the same way in plain Python, ``util.py:81-86``).  Like the
    full outer join, a catalog class listed twice yields two rows."""
    counts = {cls: n for cls, n in actual}
    listed = set()
    rows = []
    for cls, want in expected:
        listed.add(cls)
        rows.append((cls, counts.get(cls, 0), 0 if want is None else want))
    rows += [(cls, n, 0) for cls, n in counts.items() if cls not in listed]
    # Spark's ascending order puts a NULL class first
    rows.sort(key=lambda r: (-r[1], r[0] is not None, r[0] or ""))
    return [_QaRow(cls, got, want, got - want, got == want) for cls, got, want in rows]


def per_class_counts(
    df: DataFrame, class_col: str, entity_col: str | None = None
) -> DataFrame:
    """A1: per-class entity count (``pseudoace.py:113-124``).

    With ``entity_col`` the count is distinct entities (Datomic counts
    entities, not datoms); without it, plain row counts.  Both are
    partial-aggregated map-side by Catalyst before the shuffle.
    """
    grouped = df.groupBy(F.col(class_col).alias("class_name"))
    if entity_col is None:
        return grouped.agg(F.count(F.lit(1)).alias("actual_count"))
    return grouped.agg(F.countDistinct(entity_col).alias("actual_count"))


def dedup_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """A3/U2: distinct rows (``util.py:84-85`` set-construction dedup)."""
    return df.dropDuplicates(subset) if subset else df.distinct()


def top_k(df: DataFrame, order_cols: list, k: int) -> DataFrame:
    """T2+T3: deterministic top-k.  Callers must include a unique tiebreak
    column in ``order_cols`` — a LIMIT over a non-total order is
    nondeterministic on any parallel engine."""
    return df.orderBy(*order_cols).limit(k)


def last_write_wins(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
) -> DataFrame:
    """W1: latest-fact-per-key — the Spark expression of Datomic's
    transactional conflict resolution when patches are applied over the base
    import (``pseudoace.py:105-110``, ``runcommand.py:214-218``).

    ``version_cols`` order newest-first determination (e.g. ``[desc(tx),
    desc(src_seq)]``); the reference pins ties by file order, so callers pass
    a deterministic tiebreak as the last version col.

    One shuffle on ``key_cols``; at 100 TB the window is preferable to a
    groupBy+max+self-join because it is a single exchange + in-partition sort
    instead of two joins.
    """
    w = Window.partitionBy(*key_cols).orderBy(*version_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def rank_within(
    df: DataFrame, partition_cols: list[str], order_cols: list, rank_col: str = "rank"
) -> DataFrame:
    """W2: ranking window (step-numbering analog, ``runcommand.py:395``)."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the right row with the greatest
    ``right_ts <= left_ts`` within the ``on`` group (left outer semantics —
    unmatched left rows keep nulls).

    Spark lacks a native as-of join; the scalable expression is the
    union-and-carry-forward trick: tag both sides, union (no shuffle),
    ONE exchange on ``on`` + in-partition sort by (ts, side), then
    ``last(value, ignorenulls=True)`` carries the most recent right row
    forward onto each left row.  This is O(n log n) per key group with a
    single shuffle — never the O(n·m) theta-join a naive
    ``l.ts >= r.ts`` range join would plan, which is the difference between
    minutes and days at 100 TB.

    Callers must ensure the right side has one row per (on, right_ts)
    (pre-dedupe with :func:`last_write_wins`) for deterministic output.
    """
    left_only = [c for c in left.columns if c not in on]
    left_types = dict(left.dtypes)
    rv_struct = F.struct(*[F.col(c) for c in right_cols])

    r2 = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        rv_struct.alias("__rv"),
        *[F.lit(None).cast(left_types[c]).alias(c) for c in left_only],
    )
    l2 = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r2.schema["__rv"].dataType).alias("__rv"),
        *left_only,
    )
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l2.unionByName(r2).withColumn(
        "__matched", F.last("__rv", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("__side") == 1).select(
        *on,
        *left_only,
        *[F.col("__matched")[c].alias(c) for c in right_cols],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "nearest",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """As-of join with the full pandas-merge_asof surface: ``direction``
    backward / forward / nearest, optional ``tolerance_seconds`` window,
    left-outer semantics (unmatched left rows keep NULL matches).

    Same single-shuffle union-and-carry design as :func:`asof_join` —
    both carries run over the SAME hash partitioning (one Exchange; the
    forward pass is just a second in-partition sort), so the plan cost
    is one shuffle regardless of direction:

    * backward: sort (ts, side=right-first), running ``last(ignorenulls)``
      → most recent right row with ``right_ts <= left_ts``;
    * forward: sort (ts, side=left-first), frame CURRENT→FOLLOWING,
      ``first(ignorenulls)`` → earliest right row with
      ``right_ts >= left_ts`` (equal ts matches both directions);
    * nearest: both carries, pick the smaller |Δt| (tie → backward, the
      pandas rule).

    The carried struct includes the matched ``right_ts`` so tolerance
    filtering and Δt are exact integer µs arithmetic.  Callers pre-dedup
    the right side to one row per (on, right_ts) for determinism, as
    with :func:`asof_join`."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    left_only = [c for c in left.columns if c not in on]
    left_types = dict(left.dtypes)
    rv_struct = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c) for c in right_cols],
    )
    r2 = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        rv_struct.alias("__rv"),
        *[F.lit(None).cast(left_types[c]).alias(c) for c in left_only],
    )
    l2 = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r2.schema["__rv"].dataType).alias("__rv"),
        *left_only,
    )
    wb = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__side").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    u = l2.unionByName(r2)
    if direction in ("backward", "nearest"):
        u = u.withColumn("__b", F.last("__rv", ignorenulls=True).over(wb))
    if direction in ("forward", "nearest"):
        u = u.withColumn("__f", F.first("__rv", ignorenulls=True).over(wf))

    lts = F.unix_micros(F.col("__ts"))
    tol = (
        F.lit(tolerance_seconds * 1_000_000)
        if tolerance_seconds is not None
        else None
    )

    def _valid(m):
        ok = m.isNotNull()
        if tol is not None:
            ok = ok & (F.abs(lts - F.unix_micros(m["__rts"])) <= tol)
        return ok

    if direction == "backward":
        matched = F.when(_valid(F.col("__b")), F.col("__b"))
    elif direction == "forward":
        matched = F.when(_valid(F.col("__f")), F.col("__f"))
    else:
        b_ok = _valid(F.col("__b"))
        f_ok = _valid(F.col("__f"))
        db = lts - F.unix_micros(F.col("__b")["__rts"])
        df = F.unix_micros(F.col("__f")["__rts"]) - lts
        matched = (
            F.when(b_ok & (~f_ok | (db <= df)), F.col("__b"))
            .when(f_ok, F.col("__f"))
        )
    return (
        u.filter(F.col("__side") == 1)
        .withColumn("__m", matched)
        .select(
            *on,
            *left_only,  # includes the left ts column under its own name
            F.col("__m")["__rts"].alias("matched_ts"),
            *[F.col("__m")[c].alias(c) for c in right_cols],
        )
    )


def range_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Interval-containment join at scale: each fact row matched to every
    interval with ``start <= ts < end``.

    Spark compiles a raw range predicate to a nested-loop/cartesian join —
    O(|facts|·|intervals|) and a driver OOM the moment the interval side
    stops fitting a broadcast.  The scalable expression is the standard
    bucketed range join (what Databricks' range-join hints and KDB's
    window joins do under the hood):

    1. explode each interval into the time buckets it spans
       (``sequence(floor(start/b), floor(end/b))`` — O(span/bucket) rows);
    2. equi-join facts on their single bucket key (hash join, AQE-sized);
    3. refine with the exact predicate (drops the bucket-edge false hits).

    Bucket granularity trades interval-side blowup against candidate
    false-positive rate: pick ~the median interval length.  Returns the
    inner join; every column of both inputs survives.
    """
    b = F.lit(bucket_seconds).cast("long")
    f = facts.withColumn(
        "__bucket", (F.unix_timestamp(F.col(ts_col)) / b).cast("long")
    )
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(start_col)) / b).cast("long"),
                (F.unix_timestamp(F.col(end_col)) / b).cast("long"),
            )
        ),
    )
    return (
        f.join(iv, "__bucket")
        .filter(
            (F.col(ts_col) >= F.col(start_col))
            & (F.col(ts_col) < F.col(end_col))
        )
        .drop("__bucket")
    )


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """U1: union of two relations, deduplicated (``runcommand.py:263-271``)."""
    return a.unionByName(b).distinct()


def anti_diff(
    a: DataFrame, b: DataFrame, on: list[str], null_safe: bool = False
) -> DataFrame:
    """U-ext: rows of ``a`` with no partner in ``b`` — the QA diff's
    anti-join expression (classes whose counts disagree / are missing).

    ``null_safe=True`` matches on ``<=>`` so NULL keys pair up — the SQL
    EXCEPT convention (NULLs equal); the default equality form keeps a
    NULL-keyed row unconditionally (no partner can match it)."""
    if not null_safe:
        return a.join(b, on=on, how="left_anti")
    bb = b.select(*[F.col(c).alias(f"__r_{c}") for c in on])
    cond = None
    for c in on:
        e = a[c].eqNullSafe(bb[f"__r_{c}"])
        cond = e if cond is None else (cond & e)
    return a.join(bb, cond, "left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: explode the small/right side ``salt`` ways
    and scatter the left side's hot keys across the replicas.

    AQE's skew-join split handles most cases at runtime
    (``spark.sql.adaptive.skewJoin`` is on in session.py); this explicit
    form is for the pathological ones AQE can't fix — a single key too hot
    for any split, e.g. the empty-string class or a null-ish id at 100 TB.

    left grows a deterministic salt from xxhash64 of the whole row's key +
    a per-row discriminator; right is replicated salt× (only viable when
    right is the smaller side — exactly the skew scenario).
    """
    l_salted = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col(on), F.monotonically_increasing_id()), F.lit(salt)),
    )
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    return l_salted.join(r_salted, [on, "__salt"], how).drop("__salt")


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Data-profiling pass: one output row per column with row count, null
    count, distinct count, and min/max (stringified for heterogeneity) —
    the table-stats sweep a pipeline runs before trusting a new input drop.

    Single aggregation job over the table (all per-column aggregates
    fused into one map-side-combinable pass), then a LAZY unpivot of the
    one-row result (explode over per-column structs) — no per-column
    scans and, unlike the original collect()-based unpivot, no eager
    driver job at query-CONSTRUCTION time (declared queries must stay
    lazy — VERDICT r1 contract)."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            F.countDistinct(F.col(c)).alias(f"__distinct_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__rows").cast("bigint").alias("n_rows"),
            F.col(f"__nulls_{c}").cast("bigint").alias("n_nulls"),
            F.col(f"__distinct_{c}").cast("bigint").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return one.select(
        F.explode(F.array(*structs)).alias("p")
    ).select("p.*")


def zorder_key(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative integer columns —
    the data-layout key for multi-dimensional scan locality: writing a
    100 TB table range-partitioned and sorted by ``zorder_key(day_number,
    part_bucket)`` keeps rows close in BOTH dimensions within each
    parquet row group, so min/max footer stats prune scans filtered on
    either column (the effect DBs market as Z-ORDER clustering; here it
    is a pure Catalyst expression usable in ``repartitionByRange`` /
    ``sortWithinPartitions``).

    Pure integer arithmetic (shifts, masks, adds) — identical in any
    engine, so the declared query is under the exact oracle gate.  Inputs
    are clamped to ``bits`` low bits first (callers bucket/offset real
    values into that range)."""

    def _c(x):
        return F.col(x) if isinstance(x, str) else x

    mask = F.lit((1 << bits) - 1).cast("long")
    one = F.lit(1).cast("long")
    av = _c(a).cast("long").bitwiseAND(mask)
    bv = _c(b).cast("long").bitwiseAND(mask)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(av, i).bitwiseAND(one), 2 * i)
            + F.shiftleft(F.shiftrightunsigned(bv, i).bitwiseAND(one), 2 * i + 1)
        )
    return z


def exact_rank_boundaries(
    df: DataFrame,
    sort_col: str,
    id_col: str,
    ranks: list[int],
    bucket_bits: int = 20,
) -> DataFrame:
    """The (sort_val, id_val) tuples sitting at the given GLOBAL ranks
    under the total order (sort_col ASC, id_col ASC) — computed WITHOUT
    an un-partitioned per-row window (the plan pattern that dies at
    10⁹ keys: one task sorts the world).

    Two-level prefix sum:

    1. rows collapse to per-BUCKET counts (bucket = sort_val >> bits —
       order-preserving, so bucket order extends sort order); the
       cumulative window runs over the collapsed bucket domain, whose
       size is bounded by the VALUE RANGE / 2^bits, not the row count;
    2. each target rank locates its bucket with a broadcast range
       probe (cum_below < rank ≤ cum_below + count), and per-row
       ranking happens ONLY inside located buckets — a
       bucket-PARTITIONED window over bounded partitions.

    ``sort_col`` must be integral (callers negate for descending
    order, scale decimals to integer units).  Ranks are 1-based.
    Returns (rank, sort_val, id_val) — one row per requested rank.
    This is the fact-scale twin of ``ntile``/running-total reporting
    plans (rfm_segments / orders_abc_pareto keep the window form for
    dim-sized inputs)."""
    spark = df.sparkSession
    b = df.select(
        F.col(sort_col).cast("long").alias("sv"),
        F.col(id_col).alias("idv"),
        F.shiftright(F.col(sort_col).cast("long"), bucket_bits).alias(
            "bkt"
        ),
    )
    per = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per.withColumn(
        "cum_below", F.coalesce(F.sum("c").over(w), F.lit(0))
    )
    rdf = spark.createDataFrame([(int(r),) for r in ranks], "rank long")
    loc = (
        cum.join(
            F.broadcast(rdf),
            (F.col("rank") > F.col("cum_below"))
            & (F.col("rank") <= F.col("cum_below") + F.col("c")),
        )
        .select(
            "rank",
            "bkt",
            (F.col("rank") - F.col("cum_below")).alias("r_in"),
        )
        .localCheckpoint(eager=False)
    )
    cand = b.join(
        F.broadcast(loc.select("bkt").distinct()), "bkt"
    )
    w2 = Window.partitionBy("bkt").orderBy("sv", "idv")
    ranked = cand.withColumn("rn", F.row_number().over(w2))
    lo = loc.alias("lo")
    return (
        ranked.alias("rk")
        .join(
            F.broadcast(lo),
            (F.col("rk.bkt") == F.col("lo.bkt"))
            & (F.col("rk.rn") == F.col("lo.r_in")),
        )
        .select("lo.rank", "rk.sv", "rk.idv")
    )


def ntile_cut_ranks(n: int, k: int) -> list[int]:
    """The cumulative tile boundary ranks b_1..b_{k-1} matching SQL
    ``ntile(k)`` over n rows (first n %% k tiles get the extra row):
    a row of global rank rn belongs to tile 1 + |{i : rn > b_i}|."""
    big, m = n // k + 1, n % k
    sizes = [big if i < m else n // k for i in range(k)]
    out, acc = [], 0
    for s in sizes[:-1]:
        acc += s
        out.append(acc)
    return out
