"""EAV / migration-signature transforms (SURVEY.md §2.9).

The reference's intermediate IR is an append-only datom stream
``[entity attribute value tx]`` produced from ACeDB object dumps and imported
into Datomic in timestamp order (``/root/reference/src/azanium/pseudoace.py:69-102``,
``runcommand.py:180-211``).  Here the datom stream is a plain DataFrame
(:data:`DATOM_DDL`) and the store is
partitioned Parquet — Datomic's transactional ordering becomes range
partitioning by ``tx`` with intra-partition sort (never a 1-task global sort).

This module also owns the store's schema: the datom columns
(:data:`DATOM_DDL`), the typed value columns the models schema adds
(:func:`typed_columns`) and the facts read off the installed models
schema rows (:func:`value_types`, :func:`card_many_attrs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the datom stream's columns
DATOM_DDL = "e BIGINT, a STRING, v STRING, tx TIMESTAMP, op BOOLEAN"


def melt(
    df: DataFrame,
    entity_expr,
    value_cols: list[str],
    tx_col: str,
    class_name: str | None = None,
) -> DataFrame:
    """Wide row → datoms (the engine-side analog of X1 ``acedump-to-edn-logs``,
    ``pseudoace.py:69-76``).

    Uses the built-in ``stack`` expression — one narrow projection per value
    column, fully codegen'd, no Python boundary, no shuffle: each input
    partition melts independently, which is exactly the reference's
    per-dump-file parallelism (``xargs -P`` over files).

    ``entity_expr``: Column producing the entity id.  ``value_cols`` become
    the attribute names; values are cast to string (typed casts are re-applied
    downstream from the models schema, X3).
    """
    n = len(value_cols)
    pairs = ", ".join(f"'{c}', cast({c} as string)" for c in value_cols)
    out = df.select(
        entity_expr.cast("long").alias("e"),
        F.col(tx_col).cast("timestamp").alias("tx"),
        F.expr(f"stack({n}, {pairs}) as (a, v)"),
    ).select("e", "a", "v", "tx", F.lit(True).alias("op"))
    if class_name is not None:
        out = out.withColumn("class", F.lit(class_name))
    return out


def pivot_wide(
    datoms: DataFrame, attributes: list[str], entity_col: str = "e"
) -> DataFrame:
    """X7: EAV → wide rows for a known attribute list.

    ``groupBy(e).pivot(a, attributes)`` with the attribute list supplied
    explicitly — omitting it would force an extra distinct-scan of ``a``
    over the full stream just to discover pivot values.  ``first(v)`` matches
    cardinality-one attributes; card-many classes should use
    :func:`pivot_multi` (collects arrays) instead.

    One shuffle on ``e``; for wide classes (1000s of attrs) prefer
    :func:`to_attr_map` — a map column instead of 1000s of sparse columns.
    """
    return (
        datoms.groupBy(F.col(entity_col).alias("e"))
        .pivot("a", attributes)
        .agg(F.first("v"))
    )


def pivot_wide_exact(
    datoms: DataFrame, attributes: list[str], entity_col: str = "e"
) -> DataFrame:
    """X7 variant that *drops* entities whose datom count differs from
    ``len(attributes)`` — i.e. keys that appeared more than once upstream
    (pivoting a duplicated card-one attribute is undefined).

    Plan advantage over filter-then-pivot: the uniqueness check rides the
    pivot's own hash aggregate (count per entity), so there is exactly ONE
    shuffle — no separate count-window exchange beforehand.
    """
    aggs = [
        F.first(F.when(F.col("a") == attr, F.col("v")), ignorenulls=True).alias(attr)
        for attr in attributes
    ]
    return (
        datoms.groupBy(F.col(entity_col).alias("e"))
        .agg(F.count(F.lit(1)).alias("__n"), *aggs)
        .filter(F.col("__n") == len(attributes))
        .drop("__n")
    )


def pivot_multi(datoms: DataFrame, attributes: list[str]) -> DataFrame:
    """X7 for cardinality-many attributes: values collected as sorted arrays
    (sorted for determinism — collect order is partition-dependent)."""
    return (
        datoms.groupBy("e")
        .pivot("a", attributes)
        .agg(F.sort_array(F.collect_list("v")))
    )


def to_attr_map(datoms: DataFrame) -> DataFrame:
    """X7 escape hatch for very wide/sparse classes: one ``map<a,v>`` column
    per entity instead of thousands of mostly-null columns (SURVEY §7 hard
    part (c))."""
    return datoms.groupBy("e").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("a", "v")))
        ).alias("attrs")
    )


def to_attr_multimap(datoms: DataFrame) -> DataFrame:
    """X7 wide-class fallback used by ``materialize_wide`` above its
    attribute-count threshold: one ``map<a, array<v>>`` column per entity.

    Uniform for cardinality-one AND cardinality-many attributes — values
    per attribute are collected as a sorted array (deterministic; collect
    order is partition-dependent), so a card-many attribute can never
    trip the duplicate-map-key error ``to_attr_map`` enforces by design.

    Plan: first aggregate on (e, a) gets map-side partial combine of the
    value lists; the second on e assembles the map from one row per
    attribute.  Both shuffles carry (e[, a]) plus values once — at a
    thousand attributes this is the layout that stays scannable, vs a
    pivot whose column count explodes the schema."""
    per_attr = datoms.groupBy("e", "a").agg(
        F.sort_array(F.collect_list("v")).alias("vs")
    )
    return per_attr.groupBy("e").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("a", "vs")))
        ).alias("attrs")
    )


# the typed value columns typed_cast adds, in column order:
# models value_type → (column, SQL type)
_TYPED_COLUMNS = {
    "long": ("v_long", "long"),
    "double": ("v_double", "double"),
    "date": ("v_date", "date"),
    "timestamp": ("v_ts", "timestamp"),
}


def _attr(row) -> str:
    """The datom attribute name ``Class/attribute`` of a schema row."""
    return f"{row['class']}/{row['attribute']}"


def value_types(schema_rows: list) -> dict[str, str]:
    """Attribute → value_type of installed models schema rows (X2,
    ``MODELS_SCHEMA_DDL``) — the typing :func:`typed_cast` and
    :func:`datom_store_schema` take."""
    return {_attr(r): r["value_type"] for r in schema_rows}


def card_many_attrs(schema_rows: list) -> list[str]:
    """The cardinality-many attributes of installed models schema rows —
    the set :func:`apply_patches` resolves per value."""
    return [_attr(r) for r in schema_rows if r["cardinality"] == "many"]


def typed_columns(schema: dict[str, str]) -> list[tuple[str, str, list[str]]]:
    """(column, SQL type, attributes) of each typed value column that
    :func:`typed_cast` adds for ``schema`` (attribute → value_type): one
    per type class present, in ``_TYPED_COLUMNS`` order."""
    by_type: dict[str, list[str]] = {}
    for attr, vtype in schema.items():
        by_type.setdefault(vtype, []).append(attr)
    return [
        (col_name, sql_type, by_type[vtype])
        for vtype, (col_name, sql_type) in _TYPED_COLUMNS.items()
        if vtype in by_type
    ]


def datom_store_schema(schema: dict[str, str]) -> str:
    """DDL of the class-partitioned datom store a migration writes for
    the models ``schema`` (attribute → value_type), in the column order
    a partitioned read returns: the file columns (:data:`DATOM_DDL`,
    then ``comment``), the :func:`typed_columns`, then the partition
    column ``class``.  The store's columns are a pure function of the schema,
    so reading it with this DDL launches no footer-inference job, and a
    store with no part files (a release with zero objects) reads as
    zero rows instead of failing to infer."""
    typed = "".join(
        f", {col_name} {sql_type.upper()}"
        for col_name, sql_type, _attrs in typed_columns(schema)
    )
    return f"{DATOM_DDL}, comment STRING{typed}, class STRING"


def typed_cast(datoms: DataFrame, schema: dict[str, str]) -> DataFrame:
    """X3 (``prepare-import``, pseudoace.py:79-84): schema-driven typed
    normalization of the stringly datom stream.

    ``schema`` maps attribute → value_type, the engine-side form of the
    annotated models file (X2: :func:`value_types` of
    ``catalog_files.models_schema_rows``); the ``_TYPED_COLUMNS`` types
    get a typed column, every other type stays in ``v`` only.  The
    schema is metadata — O(#attributes) — so it compiles into a CASE
    expression rather than a join: zero shuffle, whole-stage codegen,
    and wrong-typed values become nulls exactly like Datomic's import
    would reject them.

    Output keeps ``v`` and adds one typed column per type class present
    (:func:`typed_columns`).
    """
    out = datoms
    for col_name, sql_type, attrs in typed_columns(schema):
        out = out.withColumn(
            col_name,
            # try_cast: malformed values null out instead of failing the
            # job under ANSI mode (Spark 4 default) — the import-reject
            # semantics we want for dirty dump data
            F.when(F.col("a").isin(attrs), F.col("v").try_cast(sql_type)),
        )
    return out


def apply_patches(
    base: DataFrame,
    patches: DataFrame,
    tiebreak_col: str | None = None,
    card_many_attrs: list[str] | None = None,
) -> DataFrame:
    """X4: late patches over the base import (``pseudoace.py:105-110``).

    Datomic's conflict resolution when the PATCHES directory is transacted
    after the bulk import is *cardinality-aware*:

    * **cardinality-one** attributes upsert — last-write-wins per ``(e, a)``
      by transaction time;
    * **cardinality-many** attributes (the ACeDB default — any non-UNIQUE
      model line) accumulate — a patch assert *adds* a value, and only an
      explicit retraction of the same ``(e, a, v)`` removes it.  Resolution
      is therefore per ``(e, a, v)``.

    ``card_many_attrs`` names the card-many attributes (from the installed
    models schema, X2).  ``None`` keeps the all-card-one behavior for
    streams known to be single-valued.  Ties broken deterministically:
    patches beat base (transacted later in the reference's step order,
    ``runcommand.py:319-327``), then by ``tiebreak_col`` if given.

    Retractions (``op = false``) surviving as the latest fact remove the
    datom, matching Datomic retract semantics.

    Plan shape: union (no shuffle) → single hash exchange on the window key
    → window.  The cardinality split costs nothing extra: one window whose
    partition key conditionally includes ``v``, still a single exchange.
    At 100 TB the union sides need no co-partitioning beforehand; AQE
    handles the skewed-attribute case.
    """
    base_tagged = base.withColumn("__src", F.lit(0))
    patch_tagged = patches.withColumn("__src", F.lit(1))
    unioned = base_tagged.unionByName(patch_tagged)
    order = [F.desc("tx"), F.desc("__src")]
    if tiebreak_col:
        order.append(F.desc(tiebreak_col))
    part: list = [F.col("e"), F.col("a")]
    if card_many_attrs:
        # card-many rows resolve per-value: their partition key gains v,
        # card-one rows keep a constant (null) third key — same window,
        # same single shuffle, no per-cardinality plan fork
        part.append(
            F.when(F.col("a").isin(card_many_attrs), F.col("v"))
        )
    w = Window.partitionBy(*part).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & F.col("op"))
        .drop("__rn", "__src")
    )


def upsert_patches(patches: DataFrame, partition_col: str | None = None):
    """X4's persistent form, the Delta ``MERGE INTO`` analog: a
    ``TxTable.merge(spark, transform)`` transform that resolves
    ``patches`` into the current table with :func:`apply_patches`
    (last-write-wins with retraction) as one copy-on-write commit.

    With ``partition_col``, only the base partitions the patches touch
    pay the LWW window; the rest carry over unresolved, so its cost
    scales with the patch's partition footprint, not the table.  The
    touched predicate is never NULL: ``isin`` and ``~isin`` are both
    NULL for a NULL partition value, which would drop such base rows
    from BOTH sides, so NULL partitions count as touched iff the
    patches themselves carry NULL partitions."""

    def transform(base: DataFrame) -> DataFrame:
        if not partition_col or partition_col not in base.columns:
            return apply_patches(base, patches)
        touched = [
            r[0] for r in patches.select(partition_col).distinct().collect()
        ]
        values = [t for t in touched if t is not None]
        is_touched = F.coalesce(
            F.col(partition_col).isin(values), F.lit(False)
        )
        if len(values) != len(touched):
            is_touched = is_touched | F.col(partition_col).isNull()
        return apply_patches(base.filter(is_touched), patches).unionByName(
            base.filter(~is_touched)
        )

    return transform


def tx_sorted(
    datoms: DataFrame, *cluster: str, partitions: int | None = None
) -> DataFrame:
    """T1: the load-bearing timestamp sort before import
    (``pseudoace.py:87-95``, ``runcommand.py:180-185``).

    ``repartitionByRange(*cluster, 'tx')`` + ``sortWithinPartitions``
    reproduces the reference's per-file-parallel external sort: globally
    range-ordered partitions, each internally sorted, written in
    parallel — no single-task bottleneck.  ``cluster`` columns lead the
    key (the release store clusters by ``class``, so each class's files
    cover disjoint tx ranges); ``partitions`` fixes the range count,
    else ``spark.sql.shuffle.partitions`` under AQE.
    """
    keys = (*cluster, "tx")
    return datoms.repartitionByRange(
        *([partitions] if partitions else []), *keys
    ).sortWithinPartitions(*keys)


def homology_split(datoms: DataFrame, homol_classes: list[str]) -> DataFrame:
    """X5/P6: the homology subset that feeds the second database
    ``<release>-homol`` (``pseudoace.py:127-144``, ``runcommand.py:439-461``).
    A partition-prunable isin filter when the store is partitioned by class.
    """
    return datoms.filter(F.col("class").isin(homol_classes))


def store_diff(
    before: DataFrame, after: DataFrame, keys: tuple[str, str, str] = ("e", "a", "v")
) -> DataFrame:
    """Datom-level diff of two store snapshots — the migration-audit step
    beneath the count-level QA report (reference verifies migrations only
    by per-class counts, runcommand.py:188-203; this pins WHICH datoms
    moved): full-outer join on (e, a, v), classify each row as
    ``retained`` / ``added`` / ``removed``, and report per-attribute
    counts.  One shuffle per side on the join key; at 100 TB both sides
    bucket by ``e`` so the join co-locates without re-shuffling the
    larger snapshot.

    The join keys are null-safe (``eqNullSafe``): a datom with a NULL
    component present in both snapshots is correctly ``retained`` rather
    than counted as both ``removed`` and ``added``.  (Null-safe equality
    still hash-partitions like plain equality — Spark plans it as a
    normal shuffled equi-join, not a nested loop.)"""
    e, a, v = keys
    lhs = before.select(
        F.col(e).alias("le"), F.col(a).alias("la"), F.col(v).alias("lv")
    ).withColumn("__l", F.lit(1))
    rhs = after.select(
        F.col(e).alias("re"), F.col(a).alias("ra"), F.col(v).alias("rv")
    ).withColumn("__r", F.lit(1))
    cond = (
        lhs["le"].eqNullSafe(rhs["re"])
        & lhs["la"].eqNullSafe(rhs["ra"])
        & lhs["lv"].eqNullSafe(rhs["rv"])
    )
    joined = lhs.join(rhs, cond, "full_outer")
    status = (
        F.when(F.col("__l").isNotNull() & F.col("__r").isNotNull(), "retained")
        .when(F.col("__r").isNotNull(), "added")
        .otherwise("removed")
    )
    return (
        joined.select(
            F.coalesce(F.col("la"), F.col("ra")).alias("a"),
            status.alias("status"),
        )
        .groupBy("a", "status")
        .agg(F.count(F.lit(1)).alias("n_datoms"))
    )


def as_of(datoms: DataFrame, t, tx_col: str = "tx") -> DataFrame:
    """Datomic ``as-of`` view: the datoms visible at transaction ``t``.

    A datom (e, a, v) is visible iff the LATEST fact about it at
    ``tx <= t`` is an assertion (``op = true``) — a later retraction
    hides it, and a retraction followed by a re-assert restores it.
    ``history`` needs no operator: the raw log IS the history view
    (Datomic's history database is exactly the unfiltered datom set).

    Plan shape: one tx-range filter (pushed to the scan — on a
    tx-range-partitioned store this prunes files) + one window over
    (e, a, v).  The window key includes ``v``, so cardinality-many
    attributes resolve per value exactly like ``apply_patches``; ``t``
    and ``tx`` must be totally ordered (Datomic tx ids are monotonic —
    ties would make "latest" ambiguous in any engine).
    """
    w = Window.partitionBy("e", "a", "v").orderBy(F.desc(tx_col))
    return (
        datoms.filter(F.col(tx_col) <= t)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & F.col("op"))
        .drop("__rn")
    )


def since(datoms: DataFrame, t, tx_col: str = "tx") -> DataFrame:
    """Datomic ``since`` view: the store as if only facts transacted
    AFTER ``t`` existed (``d/since`` — the complement of :func:`as_of`).

    Note the subtlety this inherits from Datomic: a datom asserted
    before the cut and untouched after it is NOT visible in a since
    view, because none of its facts fall inside the window.  Resolution
    is the same latest-fact-wins window as :func:`as_of`, just over the
    ``tx > t`` slice — and the slice filter pushes down to the scan, so
    a tx-range-partitioned store reads only the trailing partitions.
    """
    w = Window.partitionBy("e", "a", "v").orderBy(F.desc(tx_col))
    return (
        datoms.filter(F.col(tx_col) > t)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & F.col("op"))
        .drop("__rn")
    )


def resolve_tempids(
    db: DataFrame,
    patches: DataFrame,
    unique_attr: str,
    tempid_col: str = "tempid",
    partitions: int = 64,
) -> DataFrame:
    """Datomic ``:db.unique/identity`` upsert: resolve string tempids in a
    patch transaction to entity ids, matching on a unique identity
    attribute (``pseudoace.py:105-110`` transacts patches whose entities
    are named by ACeDB object id — exactly a unique-identity lookup).

    Each patch entity must carry a ``(tempid, unique_attr, value)`` datom.
    A tempid whose identity value already exists in ``db`` (latest
    visible assert wins) resolves to that existing ``e``; unmatched
    tempids mint fresh ids ``max(e)+1 …`` densely, ordered by identity
    value — via the two-level :func:`..corpus.dense_ids` prefix-sum, so
    minting is deterministic AND distributed (no 1-task global
    row_number).  Returns ``patches`` with ``e`` resolved to BIGINT.

    Plan shape: one aggregate over the patch identity datoms, one
    left join against the db identity index (hash or broadcast by
    stats), the dense-id construction for the misses, and a final join
    back onto the patch stream keyed by tempid.
    """
    from .corpus import dense_ids

    ident = (
        patches.filter(F.col("a") == unique_attr)
        .groupBy(F.col(tempid_col).alias("__tid"))
        .agg(F.max("v").alias("__ident"))
    )
    existing = (
        as_of(db.filter(F.col("a") == unique_attr), F.lit(2**62))
        .select(F.col("v").alias("__ident"), F.col("e").alias("__e"))
        .groupBy("__ident")
        .agg(F.min("__e").alias("__e"))
    )
    resolved = ident.join(existing, "__ident", "left")
    hits = resolved.filter(F.col("__e").isNotNull()).select("__tid", "__e")
    misses = resolved.filter(F.col("__e").isNull()).select("__tid", "__ident")
    base_id = db.agg(
        F.coalesce(F.max("e"), F.lit(0)).alias("__maxe")
    )
    minted = (
        dense_ids(misses, "__ident", id_name="__mint", partitions=partitions)
        .join(F.broadcast(base_id))
        .select(
            "__tid", (F.col("__maxe") + F.col("__mint")).alias("__e")
        )
    )
    mapping = hits.unionByName(minted)
    return (
        patches.join(
            mapping, patches[tempid_col] == mapping["__tid"], "left"
        )
        .withColumn("e", F.col("__e"))
        .drop("__tid", "__e", tempid_col)
    )


def retract_entity(
    datoms: DataFrame,
    roots: DataFrame,
    component_attrs: list[str],
    max_rounds: int = 8,
) -> DataFrame:
    """Datomic ``:db/retractEntity`` with ``:db/isComponent`` cascade:
    starting from ``roots`` (single column ``e``), follow component
    attribute references (``v`` holds the child entity id) and return
    the closed set of entity ids to retract — children, grandchildren, …

    ACeDB's model marks subtree-owned objects the same way (hash types
    owned by their parent object), which is why the reference's delete
    path drops whole object subtrees (``pseudoace.py`` object scope).

    The frontier expansion is a bounded driver loop (component trees are
    shallow — ACeDB hash nesting is ≤ a handful of levels), each round
    ONE hash join frontier⋈edges + anti-join against the seen set; the
    edge list (component datoms only) is computed once and persisted.
    Reference cycles converge harmlessly (the anti-join empties the
    frontier once every member is seen); what raises past ``max_rounds``
    is ownership DEPTH beyond the bound — raise the bound for unusually
    deep trees.  Lineage is cut per round with ``localCheckpoint`` so
    the plan stays flat.
    """
    edges = (
        as_of(
            datoms.filter(F.col("a").isin(component_attrs)), F.lit(2**62)
        )
        .select(
            F.col("e").alias("__parent"),
            F.col("v").cast("long").alias("__child"),
        )
        .filter(F.col("__child").isNotNull())
        .persist()
    )
    seen = roots.select(F.col("e").cast("long").alias("e")).distinct()
    seen = seen.localCheckpoint()
    frontier = seen
    for _ in range(max_rounds):
        children = (
            frontier.join(
                edges, frontier["e"] == edges["__parent"]
            )
            .select(F.col("__child").alias("e"))
            .distinct()
            .join(seen, "e", "left_anti")
            .localCheckpoint()
        )
        if children.rdd.isEmpty():
            edges.unpersist()
            return seen
        seen = seen.unionByName(children).localCheckpoint()
        frontier = children
    edges.unpersist()
    raise ValueError(
        f"component closure did not converge in {max_rounds} rounds — "
        "reference cycle in component attributes?"
    )


def apply_cas(
    base: DataFrame,
    cas: DataFrame,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Datomic ``:db.fn/cas`` (compare-and-swap) transaction semantics
    for cardinality-one attributes: each CAS row ``(e, a, expected, v,
    tx)`` asserts ``v`` ONLY IF the store's current visible value of
    ``(e, a)`` equals ``expected`` — the optimistic-concurrency guard a
    migration uses when late patches may race with curation edits
    (reference patch path: ``pseudoace.py:105-110``).

    A CAS against a missing datom matches ``expected IS NULL`` (Datomic:
    nil expected asserts only when the attribute is absent).  Rejected
    rows are dropped silently here — the declared query surfaces the
    applied/rejected split; Datomic instead aborts the tx, a policy the
    caller can layer on by counting rejections first.

    Plan shape: one LWW window over base (tx desc per (e, a)) for the
    current view, one equi-join cas⋈current on (e, a) with a null-safe
    value compare, then the standard :func:`apply_patches` union-window.
    All shuffles are keyed (e, a).
    """
    w = Window.partitionBy("e", "a").orderBy(F.desc("tx"))
    current = (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("e").alias("__ce"),
            F.col("a").alias("__ca"),
            # a latest-fact retraction means "absent" for CAS purposes
            F.when(F.col("op"), F.col("v")).alias("__cv"),
        )
    )
    matched = (
        cas.join(
            current,
            (cas["e"] == F.col("__ce")) & (cas["a"] == F.col("__ca")),
            "left",
        )
        .filter(F.col("expected").eqNullSafe(F.col("__cv")))
        .select("e", "a", "v", "tx", F.lit(True).alias("op"))
    )
    return apply_patches(base, matched, tiebreak_col=tiebreak_col)


def write_indexes(
    datoms: DataFrame,
    root: str,
    ref_attrs: list[str] | None = None,
    partitions: int = 8,
) -> None:
    """Datomic's covering indexes that have readers, as Parquet layouts
    — each access path is a pruned scan:

    * ``aevt/`` — hive-partitioned by ``a``: per-attribute column scans
      (the analytics path, ``q_datalog_indexed``) prune to one
      directory.
    * ``avet/`` — hive-partitioned by ``a``, sorted by ``v`` within
      files: value/range lookup on an attribute (:func:`avet_lookup`)
      = one directory + a pushed ``v`` predicate over sorted row groups
      (Datomic's AVET exists only for indexed attrs; here every attr
      gets one — storage is cheap relative to a 100 TB re-sort later).
    * ``vaet/`` — ref datoms only (``ref_attrs``), partitioned by ``a``
      with ``v`` cast to the entity id: reverse navigation ("who points
      at e?", :func:`vaet_reverse_lookup`) without scanning non-ref
      attributes.

    Datomic's EAVT (entity lookup) has no reader here, so it is not
    written.  All three are plain ``partitionBy`` writes — no global
    single-task sort; each index parallelizes by its own key.
    """
    datoms.repartition(partitions, "a").write.partitionBy("a").mode(
        "overwrite"
    ).parquet(f"{root}/aevt")
    datoms.repartition(partitions, "a").sortWithinPartitions(
        "v"
    ).write.partitionBy("a").mode("overwrite").parquet(f"{root}/avet")
    if ref_attrs:
        datoms.filter(F.col("a").isin(ref_attrs)).select(
            F.col("v").cast("long").alias("v_e"), "a", "e", "tx", "op"
        ).repartition(max(1, partitions // 2), "a").write.partitionBy(
            "a"
        ).mode("overwrite").parquet(f"{root}/vaet")


def avet_lookup(
    spark,
    root: str,
    attr: str,
    v_lo: str,
    v_hi: str,
) -> DataFrame:
    """Range lookup through the AVET layout: the ``a`` equality prunes
    to one hive partition directory (PartitionFilters — plan-guarded in
    tests) and the ``v`` range pushes into the sorted parquet row
    groups.  Returns the matching (e, v, tx, op) datoms."""
    return (
        spark.read.parquet(f"{root}/avet")
        .filter(
            (F.col("a") == attr)
            & (F.col("v") >= v_lo)
            & (F.col("v") <= v_hi)
        )
        .select("e", "v", "tx", "op")
    )


def vaet_reverse_lookup(spark, root: str, entities: DataFrame) -> DataFrame:
    """Reverse-ref navigation through VAET: all (parent e, ref attr)
    pairs pointing AT the given entities — the "who references me" scan
    that would otherwise read every datom of every ref attribute."""
    vaet = spark.read.parquet(f"{root}/vaet")
    return vaet.join(
        entities.select(F.col("e").alias("__target")),
        vaet["v_e"] == F.col("__target"),
    ).select(
        F.col("v_e").alias("target"), F.col("a").alias("ref_attr"),
        F.col("e").alias("referrer"),
    )


def excise(
    datoms: DataFrame,
    targets: DataFrame,
    audit_attr: str = ":db/excise",
) -> DataFrame:
    """Datomic excision (``:db/excise``): unlike retraction — which adds
    an op=false datom and PRESERVES history — excision physically removes
    every datom of the targeted entities from the store (the GDPR/legal
    erasure path), leaving only an audit datom recording that an excision
    happened (Datomic keeps the excision entity itself so reads can
    prove data was removed rather than lost).

    Plan shape: one broadcast anti-join (targets are few) drops the
    entity's whole history; the audit rows are derived from the same
    pass's per-entity aggregate (max tx at excision time).  No shuffle
    of the surviving datoms — the anti-join streams map-side under
    broadcast.
    """
    t = targets.select(F.col("e").alias("__te")).distinct()
    survivors = datoms.join(
        F.broadcast(t), datoms["e"] == F.col("__te"), "left_anti"
    )
    audits = (
        datoms.join(F.broadcast(t), datoms["e"] == F.col("__te"))
        .groupBy("e")
        .agg(F.max("tx").alias("tx"))
        .select(
            "e",
            F.lit(audit_attr).alias("a"),
            F.col("e").cast("string").alias("v"),
            "tx",
            F.lit(True).alias("op"),
        )
    )
    return survivors.unionByName(audits)


def resolve_lookup_refs(
    patches: DataFrame,
    identity_index: DataFrame,
    ref_col: str = "ref_val",
) -> DataFrame:
    """Datomic lookup refs: a patch may address its entity as
    ``[:unique-attr value]`` instead of a raw eid; transaction resolves
    the pair against the unique-identity (AVET) index before applying.
    Here the identity index is (v → e) for one unique attribute; the
    resolution is a broadcast join (identity dims are small next to the
    patch stream), unresolvable refs are dropped (Datomic would abort
    the tx — callers wanting abort semantics count the anti-join).
    Returns the patches with ``e`` bound.  Reference anchor: the
    unique-identity upsert path of SURVEY §2.9 X4 (pseudoace
    :db.unique/identity imports)."""
    idx = identity_index.select(
        F.col("v").alias(ref_col), F.col("e").alias("__resolved_e")
    )
    return (
        patches.join(F.broadcast(idx), ref_col)
        .withColumn("e", F.col("__resolved_e"))
        .drop("__resolved_e", ref_col)
    )
