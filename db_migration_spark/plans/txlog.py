"""Transaction-log table format — ACID commit protocol for Parquet stores.

The reference's store is Datomic: transactional appends with a total
commit order (``pseudoace.py:98-102``) and point-in-time reads
(backup/restore, ``datomic.py:12-23``).  This module is the repo's ONE
versioned store: dated snapshots are ``commit_overwrite`` versions read
back with ``read(version=)``, and copy-on-write upserts are ``merge``
with a transform (``operators/eav.upsert_patches``).  A plain manifest
file swapped with ``os.replace`` would be last-writer-wins — two writers
read manifest N and the second silently discards the first's version —
so every version here is claimed through a commit protocol instead.
Real deployments would use Delta/Iceberg (not installable in this
sandbox); this module implements the same protocol in miniature, from
public knowledge of how those formats commit:

* A table is a directory: ``data/`` holds immutable Parquet file groups
  (one uuid-named subdirectory per commit — files are never mutated or
  reused), ``_txlog/`` holds one JSON commit file per version named
  ``{version:020d}.json``.
* The STATE of the table at version V is the replay of commits 0..V:
  each commit lists ``add`` (file groups activated) and ``remove``
  (file groups logically deleted — bytes stay for time travel).
* A commit is published with ``os.link(tmp, _txlog/NNN.json)`` —
  hard-link is atomic create-IF-ABSENT on POSIX, so exactly one writer
  can own version N; a loser gets ``FileExistsError``, re-reads the log,
  and RETRIES on top of the new state (optimistic concurrency, same
  loop as Delta's commitLarge).  Appends always rebase cleanly;
  rewriting commits (overwrite/merge) re-run their transform against
  the advanced snapshot before retrying — serializable outcomes, no
  lost updates.
* Readers replay the log only (never list ``data/``), so uncommitted or
  aborted writers — which leave at most an orphan uuid directory and a
  tmp log entry — are invisible by construction.

At 100 TB the log is tiny (KBs per commit) and the data plane is
untouched Parquet: planning cost is one log replay + an explicit file
list handed to the scan, exactly the Delta/Iceberg read path.

One of each, like the reference's single transactor:

* ONE commit loop (``_commit``) under every writer — appends, DML,
  rewrites, OPTIMIZE, RESTORE, constraints and ALTERs.  A writer's
  attempt validates at a pinned read version and returns the commit's
  fields; the core probes the txn identity, publishes, and removes every
  group it staged unless the commit published it.
* ONE staging path (``_write_groups``) for multi-group writes
  (partitioned append, clustered OPTIMIZE): the frame is written once
  under a ``.part-`` dir, then each leaf is promoted to its own group.
* ONE log replay (``_state``): live groups, zone maps, deletion vectors,
  schema, constraints, txn map and retired physical names are one
  checkpoint-seeded fold over the commits, and a checkpoint is exactly
  that fold's state.

Round-4 extensions (same public-knowledge protocol surface):

* **Zone maps** — each commit records per-file-group column min/max
  harvested from the parquet FOOTERS of the files just written (no
  second data pass; the stats already exist).  ``read_pruned`` replays
  the log and drops whole groups whose [min,max] cannot intersect the
  predicate — Delta data skipping / Iceberg manifest pruning.  At
  100 TB this is the difference between planning 10⁶ files and
  scanning the 10³ that matter, before Spark even sees a path.
* **Idempotent (exactly-once) appends** — ``commit_append(df,
  txn=(app, batch))`` records the transaction identity in the commit;
  a replayed batch (foreachBatch retry, restarted stream) finds its
  (app, batch) already in the log and returns without writing — the
  Delta ``txn`` action that makes Structured Streaming sinks
  exactly-once on top of at-least-once delivery.
* **OPTIMIZE** — ``optimize(spark, sort_key=...)`` rewrites the active
  groups into one compacted, optionally Z-ORDER-sorted group and
  commits add+remove atomically; a logical no-op (readers see identical
  rows) that tightens zone maps and kills small files.
* **Checkpoints** — ``checkpoint()`` materializes the replayed state at
  a version into one ``*.checkpoint.json``; readers resume replay from
  the newest checkpoint ≤ their target instead of commit 0 (Delta's
  parquet checkpoint, O(1) planning on long logs).
* **VACUUM** — ``vacuum(retain_versions=N)`` physically deletes file
  groups referenced only by versions older than the retention horizon;
  time travel inside the horizon is untouched, older reads raise.
* **Deletion vectors** — ``delete_where(spark, predicate)`` deletes rows
  WITHOUT rewriting any data file: the matching (file, row-position)
  pairs are written as a small Parquet "deletion vector" group and the
  commit records it; readers apply the DV as a position anti-join
  against the scan's ``_metadata.file_path``/``_metadata.row_index``
  columns (Spark's native row-position metadata — no physical column is
  added to the data).  Delete cost is O(rows deleted), not O(table) —
  the Delta deletion-vector / Iceberg positional-delete design.  A DV
  dies with the groups it covers: any rewrite (overwrite / merge /
  optimize) reads THROUGH the DVs and removes every covered group, so
  the rewritten files carry no deleted rows and the replayed state
  drops the DV.
* **Merge-on-read UPDATE / MERGE INTO** — ``update_where(spark,
  predicate, assignments)`` and ``merge_into(spark, source, key_cols)``
  publish ONE atomic commit carrying both a deletion vector (masking
  the old row versions in place) and an appended delta group (the new
  row versions / inserts).  No existing data file is rewritten — cost
  is O(rows changed + |source|), the Iceberg merge-on-read v2 / Delta
  DV-update write path; a later OPTIMIZE majors the deltas back into
  clustered files and retires the DVs.
* **CHECK constraints** — ``add_constraint(name, expr)`` validates
  existing data then gates every write path (SQL NULL semantics);
  **TIMESTAMP AS OF** — ``version_at_timestamp``; **RESTORE** —
  ``restore(v)`` publishes a forward commit equal to the target state
  and retires post-target DVs.
* **Log-owned schema** — every data commit records its StructType;
  reads plan from the log (never a footer), time travel returns each
  version's own schema, and ``commit_append(evolve=True)`` is
  ADD-COLUMN evolution with NULL backfill.  Transaction identities on
  append/merge/merge_into give exactly-once sinks, CDC upserts, and
  atomic output+cursor refreshes; checkpoints seed schema, constraints,
  and the txn map so all log-derived lookups stay O(recent).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def publish_if_absent(log_dir: str, version: int, commit: dict) -> bool:
    """The ONE store primitive the whole commit protocol needs
    (table log and catalog tier alike): write a tmp file, hard-link it
    to the final version name — ``os.link`` fails with EEXIST iff
    another writer already owns the version.  Returns False on a lost
    race; the tmp file is always removed.  (On object stores this maps
    to put-if-absent, e.g. S3 conditional PUT; Delta uses the same
    seam.)"""
    os.makedirs(log_dir, exist_ok=True)
    final = os.path.join(log_dir, f"{version:020d}.json")
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(commit, fh, indent=1)
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


class CommitConflict(RuntimeError):
    """Another writer owned the version this transaction raced for."""


# parsed bloom sidecars, cached by absolute path — safe forever because
# file groups are immutable (a rewrite mints a new uuid directory)
_BLOOM_SIDECAR_CACHE: dict = {}


class ConstraintViolation(ValueError):
    """A write (or ADD CONSTRAINT) found rows failing a CHECK expression."""


def _stat_scalar(v):
    """JSON-able, ORDER-PRESERVING image of a parquet footer min/max.

    Numbers stay numbers; dates/timestamps/strings become ISO-ish strings
    whose lexicographic order matches the value order, so pruning can
    compare in one domain per column.  Unorderable exotics return None
    (→ the column is not prunable, never wrongly pruned)."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v
    return None


def _footer_stats(path: str) -> dict:
    """Per-column [min, max] across every parquet file under ``path``,
    read from the footers only (pure metadata — bytes already on disk).
    Columns with any stats-less or unorderable chunk are omitted."""
    import glob as _glob

    import pyarrow.parquet as _pq

    lo: dict = {}
    hi: dict = {}
    dead: set = set()
    n_rows = 0
    for f in _glob.glob(os.path.join(path, "*.parquet")):
        md = _pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if "." in name or name in dead:  # nested — not prunable
                    continue
                st = col.statistics
                mn = _stat_scalar(st.min) if st and st.has_min_max else None
                mx = _stat_scalar(st.max) if st and st.has_min_max else None
                if mn is None or mx is None:
                    dead.add(name)
                    lo.pop(name, None)
                    hi.pop(name, None)
                    continue
                lo[name] = mn if name not in lo else min(lo[name], mn)
                hi[name] = mx if name not in hi else max(hi[name], mx)
    out = {c: [lo[c], hi[c]] for c in lo}
    # reserved key: the group's exact row count (metadata-only COUNT)
    out["__rows"] = n_rows
    return out


class TxTable:
    """A transaction-log Parquet table rooted at ``root``."""

    def __init__(self, root: str):
        self.root = root
        self.log_dir = os.path.join(root, "_txlog")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- log plumbing -------------------------------------------------------

    def _versions(self) -> list[int]:
        return sorted(
            int(f[:-5])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json")
            and not f.startswith(".")
            and not f.endswith(".checkpoint.json")
        )

    def _checkpoint_versions(self) -> list[int]:
        return sorted(
            int(f[: -len(".checkpoint.json")])
            for f in os.listdir(self.log_dir)
            if f.endswith(".checkpoint.json") and not f.startswith(".")
        )

    def latest_version(self) -> int:
        """-1 for an empty table."""
        vs = self._versions()
        return vs[-1] if vs else -1

    def _read_commit(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:020d}.json")) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        return [self._read_commit(v) for v in self._versions()]

    def version_at_timestamp(self, ts) -> int:
        """TIMESTAMP AS OF: the latest version whose commit time is
        ≤ ``ts`` (a unix epoch float, or an ISO ``YYYY-MM-DDTHH:MM:SSZ``
        string).  Raises if the table has no commit that old — the same
        contract as Delta's timestamp time travel.  Commits carry a
        float ``committed_ts`` (sub-second); pre-existing logs fall back
        to parsing the second-granular ``committed_at`` string."""
        import calendar

        if isinstance(ts, str):
            ts = calendar.timegm(
                time.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
            )
        best = -1
        for v in self._versions():
            c = self._read_commit(v)
            cts = c.get("committed_ts")
            if cts is None:
                cts = calendar.timegm(
                    time.strptime(c["committed_at"], "%Y-%m-%dT%H:%M:%SZ")
                )
            if cts <= ts:
                best = v
        if best < 0:
            raise ValueError(
                f"no commit at or before {ts!r} in {self.root}"
            )
        return best

    # -- CHECK constraints --------------------------------------------------

    def constraints(self, upto: int | None = None) -> dict[str, str]:
        """Live CHECK constraints at ``upto`` (default latest):
        {name: sql_expr} — checkpoint-seeded, O(commits since
        checkpoint)."""
        return self._state(upto)["constraints"]

    def _check_constraints(self, df: DataFrame, cons: dict) -> None:
        """Raise :class:`ConstraintViolation` if any row of ``df``
        evaluates one of ``cons`` to FALSE (NULL passes — the SQL
        CHECK contract).  One combined filter+count job for all
        constraints."""
        from pyspark.sql import functions as F

        if not cons:
            return
        violating = None
        for expr in cons.values():
            miss = ~F.coalesce(F.expr(expr), F.lit(True))
            violating = miss if violating is None else (violating | miss)
        n = df.filter(violating).count()
        if n:
            raise ConstraintViolation(
                f"{n} rows violate CHECK constraints {sorted(cons)} "
                f"in {self.root}"
            )

    def add_constraint(
        self, spark: SparkSession, name: str, expr: str,
        max_retries: int = 5,
    ) -> int:
        """ADD CONSTRAINT name CHECK (expr): validates the EXISTING
        table contents first (a constraint the data already violates is
        rejected, as in Delta), then commits the constraint as a
        metadata-only log entry.  Every subsequent write — append,
        overwrite, merge, update, merge-into delta — is validated
        against the live constraint set before its commit publishes."""
        from pyspark.sql import functions as F

        def attempt(read_v, _staged):
            if read_v >= 0:
                n = self.read(spark, read_v).filter(
                    ~F.coalesce(F.expr(expr), F.lit(True))
                ).count()
                if n:
                    raise ConstraintViolation(
                        f"cannot add {name!r}: {n} existing rows violate "
                        f"({expr})"
                    )
            return {"constraint": {"name": name, "expr": expr}}

        return self._commit("set_constraint", attempt, max_retries)

    # -- ALTER TABLE column surface (metadata-only, column mapping) ----------

    def _alter_schema(self, spark: SparkSession, read_v: int, column: str):
        """The schema at ``read_v`` of an ALTER on ``column``: it must
        exist, and no live CHECK constraint may reference it."""
        import re as _re

        sch = self.read_schema(spark, read_v)
        if sch is None:
            raise ValueError(
                f"cannot alter column {column!r} of an empty table"
            )
        if column not in [f.name for f in sch.fields]:
            raise ValueError(f"no column named {column!r}")
        pat = _re.compile(rf"\b{_re.escape(column)}\b")
        cons = sorted(
            n for n, e in self.constraints(read_v).items() if pat.search(e)
        )
        if cons:
            raise ValueError(
                f"column {column!r} is referenced by constraints {cons}; "
                f"drop them first"
            )
        return sch

    def alter_rename_column(
        self, spark: SparkSession, old: str, new: str, max_retries: int = 20
    ) -> int:
        """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (Delta's
        column mapping): the logical name changes in the log schema
        while the field keeps its stable PHYSICAL on-file name — no
        data file is read or rewritten at any size.  Readers alias
        physical → logical inside ``_scan``; writers rename back before
        the parquet write; time travel to a pre-rename version returns
        the old name (each version's schema is its own).

        The schema derivation (including the constraint guard) runs at
        the commit core's pinned read version, so a commit landing
        before the publish is a conflict that re-derives it — never a
        stale schema republished at a later free slot."""
        from pyspark.sql.types import StructField, StructType

        def attempt(read_v, _staged):
            sch = self._alter_schema(spark, read_v, old)
            if new in [f.name for f in sch.fields]:
                raise ValueError(f"column {new!r} already exists")
            fields = []
            for f in sch.fields:
                if f.name == old:
                    md = dict(f.metadata or {})
                    md["physical"] = self._physical_name(f)
                    f = StructField(new, f.dataType, f.nullable, md)
                fields.append(f)
            return {"schema": json.loads(StructType(fields).json())}

        return self._commit("alter_rename", attempt, max_retries)

    def alter_drop_column(
        self, spark: SparkSession, column: str, max_retries: int = 20
    ) -> int:
        """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the field
        leaves the log schema, so every subsequent read projects it
        away at the scan (the bytes stay in place for time travel — a
        pre-drop version still serves the column).  Rejected while a
        CHECK constraint references it.  Like rename, the schema is
        derived at the commit core's pinned read version."""
        from pyspark.sql.types import StructType

        def attempt(read_v, _staged):
            sch = self._alter_schema(spark, read_v, column)
            if len(sch.fields) == 1:
                raise ValueError("cannot drop the only column")
            phys = self._physical_name(sch[column])
            return {
                "schema": json.loads(
                    StructType(
                        [f for f in sch.fields if f.name != column]
                    ).json()
                ),
                # the physical name is retired FOREVER: a later re-add
                # of the same logical name must map to a fresh physical
                # name or old file bytes resurrect
                "dropped": {"logical": column, "physical": phys},
            }

        return self._commit("alter_drop", attempt, max_retries)

    def drop_constraint(self, name: str, max_retries: int = 20) -> int:
        def attempt(read_v, _staged):
            if name not in self.constraints(read_v):
                raise ValueError(f"no constraint named {name!r}")
            return {"constraint": {"name": name}}

        return self._commit("drop_constraint", attempt, max_retries)

    def _state(self, upto: int | None = None) -> dict:
        """The ONE log replay: commits 0..``upto`` (default latest)
        folded into every log-derived lookup — ``active`` (live groups),
        ``stats`` (their zone maps), ``dvs`` (live deletion vectors),
        ``schema``, ``constraints``, ``txns`` ({app: {str(batch):
        version}}) and ``dropped`` (physical names ALTER DROP retired).
        ``checkpoint()`` writes exactly this dict.

        Starts from the newest checkpoint ≤ ``upto`` when it records
        every key, so lookups on a long-lived table are O(commits since
        checkpoint) — the Delta/Iceberg checkpoint read path; an older
        checkpoint lacking a key falls back to a full replay.  A
        deletion vector stays live while ANY group it covers is live; a
        rewrite commit that removes every covered group retires it (the
        rewrite read through the DV, so the new files already exclude
        the deleted rows)."""
        upto = self.latest_version() if upto is None else upto
        s: dict = {
            "active": [], "stats": {}, "dvs": [], "schema": None,
            "constraints": {}, "txns": {}, "dropped": [],
        }
        start = 0
        cps = [v for v in self._checkpoint_versions() if v <= upto]
        if cps:
            with open(
                os.path.join(self.log_dir, f"{cps[-1]:020d}.checkpoint.json")
            ) as fh:
                snap = json.load(fh)
            if set(s) <= set(snap):
                s = {k: snap[k] for k in s}
                start = cps[-1] + 1
        for v in self._versions():
            if v < start:
                continue
            if v > upto:
                break
            c = self._read_commit(v)
            removed = set(c.get("remove", []))
            s["active"] = [g for g in s["active"] if g not in removed]
            s["active"].extend(c.get("add", []))
            s["stats"].update(c.get("stats", {}))
            if c.get("dv"):
                s["dvs"].append(dict(c["dv"]))
            if c.get("drop_dvs"):  # RESTORE retires post-target DVs
                dead = set(c["drop_dvs"])
                s["dvs"] = [d for d in s["dvs"] if d["group"] not in dead]
            if c.get("re_add_dvs"):
                # RESTORE re-asserts the target's live DVs: a replay
                # seeded from a checkpoint taken AFTER the DVs retired
                # (delete → rewrite → checkpoint) no longer carries
                # them, and the restore re-activates their covered
                # groups — without this the deleted rows resurrect.
                # Replace-by-group so a full replay (which still has
                # them) doesn't double-count.
                back = {d["group"]: dict(d) for d in c["re_add_dvs"]}
                s["dvs"] = [d for d in s["dvs"] if d["group"] not in back]
                s["dvs"].extend(back.values())
            if "schema" in c:
                s["schema"] = c["schema"]
            con = c.get("constraint")
            if c.get("op") == "set_constraint":
                s["constraints"][con["name"]] = con["expr"]
            elif c.get("op") == "drop_constraint":
                s["constraints"].pop(con["name"], None)
            s["constraints"].update(c.get("constraints") or {})  # clone
            if c.get("txn"):
                t = c["txn"]
                s["txns"].setdefault(t["app"], {})[str(t["batch"])] = v
            if c.get("dropped"):
                s["dropped"].append(c["dropped"]["physical"])
        live = set(s["active"])
        s["dvs"] = [
            d for d in s["dvs"] if live.intersection(d.get("covers", []))
        ]
        s["stats"] = {g: s["stats"].get(g, {}) for g in s["active"]}
        return s

    def _replay(self, upto: int) -> tuple[list[str], dict, list[dict]]:
        """(live groups, {group: zone-map stats}, live deletion vectors)
        at ``upto`` — the file state of :meth:`_state`."""
        s = self._state(upto)
        return s["active"], s["stats"], s["dvs"]

    def active_groups(self, version: int | None = None) -> list[str]:
        """Replay the log to ``version`` → the live data file groups."""
        upto = self.latest_version() if version is None else version
        return self._replay(upto)[0]

    # -- shallow-clone path resolution ---------------------------------------

    def _base_dirs(self) -> list[str]:
        """Foreign data dirs a SHALLOW CLONE reads through: recorded in
        the clone's commit 0 (op='clone', 'bases' — transitive, so a
        clone of a clone resolves to the original bytes in one hop).
        Empty for ordinary tables, and cached once commit 0 exists —
        the non-clone fast path is one attribute read."""
        bases = getattr(self, "_bases_cache", None)
        if bases is None:
            bases = []
            vs = self._versions()
            if vs and vs[0] == 0:
                c0 = self._read_commit(0)
                if c0.get("op") == "clone":
                    bases = list(c0.get("bases", []))
            if vs:
                self._bases_cache = bases
        return bases

    def _gpath(self, group: str) -> str:
        """Physical directory of a file group (data or DV): the local
        ``data/`` dir, else the first clone base that has it.  Local
        always wins so a group the clone REWRITES (optimize, update
        delta) shadows nothing — rewrites commit under fresh uuid names.
        Resolutions are memoized per instance: planning a 100k-group
        cloned table costs each group one stat call ONCE, not per
        scan."""
        local = os.path.join(self.data_dir, group)
        bases = self._base_dirs()
        if not bases:
            return local
        # memo FIRST — including local resolutions — so a cloned
        # table's repeated plans really do pay one stat per group once,
        # not one os.path.exists per scan
        cache = self.__dict__.setdefault("_gpath_cache", {})
        hit = cache.get(group)
        if hit is not None:
            return hit
        if os.path.exists(local):
            cache[group] = local
            return local
        for b in bases:
            p = os.path.join(b, group)
            if os.path.exists(p):
                cache[group] = p
                return p
        # missing everywhere: name the clone bases that were tried so a
        # moved/renamed source root is diagnosable (the old fallback to
        # the local path produced a misleading 'path does not exist'
        # under the clone's own data dir)
        raise FileNotFoundError(
            f"file group {group!r} of table {self.root} resolves to "
            f"neither the local data dir ({self.data_dir}) nor any "
            f"recorded clone base ({bases}); if the clone source was "
            "moved or vacuumed past the cloned version, its bytes are "
            "gone from those paths"
        )

    def clone_shallow(
        self, dest_root: str, version: int | None = None
    ) -> "TxTable":
        """CREATE TABLE dest SHALLOW CLONE this [VERSION AS OF v] — a
        METADATA-ONLY copy (Delta shallow clone): the clone's commit 0
        re-asserts the source's live groups, zone-map stats, deletion
        vectors, log-owned schema, and CHECK constraints at ``version``,
        referencing the source's immutable data files through recorded
        base dirs — zero bytes copied at ANY table size.  From then on
        the two logs evolve independently: the clone's appends, DML
        deltas, and OPTIMIZE rewrites land in its OWN data dir (foreign
        references simply drop out of its active set), its VACUUM only
        ever lists its own dir so the source's bytes are untouchable,
        and the source never observes the clone.  DVs transfer by
        reference: positions are keyed on absolute file paths and the
        clone scans the same physical files, so the anti-join masks
        identically.  The source's bloom sidecars ride with their
        immutable groups, so the clone's point lookups reuse them.

        Caveat (same as Delta): the clone depends on the source's
        bytes — a source VACUUM past the cloned version breaks the
        clone's time travel to foreign groups."""
        upto = self.latest_version() if version is None else version
        if upto < 0:
            raise ValueError(f"cannot clone empty table {self.root}")
        st = self._state(upto)
        dest = TxTable(dest_root)
        if dest._versions():
            raise ValueError(f"clone target {dest_root} is not empty")
        commit = {
            "version": 0,
            "op": "clone",
            "add": st["active"],
            "remove": [],
            "committed_at": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
            "committed_ts": time.time(),
            "source": os.path.abspath(self.root),
            "source_version": upto,
            "bases": [os.path.abspath(self.data_dir), *self._base_dirs()],
            "stats": st["stats"],
        }
        if st["dvs"]:
            commit["re_add_dvs"] = st["dvs"]
        if st["schema"] is not None:
            commit["schema"] = st["schema"]
        if st["constraints"]:
            # carried IN commit 0 (not as follow-up commits): the clone
            # is fully formed or absent — a crash or a racing writer
            # between commits can never leave a clone that silently
            # dropped the source's CHECK constraints
            commit["constraints"] = st["constraints"]
        dest._publish(0, commit)
        return dest

    def _publish(self, version: int, commit: dict) -> None:
        """Atomically claim ``version`` or raise :class:`CommitConflict`."""
        if not publish_if_absent(self.log_dir, version, commit):
            raise CommitConflict(f"version {version} already committed")

    # -- writes -------------------------------------------------------------

    def _write_groups(
        self, df: DataFrame, staged: list, split=None
    ) -> dict:
        """Write ``df`` as new immutable uuid-named file groups; return
        {group: zone-map stats} harvested from the parquet footers just
        written (no second data pass — the row-group min/max already
        exist; this is how Delta/Iceberg collect file stats at write).
        Not yet visible — visibility comes from the log commit.

        ``split=None`` writes one group.  Otherwise — the ONE staging
        path — the frame is written ONCE under a ``.part-`` staging dir,
        ``partitionBy(*split)``, and every leaf partition dir (with
        ``split=[]``: every task's output file) is promoted to its own
        group by a rename.  Every group name lands in ``staged`` before
        its bytes do, so the commit core owning the list removes even a
        half-written group; the staging dir is always removed (an aged
        one a crashed PROCESS left behind is ``vacuum``'s)."""
        if "__rows" in df.columns:
            # '__rows' is the reserved stats key carrying the group's
            # exact row count (metadata-only COUNT); a physical column
            # with that name would silently lose its zone map
            raise ValueError(
                "column name '__rows' is reserved by the txlog stats "
                "format; rename the column before writing"
            )
        if split is None:
            group = f"g-{uuid.uuid4().hex}"
            staged.append(group)
            path = os.path.join(self.data_dir, group)
            df.write.mode("errorifexists").parquet(path)
            return {group: _footer_stats(path)}
        staging = os.path.join(self.data_dir, f".part-{uuid.uuid4().hex}")
        out: dict = {}
        try:
            df.write.partitionBy(*split).parquet(staging)
            for dirpath, _dirs, files in sorted(os.walk(staging)):
                parquets = sorted(f for f in files if f.endswith(".parquet"))
                units = [parquets] if split else [[f] for f in parquets]
                for unit in filter(None, units):
                    group = f"g-{uuid.uuid4().hex}"
                    staged.append(group)
                    gdir = os.path.join(self.data_dir, group)
                    os.makedirs(gdir)
                    for f in unit:
                        os.rename(
                            os.path.join(dirpath, f), os.path.join(gdir, f)
                        )
                    out[group] = _footer_stats(gdir)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return out

    def _drop_groups(self, groups) -> None:
        """Remove staged, never-published group directories."""
        for g in groups:
            shutil.rmtree(os.path.join(self.data_dir, g), ignore_errors=True)

    def _commit(
        self,
        op: str,
        attempt,
        max_retries: int,
        txn: tuple[str, int] | None = None,
        once=(),
    ) -> int:
        """The ONE optimistic-commit loop under every writer.  Each
        attempt pins ``read_v`` and targets ``read_v + 1``, so a commit
        landing in between is a CommitConflict and the attempt re-runs
        on the advanced snapshot.

        ``attempt(read_v, staged)`` validates AT ``read_v`` and returns
        the commit's fields under the log's own keys (``add``,
        ``remove``, ``stats``, ``dv``, ``schema``, ``constraint``,
        ``dropped``, ``drop_dvs``, ``re_add_dvs``; empty ones are left
        out), or None for a provable no-op, which returns ``read_v`` —
        unless ``txn`` is given: then a metadata-only commit records the
        identity so an incremental consumer's cursor advances past the
        empty batch.  The core adds ``version``, ``op``, ``txn`` and the
        timestamps and publishes.

        Groups an attempt writes go into ``staged`` and are removed
        unless its commit publishes them: on a lost race, an error, a
        no-op, a replay twin or exhausted retries.  ``once`` lists
        groups written ONCE for every attempt (the append's data, which
        a lost race never rewrites); they are removed when the call
        ends without publishing them.  The ``txn`` identity is probed
        at every pinned version, so a replayed batch returns its
        original version without running ``attempt``, and so does a
        retry whose lost race WAS its replay twin."""

        def replayed(upto):
            if txn is not None:
                txns = self._state(upto)["txns"].get(txn[0], {})
                return txns.get(str(int(txn[1])))

        staged: list[str] = []
        published: set[str] = set()
        try:
            for _ in range(max_retries):
                self._drop_groups(staged)  # the lost race's groups
                staged = []
                read_v = self.latest_version()
                seen = replayed(read_v)
                if seen is not None:
                    return seen
                fields = attempt(read_v, staged)
                if fields is None and txn is None:
                    return read_v
                commit = {
                    "version": read_v + 1,
                    "op": op,
                    "add": [],
                    "remove": [],
                    "committed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "committed_ts": time.time(),
                }
                commit.update((k, v) for k, v in (fields or {}).items() if v)
                if txn is not None:
                    commit["txn"] = {"app": txn[0], "batch": int(txn[1])}
                try:
                    self._publish(read_v + 1, commit)
                except CommitConflict:
                    continue
                published = set(commit["add"])
                if "dv" in commit:
                    published.add(commit["dv"]["group"])
                return read_v + 1
            seen = replayed(None)  # the last race lost to our replay twin
            if seen is not None:
                return seen
            raise CommitConflict(f"{op} lost {max_retries} races")
        finally:
            self._drop_groups(
                g for g in [*once, *staged] if g not in published
            )

    def _row_fields(
        self, staged: list, mask=None, delta=None, replaces=None
    ) -> dict | None:
        """Stage a row-level attempt's frames as commit fields: ``mask``
        (file_path, row_index) positions → a deletion-vector group,
        ``delta`` → a new data group.  An empty DV or delta is left out
        (the core removes its dir); None when both are — a provable
        no-op.  ``replaces`` (a rewrite: overwrite / merge) lists the
        live groups the delta replaces: they are removed, the delta is
        kept even when empty, and its schema is stamped."""
        out: dict = {}
        if mask is not None:
            group, n, covers = self._write_dv(mask, staged)
            if n:
                out["dv"] = {"group": group, "covers": covers, "n": n}
        if delta is not None:
            stats = self._write_groups(delta, staged)
            if replaces is not None or any(
                s["__rows"] for s in stats.values()
            ):
                out.update(add=list(stats), stats=stats)
        if replaces is not None:
            out.update(remove=replaces, schema=json.loads(delta.schema.json()))
        return out or None

    def _live_scan(self, spark: SparkSession, read_v: int, verb: str):
        """(scan, live) at ``read_v`` for a row-level verb: the scan under
        the LOG-OWNED schema (post-ADD-COLUMN, older footers lack the
        newest column) and its rows with live deletion vectors
        applied."""
        if read_v < 0:
            raise ValueError(f"cannot {verb} an empty table")
        active, _stats, dvs = self._replay(read_v)
        scan = self._scan(spark, active, read_v)
        return scan, self._apply_dvs(spark, scan, dvs)

    @staticmethod
    def _key_positions(live: DataFrame, src: DataFrame, keys) -> DataFrame:
        """(file_path, row_index) of the live rows whose key appears in
        ``src`` — tagged BEFORE the semi-join, because a USING-join
        output no longer resolves the _metadata pseudo-column."""
        from pyspark.sql import functions as F

        tagged = live.select(
            *keys,
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").cast("long").alias("row_index"),
        )
        return tagged.join(
            src.select(*keys).distinct(), on=keys, how="left_semi"
        ).select("file_path", "row_index")

    def txn_latest_batch(self, app: str) -> int | None:
        """The highest batch id an app identity has committed, or None —
        the refresh CURSOR of an incremental consumer whose txn batch
        ids encode 'source processed up to'."""
        m = self._state()["txns"].get(app)
        return max(int(b) for b in m) if m else None

    def txn_version(self, app: str, batch: int) -> int | None:
        """The version a transaction identity committed at, or None —
        the idempotence probe for exactly-once streaming sinks."""
        return self._state()["txns"].get(app, {}).get(str(int(batch)))

    def commit_append(
        self,
        df: DataFrame,
        max_retries: int = 20,
        txn: tuple[str, int] | None = None,
        evolve: bool = False,
    ) -> int:
        """Blind append: always rebases cleanly — on conflict just retry
        at the next version; the data group is written once.

        With ``txn=(app_id, batch_id)`` the append is IDEMPOTENT: if the
        log already contains that identity (a replayed micro-batch after
        a sink restart) nothing is written and the original version is
        returned — at-least-once delivery becomes exactly-once, the
        Delta ``txn`` action.

        ``evolve=True`` is ADD-COLUMN schema evolution (Delta
        mergeSchema): columns the table lacks are appended to the log
        schema by this commit; readers backfill NULL for files written
        before it.  Without it, an extra column raises."""
        return self._append(df, max_retries, txn, evolve=evolve)

    def _append(
        self,
        df: DataFrame,
        max_retries: int,
        txn: tuple[str, int] | None,
        evolve: bool = False,
        partition_cols=None,
    ) -> int:
        """The append attempt under both appends.  The frame is aligned
        to the log schema, validated and written ONCE, at the first
        attempt's read version (``evolve``: each new column gets a
        physical name no file carries).  Every attempt then validates
        at its own read version: the constraints again when the live
        set changed, and the commit schema is the UNION with the log's
        (a concurrent evolve=True append may have committed a column
        since; our file backfills NULL for it).  A column we carry that
        vanished (concurrent overwrite or ALTER DROP) or now maps to
        another physical name is a metadata conflict, Delta's rule:
        our already-written file cannot follow it."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        once: list[str] = []
        w: dict = {}  # the write-once state: sch, own, data, stats, cons
        split = (
            None
            if partition_cols is None
            else [f"__p_{c}" for c in partition_cols]
        )

        def attempt(read_v, _staged):
            sch_now = self.read_schema(df.sparkSession, read_v)
            cons = self.constraints(read_v)
            if not w:
                sch, own = sch_now, set()
                if sch is not None:
                    have = {f.name for f in sch.fields}
                    extra = [c for c in df.columns if c not in have]
                    if extra and evolve:
                        # a new logical name must not collide with ANY
                        # physical name in files — drop-retired ones
                        # (their bytes would resurrect) or the stable
                        # physical of a renamed-away field
                        taken = set(self._state(read_v)["dropped"]) | {
                            self._physical_name(f) for f in sch.fields
                        }
                        fresh = {
                            c: {"physical": f"{c}__{uuid.uuid4().hex[:8]}"}
                            for c in extra
                            if c in taken
                        }
                        sch = StructType(
                            list(sch.fields)
                            + [
                                StructField(
                                    c, df.schema[c].dataType, True,
                                    fresh.get(c, {}),
                                )
                                for c in extra
                            ]
                        )
                        own = set(extra)
                data = df if sch is None else self._align_to_schema(df, sch)
                self._check_constraints(data, cons)
                phys = data
                for c in partition_cols or ():
                    # a duplicated key to partitionBy on, so the files
                    # keep the full table schema
                    phys = phys.withColumn(f"__p_{c}", F.col(c))
                w.update(sch=sch, own=own, data=data, stats=self._write_groups(
                    self._to_physical(phys, schema=sch), once, split
                ))
            elif cons != w["cons"]:
                # a constraint committed since the last check is exactly
                # what a lost race can be: it gates THIS append too
                self._check_constraints(w["data"], cons)
            w["cons"] = cons
            sch, data = w["sch"], w["data"]
            if not w["stats"] and txn is None:
                return None  # an empty partitioned frame: nothing to add
            commit_schema = data.schema
            if sch_now is not None:
                lost = (
                    set(data.columns)
                    - {f.name for f in sch_now.fields}
                    - w["own"]
                )
                if lost and sch is not None:
                    raise CommitConflict(
                        f"concurrent schema change removed {sorted(lost)}"
                    )
                # extras prefer the local schema fields: the select/cast
                # of _align_to_schema strips StructField metadata, and an
                # evolving append's fresh PHYSICAL name lives exactly there
                local = {
                    f.name: f for f in (sch.fields if sch is not None else [])
                }
                for f in sch_now.fields:
                    ours = self._physical_name(local.get(f.name, f))
                    if ours != self._physical_name(f):
                        raise CommitConflict(
                            f"concurrent schema change remapped {f.name!r} "
                            f"({ours!r} → {self._physical_name(f)!r})"
                        )
                now = {f.name for f in sch_now.fields}
                commit_schema = StructType(
                    list(sch_now.fields)
                    + [
                        local.get(f.name, f)
                        for f in data.schema.fields
                        if f.name not in now
                    ]
                )
            return {
                "add": list(w["stats"]),
                "stats": w["stats"],
                "schema": json.loads(commit_schema.json()),
            }

        return self._commit("append", attempt, max_retries, txn=txn, once=once)

    def commit_append_partitioned(
        self,
        df: DataFrame,
        partition_cols,
        max_retries: int = 20,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Hive/Delta-style partitioned append as ONE atomic commit.

        The frame is written ONCE through a staged ``partitionBy`` on a
        duplicated partition key (so the data files keep the full table
        schema — no re-attach of dropped columns at read), then every
        leaf partition directory is promoted to its own file group —
        the same rename dance as clustered OPTIMIZE, no second data
        pass.  Because each group then holds exactly one partition
        tuple, the footer zone maps on the partition columns are EXACT
        (min == max), so ``prune_groups``/``read_pruned`` deliver true
        partition pruning through the existing planner: an equality
        predicate on the partition column plans exactly the matching
        groups, never a directory listing.  At 100 TB this is the write
        layout that makes time/tenant-sliced queries touch only their
        slice, and it composes with every other table feature (DVs,
        merge-on-read DML, time travel, restore) because partitioned
        groups ARE ordinary groups.

        Reference contract: the reference partitions its EDN tx logs by
        tx range for exactly this selective-replay reason
        (azanium/pseudoace.py — cited in sources/edn.py).
        """
        cols = (
            [partition_cols]
            if isinstance(partition_cols, str)
            else list(partition_cols)
        )
        missing = set(cols) - set(df.columns)
        if missing:
            raise ValueError(f"unknown partition columns: {sorted(missing)}")
        return self._append(df, max_retries, txn, partition_cols=cols)

    def partitions(self, column: str, version: int | None = None) -> list:
        """The distinct values a partition column takes across the live
        groups, from the zone maps alone (a group written by the
        partitioned append has min == max) — the SHOW PARTITIONS
        surface, zero data reads.  Groups where the column is not
        constant (plain appends, compacted mixtures) report None."""
        upto = self.latest_version() if version is None else version
        column = self._physical_map(upto).get(column, column)
        _active, stats, _dvs = self._replay(upto)
        out = set()
        for g, s in stats.items():
            rng = s.get(column)
            if rng is None:
                continue
            out.add(rng[0] if rng[0] == rng[1] else None)
        return sorted(out, key=lambda v: (v is None, str(v)))

    def commit_overwrite(
        self,
        df: DataFrame,
        max_retries: int = 20,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Replace the table contents atomically (old groups removed
        logically; bytes stay for time travel).

        With ``txn=(app_id, batch_id)`` the overwrite is IDEMPOTENT like
        ``commit_append``'s — a replayed micro-batch after a sink
        restart is a no-op returning the original version.  This is the
        streaming *materialized-view* sink shape: each batch rewrites a
        small derived table (e.g. an HLL register rollup) exactly
        once."""

        def attempt(read_v, staged):
            self._check_constraints(df, self.constraints(read_v))
            return self._row_fields(
                staged, delta=df, replaces=self.active_groups(read_v)
            )

        return self._commit("overwrite", attempt, max_retries, txn=txn)

    def merge(
        self,
        spark: SparkSession,
        transform,
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Serializable read-modify-write: ``transform(current_df) ->
        new_df`` is re-executed against the ADVANCED snapshot if another
        commit won the race — the Delta/Iceberg optimistic-retry loop, so
        concurrent merges compose instead of losing updates.

        ``txn=(app, batch)`` makes the rewrite idempotent on the
        transaction identity — the cursor primitive an incremental
        materialized-view refresh records ATOMICALLY with its output."""

        def attempt(read_v, staged):
            out = transform(self.read(spark, read_v) if read_v >= 0 else None)
            self._check_constraints(out, self.constraints(read_v))
            return self._row_fields(
                staged, delta=out, replaces=self.active_groups(read_v)
            )

        return self._commit("merge", attempt, max_retries, txn=txn)

    def optimize(
        self,
        spark: SparkSession,
        sort_key=None,
        target_groups: int = 1,
        max_retries: int = 5,
        where: tuple | None = None,
        cluster_map: tuple | None = None,
    ) -> int:
        """Compact the active groups into ``target_groups`` rewritten
        groups, optionally clustered by ``sort_key`` (a Column — e.g.
        ``zorder_key(day, bucket)`` — or a column-name list): a logical
        no-op that readers cannot observe in row content, committed
        add+remove atomically like any other writer.  Tightens the
        zone maps (sorted files have narrow min/max) and removes the
        small-file tax; the pre-optimize layout stays time-travelable.

        ``where=(column, lo, hi)`` is OPTIMIZE ... WHERE: only the
        groups whose zone maps intersect the range are rewritten — the
        slice a streaming-partitioned ingest fragments (one group per
        (batch, partition)) compacts without touching, or even reading,
        any other partition's bytes.  A group partially overlapping the
        range is rewritten WHOLE (group granularity, Delta's rule), so
        row content never changes.

        ``cluster_map=(mapping_df, on_col)`` clusters by an EXTERNAL
        key (round 11): ``mapping_df`` carries ``(on_col, __ckey)`` and
        is left-joined in purely to ORDER the rewrite —
        ``repartitionByRange(__ckey, *sort_key)`` — then dropped before
        the write, so row content stays byte-identical while the
        physical layout follows a key the rows themselves don't carry
        (e.g. a vector's IVF list id: semantic clustering, so that
        frontier point-lookups land in few groups on ANY id layout).
        The mapping is deduplicated on ``on_col`` before the join
        (row multiset preservation is the optimize contract); unmapped
        rows sort together under a null key.

        On a cluster ``target_groups`` is sized from live bytes the way
        operators/compaction does; conflicts re-read the advanced active
        set and retry on top of it."""
        from pyspark.sql import functions as F

        def attempt(read_v, staged):
            if read_v < 0:
                raise ValueError("cannot optimize an empty table")
            if where is not None:
                w_col, w_lo, w_hi = where
                selected, _total = self.prune_groups(
                    w_col, lo=w_lo, hi=w_hi, version=read_v
                )
                if not selected:
                    return None  # nothing to compact in the slice
                dvs = [
                    d
                    for d in self._replay(read_v)[2]
                    if set(d.get("covers", [])) & set(selected)
                ]
                df = self._apply_dvs(
                    spark, self._scan(spark, selected, read_v), dvs
                )
            else:
                selected = self.active_groups(read_v)
                df = self.read(spark, read_v)
            if sort_key is None:
                stats = self._write_groups(
                    self._to_physical(df.repartition(target_groups)), staged
                )
                return {"add": list(stats), "remove": selected, "stats": stats}
            # global range layout on the cluster key: one rewritten GROUP
            # per range partition (repartitionByRange samples the key),
            # sorted within — each group owns a disjoint key range, so
            # group-level zone maps become narrow and planning-time
            # skipping actually fires.  This is OPTIMIZE ZORDER's
            # physical shape; one group per output file is the per-file-
            # stats granularity Delta/Iceberg record.
            keys = sort_key if isinstance(sort_key, list) else [sort_key]
            if cluster_map is not None:
                mdf, on_col = cluster_map
                mdf = mdf.select(
                    F.col(on_col).alias("__ck_on"), "__ckey"
                ).dropDuplicates(["__ck_on"])
                df = df.join(
                    mdf, df[on_col] == mdf["__ck_on"], "left"
                ).drop("__ck_on")
                keys = ["__ckey"] + keys
            ranged = (
                df.repartitionByRange(target_groups, *keys)
                .sortWithinPartitions(*keys)
            )
            if cluster_map is not None:
                ranged = ranged.drop("__ckey")
            stats = self._write_groups(self._to_physical(ranged), staged, [])
            return {"add": list(stats), "remove": selected, "stats": stats}

        return self._commit("optimize", attempt, max_retries)

    def checkpoint(self, version: int | None = None) -> int:
        """Materialize the replayed state at ``version`` (default latest)
        into ``NNN.checkpoint.json`` so later readers replay from here
        instead of commit 0.  Idempotent; published with the same
        atomic-create primitive as commits (a racing checkpointer of the
        same version writes identical content, so the loser just
        defers).  It holds every log-derived lookup of :meth:`_state`,
        not just the file state — all BOUNDED BY the version: a
        checkpoint of an older version is version-consistent, not a mix
        of its files with the latest metadata."""
        v = self.latest_version() if version is None else version
        final = os.path.join(self.log_dir, f"{v:020d}.checkpoint.json")
        if os.path.exists(final):
            return v
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump({"version": v, **self._state(v)}, fh)
        try:
            os.link(tmp, final)
        except FileExistsError:
            pass  # identical content by construction
        finally:
            os.remove(tmp)
        return v

    def vacuum(
        self, retain_versions: int = 0, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Physically delete file groups not referenced by any version
        inside the retention horizon ``[latest - retain_versions,
        latest]``.  Reads anywhere in the horizon are untouched; time
        travel beyond it raises at scan time (the bytes are gone — the
        same contract as Delta VACUUM's retention window).  Groups
        younger than ``min_age_seconds`` are never touched: they may be
        an in-flight writer's not-yet-committed data (Delta's tombstone
        retention serves the same purpose).  Returns the deleted group
        names."""
        latest = self.latest_version()
        keep: set[str] = set()
        for v in range(max(0, latest - retain_versions), latest + 1):
            active, _stats, dvs = self._replay(v)
            keep.update(active)
            keep.update(d["group"] for d in dvs)
        now = time.time()
        deleted = []
        for g in sorted(os.listdir(self.data_dir)):
            path = os.path.join(self.data_dir, g)
            # staging dirs ('.part-*'; '.opt-*' from older writers) are
            # normally removed by their writer; an aged survivor means
            # the writer PROCESS died mid-write — orphan bytes no commit
            # references, collected like Delta VACUUM's uncommitted files
            if (
                g.startswith(("g-", "dv-", ".part-", ".opt-"))
                and g not in keep
                and now - os.path.getmtime(path) >= min_age_seconds
            ):
                shutil.rmtree(path)
                deleted.append(g)
        return deleted

    def restore(self, version: int, max_retries: int = 20) -> int:
        """RESTORE TABLE TO VERSION: publish a NEW commit whose replayed
        state equals the state at ``version`` — the rollback is itself
        history (time travel to the pre-restore state keeps working, the
        Delta RESTORE contract).  The commit re-activates the target's
        group set with its zone-map stats and schema, and RETIRES every
        deletion vector created after the target (their masks must not
        apply to the restored state).  If the target's bytes were
        VACUUMed past the retention horizon, the next read fails loudly
        at scan time — restore never resurrects deleted bytes."""
        target = self._state(version)

        def attempt(read_v, _staged):
            if version > read_v:
                raise ValueError(f"cannot restore to future v{version}")
            cur = self.active_groups(read_v)
            cur_set, t_set = set(cur), set(target["active"])
            return {
                "add": [g for g in target["active"] if g not in cur_set],
                "remove": [g for g in cur if g not in t_set],
                "stats": target["stats"],
                "schema": target["schema"],
                # retire EVERY deletion vector committed after the target
                # — including ones currently retired (their covered
                # groups come back alive with the restore and the masks
                # would resurrect; caught by tests/test_txlog_model.py)
                "drop_dvs": [
                    c["dv"]["group"]
                    for c in (
                        self._read_commit(v)
                        for v in self._versions()
                        if version < v <= read_v
                    )
                    if c.get("dv")
                ],
                # re-assert the target's live DVs so a checkpoint-seeded
                # replay (where they may have been end-filtered out after
                # a rewrite) masks the restored groups exactly as a full
                # replay does
                "re_add_dvs": target["dvs"],
            }

        return self._commit("restore", attempt, max_retries)

    def history_df(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY as a DataFrame: one row per commit with the
        operation, group add/remove counts, and DML/metadata markers —
        the audit surface Delta exposes as SQL.  Driver-tier (the log is
        KBs; never a data-file read)."""
        rows = []
        for v in self._versions():
            c = self._read_commit(v)
            rows.append(
                (
                    v,
                    c.get("op", "append"),
                    len(c.get("add", [])),
                    len(c.get("remove", [])),
                    bool(c.get("dv")),
                    bool(c.get("txn")),
                    c.get("committed_at"),
                )
            )
        return spark.createDataFrame(
            rows,
            "version long, op string, n_added int, n_removed int, "
            "has_dv boolean, has_txn boolean, committed_at string",
        )

    def detail_df(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE DETAIL as a one-row DataFrame: current version,
        live group/DV counts, constraint count, and schema column count
        — all from the log."""
        v = self.latest_version()
        active, _stats, dvs = self._replay(v) if v >= 0 else ([], {}, [])
        js = self.table_schema_json()
        return spark.createDataFrame(
            [
                (
                    v,
                    len(active),
                    len(dvs),
                    len(self.constraints()),
                    len(js["fields"]) if js else None,
                )
            ],
            "version long, n_groups int, n_live_dvs int, "
            "n_constraints int, n_columns int",
        )

    def export_manifest(self, path: str, version: int | None = None) -> list[str]:
        """Write the pinned LIVE file list at ``version`` (default
        latest) to a newline-delimited manifest (Delta's GENERATE
        symlink_format_manifest; Iceberg metadata-table analogue), so
        engines with no txlog reader can read a CONSISTENT snapshot
        instead of a half-committed directory listing.  Refuses tables
        whose logical state is not raw-file-faithful — live deletion
        vectors or column mapping would make raw parquet reads WRONG,
        the same restriction Delta documents.  O(groups) metadata;
        returns the sorted file list."""
        head = self.latest_version()
        v = head if version is None else version
        if v < 0 or v > head:
            raise ValueError(
                f"manifest export refused: version {v} does not exist "
                f"(table head is v{head})"
            )
        active, _stats, dvs = self._replay(v)
        if not active:
            raise ValueError(
                f"manifest export at v{v} refused: table has no live "
                "data files — an empty manifest would crash raw readers"
            )
        if dvs:
            raise ValueError(
                f"manifest export at v{v} refused: {len(dvs)} live "
                "deletion vectors — raw parquet readers cannot apply "
                "them; OPTIMIZE/compact first"
            )
        pm = self._physical_map(upto=v)
        if any(log != phys for log, phys in pm.items()):
            raise ValueError(
                f"manifest export at v{v} refused: column mapping is "
                "active — physical column names differ from logical"
            )
        files = sorted(self._gpath(g) for g in active)
        # atomic publish: a concurrent external reader must see either
        # the old manifest or the new one, never a truncated write —
        # the same temp+rename protocol the commit log itself uses
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write("\n".join(files) + ("\n" if files else ""))
        os.replace(tmp, path)
        return files

    # -- reads --------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot (optionally time-travel) read: log replay → explicit
        file-group list → one multi-path Parquet scan.  Never lists
        ``data/``, so uncommitted writers are invisible.  Live deletion
        vectors are applied as a position anti-join; a table with no DVs
        pays nothing (the plain scan, no metadata columns)."""
        upto = self.latest_version() if version is None else version
        groups, _stats, dvs = self._replay(upto)
        if not groups:
            raise ValueError(f"table at {self.root} is empty at v{version}")
        df = self._scan(spark, groups, upto)
        return self._apply_dvs(spark, df, dvs)

    @staticmethod
    def _physical_name(field) -> str:
        """The on-file column name of a schema field: its
        ``physical`` metadata when column mapping is active (the field
        was renamed), else the logical name itself."""
        md = field.metadata or {}
        return md.get("physical", field.name)

    def _physical_map(self, upto: int | None = None) -> dict[str, str]:
        """{logical name: physical name} at ``upto`` — identity for
        tables that never renamed a column."""
        from pyspark.sql.types import StructType

        js = self.table_schema_json(upto)
        if js is None:
            return {}
        sch = StructType.fromJson(js)
        return {f.name: self._physical_name(f) for f in sch.fields}

    def _to_physical(self, df: DataFrame, schema=None) -> DataFrame:
        """Rename a LOGICAL-schema frame to its on-file PHYSICAL column
        names before a schema-preserving write (append / DML delta /
        optimize rewrite).  ``schema`` overrides the log's mapping for
        writers whose schema commit has not published yet (an evolving
        append carrying a fresh physical name).  Identity when no
        column was ever renamed — the overwhelmingly common case pays a
        dict lookup, no plan node."""
        from pyspark.sql import functions as F

        if schema is not None:
            mapping = {
                f.name: self._physical_name(f) for f in schema.fields
            }
        else:
            mapping = self._physical_map()
        if all(mapping.get(c, c) == c for c in df.columns):
            return df
        # ONE atomic select: sequential withColumnRenamed would create a
        # transient duplicate when a swap chain reuses a vacated name
        # (rename v→amount leaves physical 'v'; re-adding logical 'v'
        # then maps amount→v while v→v__fresh)
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    def _scan(
        self, spark: SparkSession, groups: list[str], upto: int
    ) -> DataFrame:
        """Scan the given groups under the LOG-OWNED schema at ``upto``
        (files from before an ADD COLUMN backfill NULL for the new
        columns — parquet-by-schema read semantics); legacy logs with no
        recorded schema fall back to footer inference.  Column mapping:
        files are read under their PHYSICAL names and aliased back to
        the logical schema, so RENAME COLUMN is a metadata commit, never
        a rewrite."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        js = self.table_schema_json(upto)
        if js is None:
            return spark.read.parquet(
                *[self._gpath(g) for g in groups]
            )
        sch = StructType.fromJson(js)
        phys = StructType(
            [
                StructField(
                    self._physical_name(f), f.dataType, f.nullable
                )
                for f in sch.fields
            ]
        )
        df = spark.read.schema(phys).parquet(
            *[self._gpath(g) for g in groups]
        )
        if [f.name for f in phys.fields] == [f.name for f in sch.fields]:
            return df
        return df.select(
            *[
                F.col(self._physical_name(f)).alias(f.name)
                for f in sch.fields
            ]
        )

    def _apply_dvs(
        self, spark: SparkSession, df: DataFrame, dvs: list[dict]
    ) -> DataFrame:
        """Subtract deletion-vector positions from a scan of this
        table's files: anti-join on (``_metadata.file_path``,
        ``_metadata.row_index``) — Spark's native row-position metadata,
        generated inside the scan, so no physical column is read or
        stored.  The DV side is the union of the live positional-delete
        files (O(rows deleted)); AQE broadcasts it when small.  No-op
        when ``dvs`` is empty."""
        from pyspark.sql import functions as F

        if not dvs:
            return df
        pos = spark.read.parquet(
            *[self._gpath(d["group"]) for d in dvs]
        )
        tagged = df.select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__ri"),
        )
        return (
            tagged.join(
                pos,
                (tagged["__fp"] == pos["file_path"])
                & (tagged["__ri"] == pos["row_index"]),
                "left_anti",
            )
            .drop("__fp", "__ri")
        )

    @staticmethod
    def _positions(matched: DataFrame) -> DataFrame:
        """(file, row-position) pairs of ``matched`` via Spark's native
        ``_metadata`` scan columns.  Must be called on a frame whose
        plan still resolves ``_metadata`` (projections/filters over the
        scan — a USING-join output does not; tag before joining)."""
        from pyspark.sql import functions as F

        return matched.select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").cast("long").alias("row_index"),
        )

    def _write_dv(
        self, pos: DataFrame, staged: list
    ) -> tuple[str, int, list[str]]:
        """Write a (file_path, row_index) positions frame as a deletion-
        vector group (named in ``staged`` first, like ``_write_groups``);
        return (group, n_positions, covered data groups).

        Coverage is PRECISE — only the groups that actually contain a
        masked position — so CDF pre-image reads touch just those files
        and the DV retires as soon as ITS files are rewritten, not when
        the whole table is.  Scale: the row count comes from the parquet
        FOOTERS (metadata only) and the covered-group set from an
        executor-side DISTINCT over the just-written DV (bounded by the
        table's file count) — nothing O(rows deleted) ever touches the
        driver."""
        import pyarrow.parquet as _pq

        group = f"dv-{uuid.uuid4().hex}"
        staged.append(group)
        path = os.path.join(self.data_dir, group)
        pos.write.mode("errorifexists").parquet(path)
        n = sum(
            _pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if n == 0:
            return group, 0, []
        from pyspark.sql import functions as F

        # files live directly inside their group directory:
        # .../data/<group>/<part-file> → parent dir name is the group
        spark = pos.sparkSession
        covered = sorted(
            r.g
            for r in spark.read.parquet(path)
            .select(
                F.element_at(
                    F.split(F.col("file_path"), "/"), -2
                ).alias("g")
            )
            .distinct()
            .collect()
        )
        return group, n, covered

    def delete_where(
        self, spark: SparkSession, predicate, max_retries: int = 5
    ) -> int:
        """Row-level DELETE without rewriting a single data file: the
        matching rows' (file, row-position) pairs are written once as a
        small Parquet deletion-vector group and committed; every reader
        from then on applies the positions as an anti-join.  Cost is
        O(rows deleted) — at 100 TB a targeted delete (GDPR erasure, a
        bad-batch retraction) touches KBs of DV, not the table.

        ``predicate`` is a Column (or SQL string) over the table schema.
        Rows already deleted by live DVs are excluded from the new DV
        (positions never duplicate).  Serializable via the same
        optimistic loop as every other writer: a conflicting commit
        advances the snapshot and the positions are recomputed against
        it.  A predicate matching nothing commits nothing and returns
        the read version."""

        def attempt(read_v, staged):
            _scan, live = self._live_scan(spark, read_v, "delete from")
            return self._row_fields(
                staged, mask=self._positions(live.filter(predicate))
            )

        return self._commit("delete", attempt, max_retries)

    def update_where(
        self,
        spark: SparkSession,
        predicate,
        assignments: dict,
        max_retries: int = 5,
    ) -> int:
        """Row-level UPDATE, merge-on-read: ONE atomic commit carries a
        deletion vector masking the matched rows in place AND an
        appended delta group holding their updated versions — no
        existing data file is rewritten; the write is O(rows updated)
        (the predicate evaluation itself is one pruned scan, as in any
        engine).
        ``assignments`` maps column name → Column expression evaluated
        over the pre-update row (unassigned columns carry through).
        Readers see old XOR new atomically: both the DV and the delta
        become visible in the same log entry.  Nothing matched → no
        commit.  The Iceberg merge-on-read v2 UPDATE write path."""
        from pyspark.sql import functions as F

        unknown = set(assignments) - set(self.read_schema_columns(spark))
        if unknown:
            raise ValueError(f"unknown update columns: {sorted(unknown)}")

        def attempt(read_v, staged):
            # updated rows carry EVERY log-schema column (footer inference
            # after ADD COLUMN can miss the new one and silently drop it)
            scan, live = self._live_scan(spark, read_v, "update")
            matched = live.filter(predicate)
            updated = matched.select(
                *[
                    assignments[c].alias(c) if c in assignments else F.col(c)
                    for c in scan.columns
                ]
            )
            updated = self._align_to_schema(updated, scan.schema)
            self._check_constraints(updated, self.constraints(read_v))
            return self._row_fields(
                staged,
                mask=self._positions(matched),
                delta=self._to_physical(updated),
            )

        return self._commit("update", attempt, max_retries)

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols,
        insert: bool = True,
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE INTO, merge-on-read (whenMatchedUpdateAll /
        whenNotMatchedInsertAll): matched target rows are masked by a
        deletion vector and the WHOLE source lands as one appended delta
        group — new versions for the matched keys, inserts for the rest
        (``insert=False`` restricts the delta to matched keys only).
        One atomic commit, no data file rewritten: the WRITE cost is
        O(|source| + rows matched); locating matches costs one scan of
        the target (column-pruned to the key + _metadata, and
        zone-map-prunable when the merge keys cluster) — the same cost
        envelope as Delta MERGE's find-touched-files job, and never a
        table REWRITE.  The
        source must be unique on ``key_cols`` (checked — a duplicate
        would commit two live versions of one key, the same error Delta
        MERGE raises on multiple source matches).

        ``txn=(app_id, batch_id)`` makes the merge IDEMPOTENT on the
        transaction identity, like ``commit_append``: a foreachBatch
        CDC upsert replayed after a sink restart finds its identity in
        the log and returns without recomputing — exactly-once MERGE on
        top of at-least-once micro-batch delivery."""
        keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

        def attempt(read_v, staged):
            scan, live = self._live_scan(spark, read_v, "merge into")
            # the log-owned schema: the source must see the full evolved
            # column set, not a pre-evolution footer's
            src = self._align_to_schema(source, scan.schema)
            if src.groupBy(*keys).count().where("count > 1").take(1):
                raise ValueError(f"merge source is not unique on {keys}")
            delta = (
                src
                if insert
                else src.join(
                    live.select(*keys).distinct(), on=keys, how="left_semi"
                )
            )
            self._check_constraints(delta, self.constraints(read_v))
            return self._row_fields(
                staged,
                mask=self._key_positions(live, src, keys),
                delta=self._to_physical(delta),
            )

        return self._commit("merge_into", attempt, max_retries, txn=txn)

    def apply_cdc(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key_cols,
        op_col: str = "op",
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Apply a CDC change set as ONE atomic merge-on-read commit —
        the full MERGE triad (WHEN MATCHED UPDATE / WHEN MATCHED DELETE
        / WHEN NOT MATCHED INSERT) that ``merge_into`` lacks the DELETE
        arm of.  ``changes`` carries the table columns plus ``op_col``
        ∈ {'upsert', 'delete'} and must be unique on ``key_cols``
        (checked).  Every matched key's live rows are masked by a
        deletion vector; ONLY the upsert rows land as the delta group —
        so a delete row removes its key and an upsert row replaces (or
        inserts) its key.  Write cost is O(|changes| + rows matched),
        never a table rewrite — the primitive an incremental
        materialized view uses when a batch changes a bounded subset of
        keys (the stream_nsw_mv adjacency: only edges whose per-src
        top-M actually moved).  ``txn`` makes the commit idempotent on
        the transaction identity, including the provable-no-op case."""
        from pyspark.sql import functions as F

        keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

        def attempt(read_v, staged):
            if changes.filter(~F.col(op_col).isin("upsert", "delete")).take(1):
                raise ValueError(
                    f"apply_cdc: {op_col} must be 'upsert' or 'delete'"
                )
            scan, live = self._live_scan(spark, read_v, "apply CDC to")
            # align data columns to the log-owned schema while keeping
            # the op marker riding the same frame
            src = changes.select(
                *[
                    F.col(f.name).cast(f.dataType)
                    for f in scan.schema.fields
                ],
                F.col(op_col),
            )
            if src.groupBy(*keys).count().where("count > 1").take(1):
                raise ValueError(f"CDC source is not unique on {keys}")
            delta = src.filter(F.col(op_col) == "upsert").drop(op_col)
            self._check_constraints(delta, self.constraints(read_v))
            return self._row_fields(
                staged,
                mask=self._key_positions(live, src, keys),
                delta=self._to_physical(delta),
            )

        return self._commit("apply_cdc", attempt, max_retries, txn=txn)

    def replace_where(
        self,
        spark: SparkSession,
        predicate,
        df: DataFrame,
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Delta's ``replaceWhere`` as ONE atomic merge-on-read commit:
        every live row matching ``predicate`` is masked by a deletion
        vector and ``df`` (which must itself satisfy the predicate —
        checked, the Delta contract) lands as the replacement group.
        Readers see old XOR new; no existing data file is rewritten, so
        the write cost is O(rows replaced + |df|) — at 100 TB a
        daily-partition backfill touches one slice's positions and the
        new slice, never the table.  The pre-replace state stays
        time-travelable like any other commit.  An empty ``df`` commits
        the mask alone; with nothing matched either, nothing is
        committed (the ``merge_into`` no-op rule)."""
        from pyspark.sql import functions as F

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate

        def attempt(read_v, staged):
            scan, live = self._live_scan(spark, read_v, "replace into")
            src = self._align_to_schema(df, scan.schema)
            n_outside = src.filter(~F.coalesce(pred, F.lit(False))).count()
            if n_outside:
                raise ValueError(
                    f"{n_outside} replacement rows do not satisfy the "
                    f"replaceWhere predicate"
                )
            self._check_constraints(src, self.constraints(read_v))
            return self._row_fields(
                staged,
                mask=self._positions(live.filter(pred)),
                delta=self._to_physical(src),
            )

        return self._commit("replace_where", attempt, max_retries, txn=txn)

    def overwrite_partitions(
        self,
        spark: SparkSession,
        df: DataFrame,
        partition_cols,
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Dynamic partition overwrite (Spark's
        ``partitionOverwriteMode=dynamic`` / Hive INSERT OVERWRITE):
        atomically replace exactly the partition tuples PRESENT in
        ``df``, leaving every other partition untouched.  Sugar over
        :meth:`replace_where` with the predicate derived from ``df``'s
        distinct partition tuples (driver-tier: bounded by the
        partition count, the same cardinality any metastore holds)."""
        from pyspark.sql import functions as F

        cols = (
            [partition_cols]
            if isinstance(partition_cols, str)
            else list(partition_cols)
        )
        missing = set(cols) - set(df.columns)
        if missing:
            raise ValueError(f"unknown partition columns: {sorted(missing)}")
        tuples = df.select(*cols).distinct().collect()
        if not tuples:
            raise ValueError("overwrite_partitions with an empty frame")
        pred = None
        for row in tuples:
            clause = None
            for c in cols:
                eq = F.col(c).eqNullSafe(F.lit(row[c]))
                clause = eq if clause is None else (clause & eq)
            pred = clause if pred is None else (pred | clause)
        return self.replace_where(
            spark, pred, df, max_retries=max_retries, txn=txn
        )

    # -- bloom-filter point-lookup index --------------------------------------

    @staticmethod
    def _bloom_probe_hashes(values, k: int, int_width: int):
        """The k xxHash64 lane hashes of every probe value, computed ON
        THE DRIVER (numpy) — bit-identical to the JVM expressions the
        sidecar builder used (``pmod(xxhash64(col, lit(j)), m)``), so
        batched planners can consult bloom sidecars with ZERO Spark
        jobs.  Spark's XxHash64 expression folds columns left-to-right:
        ``xxhash64(col, lit(j))`` is ``hashInt(j, hashLong(v, 42))`` for
        a bigint column (``hashInt(j, hashInt(v, 42))`` for an int
        column) — the published xxHash64 short-input paths
        (XXH64.hashLong/hashInt in the Spark source), reproduced here
        over uint64 numpy lanes.  Returns a (k, len(values)) int64
        array of SIGNED hashes (the JVM long the builder pmod'ed);
        verified bit-exact against ``F.xxhash64`` by
        tests/test_txlog_bloom.py."""
        import numpy as np

        P1 = np.uint64(0x9E3779B185EBCA87)
        P2 = np.uint64(0xC2B2AE3D27D4EB4F)
        P3 = np.uint64(0x165667B19E3779F9)
        P4 = np.uint64(0x85EBCA77C2B2AE63)
        P5 = np.uint64(0x27D4EB2F165667C5)

        def rotl(x, r):
            return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

        def fmix(h):
            h = h ^ (h >> np.uint64(33))
            h = h * P2
            h = h ^ (h >> np.uint64(29))
            h = h * P3
            h = h ^ (h >> np.uint64(32))
            return h

        def hash_long(v_u64, seed_u64):
            h = seed_u64 + P5 + np.uint64(8)
            h = h ^ (rotl(v_u64 * P2, 31) * P1)
            h = rotl(h, 27) * P1 + P4
            return fmix(h)

        def hash_int(v_u64, seed_u64):
            # input is the 32-bit value zero-extended to 64 bits
            h = seed_u64 + P5 + np.uint64(4)
            h = h ^ ((v_u64 & np.uint64(0xFFFFFFFF)) * P1)
            h = rotl(h, 23) * P2 + P3
            return fmix(h)

        with np.errstate(over="ignore"):
            vals = np.asarray(
                [int(v) & ((1 << 64) - 1) for v in values], dtype=np.uint64
            )
            seed = np.full(len(vals), 42, dtype=np.uint64)
            h1 = (
                hash_long(vals, seed)
                if int_width == 64
                else hash_int(vals, seed)
            )
            lanes = [
                hash_int(np.full(len(vals), j, dtype=np.uint64), h1)
                for j in range(k)
            ]
        return np.stack(lanes).view(np.int64)

    def _bloom_sidecar(self, group: str, phys_col: str):
        """Parsed bloom sidecar of ``group`` for ``phys_col`` — cached
        per path forever (file groups are immutable: a rewritten group
        gets a fresh uuid directory, so a cached parse can never go
        stale).  None when the group has no sidecar YET (negative
        results are not cached: ``add_bloom_index`` may build one later
        in the same process)."""
        import base64

        import numpy as np

        try:
            side = os.path.join(self._gpath(group), f"_bloom_{phys_col}.json")
        except FileNotFoundError:
            return None
        cached = _BLOOM_SIDECAR_CACHE.get(side)
        if cached is not None:
            return cached
        if not os.path.exists(side):
            return None
        with open(side) as fh:
            idx = json.load(fh)
        parsed = {
            "m": int(idx["m"]),
            "k": int(idx["k"]),
            "bits": np.frombuffer(
                base64.b64decode(idx["bitmap"]), dtype=np.uint8
            ),
        }
        if len(_BLOOM_SIDECAR_CACHE) > 65536:
            _BLOOM_SIDECAR_CACHE.clear()
        _BLOOM_SIDECAR_CACHE[side] = parsed
        return parsed

    def _bloom_int_width(self, phys_col: str, upto: int):
        """64/32 when the LOG-recorded schema types the (physical)
        column as bigint/int (the only types the driver-side probe
        hasher reproduces); None otherwise — probing then falls back to
        zone maps alone, never a wrong prune."""
        js = self.table_schema_json(upto)
        if not js:
            return None
        for f in js.get("fields", []):
            phys = (f.get("metadata") or {}).get("physical", f.get("name"))
            if phys == phys_col:
                return {"long": 64, "integer": 32}.get(f.get("type"))
        return None

    def add_bloom_index(
        self,
        spark: SparkSession,
        column: str,
        bits_per_key: int = 10,
        k: int = 4,
        version: int | None = None,
    ) -> int:
        """Build bloom-filter sidecar indexes for every live group that
        lacks one — the point-lookup complement to zone maps (a
        high-cardinality key like an event id is uniform per group, so
        min/max never prunes; a bloom does).  Delta's bloom filter
        index, as group-local ``_bloom_<col>.json`` sidecars: the
        leading underscore keeps them invisible to parquet scans, and
        they ride with their immutable group (a rewritten group starts
        index-less).  Sizing: m = bits_per_key × group rows, rounded to
        a power of two (k=4 at 10 bits/key → ~1.2% false positives).

        Scale: ONE batched Spark job covers EVERY un-indexed group
        (round-6; the round-5 shape submitted one job per group, and at
        10k–100k groups the serial job-submission loop dominated): all
        groups are scanned in a single single-column read, the group id
        is recovered from ``input_file_name()``, each group's own m
        joins in from a broadcast sizing dim, and one (group, lane)
        aggregation folds bit positions into 64-bit lanes JVM-side —
        the driver receives exactly the index bytes it is about to
        write (≤ m/64 rows per group).  Row counts for sizing come from
        the commit stats ('__rows', metadata-only); groups a pre-stats
        log can't size cost one extra counting job TOTAL, not one per
        group.  Sidecar writes go to shared storage exactly like data
        files.  Returns the number of groups indexed (0 when the table
        has no such column).

        Contract: only ``long`` and ``int`` columns can be indexed.  The
        point planners hash probe values in numpy, bit-exact with
        Spark's xxhash64 for exactly those two widths, so a sidecar on
        any other type could never be consulted; such a column raises
        ValueError naming the column and its type."""
        import base64

        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        upto = self.latest_version() if version is None else version
        name, column = column, self._physical_map(upto).get(column, column)
        # the column's on-file type, from the log-owned schema (legacy
        # logs: the first live group's footer)
        sch = self.read_schema(spark, upto)
        dtype = next(
            (
                f.dataType
                for f in (sch.fields if sch is not None else [])
                if self._physical_name(f) == column
            ),
            None,
        )
        if dtype is None:
            return 0
        if not isinstance(dtype, (LongType, IntegerType)):
            raise ValueError(
                f"cannot bloom-index column {name!r} of type "
                f"{dtype.simpleString()}: only long and int columns are "
                "supported"
            )
        todo: list[str] = []
        for g in self.active_groups(upto):
            if self._base_dirs() and not os.path.isdir(
                os.path.join(self.data_dir, g)
            ):
                # a shallow-cloned FOREIGN group: its dir belongs to the
                # source, so the clone must not write sidecars there —
                # OPTIMIZE rematerializes the group locally, after which
                # it indexes like any other.  Checked BEFORE _gpath so a
                # source-vacuumed group skips here instead of raising
                # mid-index (the diagnostic raise belongs to the scan).
                # (Non-clone tables fall through: a missing local dir
                # there is corruption and must fail LOUDLY at the scan.)
                continue
            side = os.path.join(self._gpath(g), f"_bloom_{column}.json")
            if os.path.exists(side):
                continue  # already indexed
            todo.append(g)
        if not todo:
            return 0
        one_col = StructType([StructField(column, dtype, True)])
        gid = F.regexp_extract(
            F.input_file_name(), r"(g-[0-9a-f]{32})", 1
        ).alias("g")
        paths = [os.path.join(self.data_dir, g) for g in todo]

        # sizing: commit stats carry exact per-group row counts; any
        # group the stats can't size (pre-stats log) joins ONE shared
        # counting job
        _active, stats, _dvs = self._replay(upto)
        n_by_group: dict[str, int] = {}
        unsized: list[str] = []
        for g in todo:
            n = (stats.get(g) or {}).get("__rows")
            if isinstance(n, int):
                n_by_group[g] = n
            else:
                unsized.append(g)
        if unsized:
            for r in (
                spark.read.schema(one_col)
                .parquet(*[os.path.join(self.data_dir, g) for g in unsized])
                .select(gid)
                .groupBy("g")
                .count()
                .collect()
            ):
                n_by_group[r.g] = int(r["count"])
        m_by_group: dict[str, int] = {}
        for g in todo:
            n = n_by_group.get(g, 0)
            if n <= 0:
                continue  # empty group: nothing to index
            m = 64
            while m < n * bits_per_key:
                m *= 2
            m_by_group[g] = m
        if not m_by_group:
            return 0

        sizing = spark.createDataFrame(
            [(g, m) for g, m in m_by_group.items()], "g string, m long"
        )
        # ONE job: scan all un-indexed groups (column-pruned to the
        # indexed column; files lacking it null-fill, which only sets
        # the deterministic null-hash bits — conservative), fold
        # positions into 64-bit lanes per (group, lane) JVM-side
        lanes = (
            spark.read.schema(one_col)
            .parquet(*[
                os.path.join(self.data_dir, g) for g in m_by_group
            ])
            .select(gid, F.col(column))
            .join(F.broadcast(sizing), "g")
            .select(
                "g",
                # the k bit positions pmod(xxhash64(value, j), m), each
                # group's own m joined in as a column
                F.explode(
                    F.array(
                        *[
                            F.pmod(
                                F.xxhash64(F.col(column), F.lit(j)), F.col("m")
                            ).cast("long")
                            for j in range(k)
                        ]
                    )
                ).alias("p"),
            )
            .groupBy("g", (F.col("p") / 64).cast("long").alias("lane"))
            # SQL shiftleft accepts a column shift; the pyspark
            # wrapper only takes a literal int, hence expr()
            .agg(
                F.expr(
                    "bit_or(shiftleft(CAST(1 AS BIGINT),"
                    " CAST(p % 64 AS INT)))"
                ).alias("bits")
            )
            .collect()
        )
        by_group: dict[str, bytearray] = {
            g: bytearray(m // 8) for g, m in m_by_group.items()
        }
        for r in lanes:
            bitmap = by_group[r.g]
            lane, bits = int(r.lane), int(r.bits) & ((1 << 64) - 1)
            bitmap[lane * 8: lane * 8 + 8] = bits.to_bytes(8, "little")
        built = 0
        for g, bitmap in by_group.items():
            side = os.path.join(
                self.data_dir, g, f"_bloom_{column}.json"
            )
            tmp = side + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "column": column,
                        "m": m_by_group[g],
                        "k": k,
                        "bitmap": base64.b64encode(bytes(bitmap)).decode(),
                    },
                    fh,
                )
            os.replace(tmp, side)
            built += 1
        return built

    def prune_groups_point(
        self, spark: SparkSession, column: str, value, version: int | None = None
    ) -> tuple[list[str], int]:
        """Point-lookup planning: the one-value case of
        :meth:`prune_groups_points` — zone maps, then bloom sidecars,
        with no Spark job.  Groups without a sidecar are never wrongly
        pruned (kept).  Returns (kept groups, total live count)."""
        return self.prune_groups_points(column, [value], version)

    def read_point(
        self, spark: SparkSession, column: str, value, version: int | None = None
    ) -> DataFrame:
        """Point-lookup read: bloom + zone-map pruned scan, exact
        equality filter pushed into the survivors."""
        from pyspark.sql import functions as F

        upto = self.latest_version() if version is None else version
        groups, _total = self.prune_groups_point(
            spark, column, value, version=upto
        )
        return self.read_groups(spark, groups, upto).filter(
            F.col(column) == F.lit(value)
        )

    def count_rows(
        self, spark: SparkSession, version: int | None = None
    ) -> int:
        """COUNT(*) from COMMIT METADATA alone when possible: every
        group's exact row count rides its commit stats (parquet-footer
        ``__rows``, harvested at write) and every deletion vector
        records its masked-position cardinality — so the live row count
        is Σ group rows − Σ DV positions with ZERO data files opened,
        at any table size (the Delta/Iceberg snapshot-count fast path).

        Falls back to a real scan-count when the metadata cannot prove
        the answer: a pre-upgrade group without ``__rows``, a DV
        without a cardinality, or a DV whose covered groups are not all
        live (its recorded count may include positions in rewritten
        groups, so subtraction would undercount)."""
        upto = self.latest_version() if version is None else version
        active, stats, dvs = self._replay(upto)
        live = set(active)
        total = 0
        for g in active:
            n = stats.get(g, {}).get("__rows")
            if not isinstance(n, int):
                return self.read(spark, upto).count()
            total += n
        for d in dvs:
            n = d.get("n")
            if not isinstance(n, int) or not set(
                d.get("covers", [])
            ) <= live:
                return self.read(spark, upto).count()
            total -= n
        return total

    def read_schema_columns(self, spark: SparkSession) -> list[str]:
        """Column names of the current table schema (from the live
        groups' parquet footers — no data read)."""
        sch = self.read_schema(spark)
        return [f.name for f in sch.fields] if sch is not None else []

    def table_schema_json(self, upto: int | None = None):
        """The schema recorded in the log at ``upto`` (default latest):
        the LAST data commit's schema wins — Delta's log-owned schema,
        so planning never opens a parquet footer.  None on pre-schema
        (legacy) logs.  O(commits since checkpoint)."""
        return self._state(upto)["schema"]

    def read_schema(self, spark: SparkSession, version: int | None = None):
        """The table schema (StructType) — from the LOG when recorded
        (schema evolution: AS OF a version returns that version's
        schema), else inferred from the first live group's footer
        (legacy logs); None on an empty table."""
        from pyspark.sql.types import StructType

        js = self.table_schema_json(version)
        if js is not None:
            return StructType.fromJson(js)
        v = self.latest_version() if version is None else version
        if v < 0:
            return None
        active = self._replay(v)[0]
        if not active:
            return None
        return spark.read.parquet(self._gpath(active[0])).schema

    @staticmethod
    def _align_to_schema(df: DataFrame, schema) -> DataFrame:
        """Schema enforcement on write: the incoming frame must carry
        exactly the table's columns (any order); each is cast to the
        table's type so one heterogeneous file group can never poison
        the multi-file scan (an int32 ``lit(…)`` next to an int64 table
        column fails at READ time otherwise, and only on the unlucky
        schema-inference ordering).  Missing or extra columns raise —
        the Delta schema-on-write contract."""
        from pyspark.sql import functions as F

        names = [f.name for f in schema.fields]
        missing = set(names) - set(df.columns)
        extra = set(df.columns) - set(names)
        if missing or extra:
            raise ValueError(
                f"schema mismatch: missing {sorted(missing)}, "
                f"unexpected {sorted(extra)}"
            )
        return df.select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )

    def _zone_prune(self, column: str, version: int | None, hit):
        """The ONE zone-map pass under both planners → (upto, physical
        column, live groups ``hit(min, max)`` cannot rule out, total
        live count).  Zone maps are keyed by the on-file (PHYSICAL)
        column name.  Groups with no stats for the column, or stats in
        another domain than the probe, always survive — pruning is an
        optimization, never a filter."""
        upto = self.latest_version() if version is None else version
        column = self._physical_map(upto).get(column, column)
        active, stats, _dvs = self._replay(upto)
        picked = []
        for g in active:
            s = stats.get(g, {}).get(column)
            try:
                if s is None or hit(*s):
                    picked.append(g)
            except TypeError:  # bound/stat domain mismatch → keep
                picked.append(g)
        return upto, column, picked, len(active)

    def prune_groups(
        self,
        column: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Zone-map planning: the live groups that can possibly hold
        ``lo <= column <= hi`` (either bound optional), plus the total
        live-group count.  A group survives unless its recorded
        [min, max] PROVES it disjoint; groups with no stats for the
        column always survive — pruning is an optimization, never a
        filter."""
        lo_n, hi_n = _stat_scalar(lo), _stat_scalar(hi)
        _upto, _col, picked, total = self._zone_prune(
            column,
            version,
            lambda mn, mx: (hi_n is None or mn <= hi_n)
            and (lo_n is None or mx >= lo_n),
        )
        return picked, total

    def prune_groups_points(
        self,
        column: str,
        values,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Batched zone-map POINT planning: one log replay, many probe
        values — the multi-point analogue of ``prune_groups`` for
        planners whose key set is a bounded frontier (a graph hop's
        beam, a dedup probe's band buckets).  A group survives if ANY
        probe value can fall inside its recorded [min, max]; groups
        with no stats always survive (pruning is an optimization,
        never a filter).  Returns (kept groups, total live count).

        Groups that pass the zone maps are additionally probed against
        their bloom sidecars when ``add_bloom_index`` built one (round
        11): a group survives only if at least one probe value has all
        k bits set.  Hashing runs on the driver (numpy,
        ``_bloom_probe_hashes`` — bit-exact with the JVM builder, by
        test), so the batched probe stays a ZERO-job metadata
        operation.  This is what makes point planning layout-proof: a
        table OPTIMIZE-clustered by a SEMANTIC key (so min/max id zone
        maps go wide) still answers "which groups hold these ids" from
        per-group membership — the Delta bloom-index composition at
        planner granularity."""
        import bisect

        vals = sorted({_stat_scalar(v) for v in values})

        def hit(mn, mx):
            i = bisect.bisect_left(vals, mn)
            return i < len(vals) and vals[i] <= mx

        upto, column, picked, total = self._zone_prune(column, version, hit)
        # bloom refinement: only attempted when every probe value is an
        # int and the schema proves the column's hashed width
        if picked and vals and all(
            isinstance(v, int) and not isinstance(v, bool) for v in vals
        ):
            width = self._bloom_int_width(column, upto)
            if width is not None:
                hashes = None  # (k, n) lanes, computed on first sidecar
                kept: list[str] = []
                for g in picked:
                    idx = self._bloom_sidecar(g, column)
                    if idx is None:
                        kept.append(g)
                        continue
                    if hashes is None or hashes.shape[0] < idx["k"]:
                        hashes = self._bloom_probe_hashes(
                            vals, idx["k"], width
                        )
                    pos = hashes[: idx["k"]] % idx["m"]  # pmod (m > 0)
                    bit = (idx["bits"][pos >> 3] >> (pos & 7)) & 1
                    if bool(bit.all(axis=0).any()):
                        kept.append(g)
                picked = kept
        return picked, total

    def column_range(
        self,
        column: str,
        version: int | None = None,
    ) -> tuple:
        """Global [min, max] of ``column`` from commit zone maps alone —
        no data files opened, at any table size.  Returns (None, None)
        when any live group lacks stats for the column (the answer
        cannot be proved from metadata); deletion vectors can only make
        the true range narrower, so the metadata answer is a correct
        conservative envelope for planners (e.g. deriving an id-domain
        to hash-sample entry points from)."""
        upto = self.latest_version() if version is None else version
        column = self._physical_map(upto).get(column, column)
        active, stats, _dvs = self._replay(upto)
        lo = hi = None
        for g in active:
            s = stats.get(g, {}).get(column)
            if s is None or s[0] is None or s[1] is None:
                return (None, None)
            lo = s[0] if lo is None else min(lo, s[0])
            hi = s[1] if hi is None else max(hi, s[1])
        return (lo, hi)

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change data feed: the rows ADDED by commits in
        ``(from_version, to_version]``, each tagged with
        ``_commit_version`` and ``_change_op`` — the incremental-read
        primitive consumers use instead of re-scanning the table
        (Delta CDF / Iceberg incremental scan).  Append commits
        contribute their rows as inserts; rewrite commits (overwrite /
        merge / optimize) contribute their REWRITTEN state under their
        op label — consumers that need row-level diffs of rewrites
        compare snapshots (store_diff is that operator).  Deletion-
        vector commits contribute the DELETED rows (the positions
        semi-joined back against the covered files) tagged
        ``_change_op='delete'`` — row-level CDF for deletes, exactly
        what Delta's DV-aware change feed emits."""
        from pyspark.sql import functions as F

        upto = self.latest_version() if to_version is None else to_version
        parts = []
        for v in self._versions():
            if v <= from_version or v > upto:
                continue
            c = self._read_commit(v)
            for g in c.get("add", []):
                parts.append(
                    # log-owned schema at v (not footer inference): the
                    # feed speaks each version's LOGICAL column names,
                    # so column mapping (rename/drop) holds in CDF too
                    self._scan(spark, [g], v)
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                    .withColumn("_change_op", F.lit(c.get("op", "append")))
                )
            if c.get("dv"):
                d = c["dv"]
                covered = self._scan(spark, d.get("covers", []), v)
                pos = spark.read.parquet(self._gpath(d["group"]))
                tagged = covered.select(
                    "*",
                    F.col("_metadata.file_path").alias("__fp"),
                    F.col("_metadata.row_index").alias("__ri"),
                )
                parts.append(
                    tagged.join(
                        pos,
                        (tagged["__fp"] == pos["file_path"])
                        & (tagged["__ri"] == pos["row_index"]),
                        "left_semi",
                    )
                    .drop("__fp", "__ri")
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                    .withColumn("_change_op", F.lit("delete"))
                )
        if not parts:
            raise ValueError(
                f"no commits in ({from_version}, {upto}] at {self.root}"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def read_pruned(
        self,
        spark: SparkSession,
        column: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping read: plan only the groups whose zone maps
        intersect ``[lo, hi]``, then apply the exact predicate inside
        the scan as a normal pushed filter (zone maps prune FILES,
        parquet row-group stats + the filter prune the rest).  On an
        empty survivor set returns an empty frame with the table
        schema — the predicate provably selects nothing."""
        from pyspark.sql import functions as F

        upto = self.latest_version() if version is None else version
        groups, _total = self.prune_groups(column, lo, hi, upto)
        df = self.read_groups(spark, groups, upto)
        if lo is not None:
            df = df.filter(F.col(column) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(column) <= F.lit(hi))
        return df

    def read_groups(
        self,
        spark: SparkSession,
        groups: list[str],
        version: int | None = None,
    ) -> DataFrame:
        """Scan an EXPLICIT group subset (a planner's output — e.g. the
        union of several ``prune_groups_point`` answers) with deletion
        vectors applied.  This is the multi-point composition primitive:
        plan each key once, scan the union once — instead of one
        ``read_point`` (which re-plans internally) per key.  Callers own
        the exactness filter, as with ``read_pruned``."""
        from pyspark.sql import functions as F

        upto = self.latest_version() if version is None else version
        if not groups:
            return self.read(spark, upto).filter(F.lit(False))
        df = self._scan(spark, list(groups), upto)
        return self._apply_dvs(spark, df, self._replay(upto)[2])
