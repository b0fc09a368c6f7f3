"""End-to-end MigrationJob: dumps+models+catalog → store, QA report,
homology split, snapshot — with resume semantics."""

from __future__ import annotations

import gzip
from pathlib import Path

import pytest

from db_migration_spark.migrate import MigrationJob

DUMP = '''Gene : "G1"
Identity "g-one" -O "2010-01-01_10:00:00"
Score "3.5" -O "2010-01-01_10:00:01"

Gene : "G2"
Identity "g-two" -O "2010-01-02_10:00:00"

Protein : "P1"
Peptide "MSD" -O "2010-01-03_10:00:00"

Homology_group : "H1"
Member "G1" -O "2010-01-04_10:00:00"
'''

PATCH = '''Gene : "G1"
Identity "g-one-renamed" -O "2011-01-01_10:00:00"
'''

MODELS = """?Gene
  Identity UNIQUE Text
  Score Float
?Protein
  Peptide UNIQUE Text
?Homology_group
  Member Text
"""


def _write_release(root, dump=DUMP, patch=PATCH, models=MODELS,
                   catalog="Gene 2\nProtein 1\nHomology_group 1\nVariation 5\n"):
    (root / "dumps").mkdir()
    with gzip.open(root / "dumps" / "dump1.ace.gz", "wt") as fp:
        fp.write(dump)
    (root / "patches").mkdir()
    (root / "patches" / "p1.ace").write_text(patch)
    (root / "models.wrm.WS299").write_text(models)
    with gzip.open(root / "catalog.txt.gz", "wt") as fp:
        fp.write(catalog)


def _job(spark, root, workspace=None, patches=True):
    return MigrationJob(
        spark,
        workspace=str(workspace or root / "ws"),
        dumps_path=str(root / "dumps"),
        models_path=str(root / "models.wrm.WS299"),
        catalog_path=str(root / "catalog.txt.gz"),
        patches_path=str(root / "patches") if patches else None,
        release="WS299",
        homol_classes=["Homology_group"],
    )


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("migration")
    _write_release(root)
    j = _job(spark, root)
    j.run()
    return j


@pytest.fixture(scope="module")
def job_without_patches(spark, job):
    """The fixture release migrated again with no patch dump."""
    j = _job(spark, Path(job.dumps_path).parent, patches=False,
             workspace=Path(job.ws).parent / "ws-no-patches")
    j.run()
    return j


def test_store_is_typed_and_tx_sorted(spark, job, tmp_path):
    """The typed store, and the T1 contract where the release runs it:
    in each ``class=`` directory of ``datoms/`` every file is tx-sorted
    (NULLs first, as Spark orders them) and the files' tx ranges are
    disjoint — checked on a release whose Gene class spans several
    files."""
    import pyarrow.parquet as pq

    store = spark.read.parquet(job._path("datoms_patched"))
    rows = store.collect()
    assert len(rows) == 5
    score = [r for r in rows if r["a"] == "Gene/Score"][0]
    assert score["v_double"] == 3.5

    dump = "".join(
        f'Gene : "G{i}"\n'
        f'Identity "g-{i}" -O "2010-{1 + i % 12:02d}-{1 + i % 28:02d}_10:00:{i:02d}"\n\n'
        for i in range(60)
    ) + 'Gene : "G-untimed"\nIdentity "g-untimed"\n\nProtein : "P1"\nPeptide "MSD"\n'
    _write_release(tmp_path, dump=dump, catalog="Gene 61\nProtein 1\n")
    j = _job(spark, tmp_path)
    # every range partition its own file: AQE would coalesce a store
    # this small into one partition, leaving no range to check
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        j.install_schema()
        out = Path(j.dump_to_datoms())
    finally:
        spark.conf.set(coalesce, prev)

    def tx_key(t):
        return (t is not None, t)

    n_files = {}
    for cls_dir in sorted(out.glob("class=*")):
        ranges = []
        for f in sorted(cls_dir.glob("part-*.parquet")):
            txs = [tx_key(t) for t in pq.read_table(str(f)).column("tx").to_pylist()]
            if not txs:
                continue
            assert txs == sorted(txs), f
            ranges.append((txs[0], txs[-1]))
        ranges.sort()
        for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, cls_dir
        n_files[cls_dir.name] = len(ranges)
    assert set(n_files) == {"class=Gene", "class=Protein"}
    assert n_files["class=Gene"] >= 2, n_files
    assert j._read_store("datoms").filter("tx IS NULL").count() == 2


def test_patch_won(spark, job):
    store = spark.read.parquet(job._path("datoms_patched"))
    idents = {
        r["v"] for r in store.collect() if r["a"] == "Gene/Identity"
    }
    assert "g-one-renamed" in idents and "g-one" not in idents


def test_qa_report_diff(spark, job):
    report = spark.read.option("header", True).csv(job._path("qa_report"))
    by_class = {r["class_name"]: r for r in report.collect()}
    assert by_class["Gene"]["matches"] == "true"
    assert by_class["Protein"]["matches"] == "true"
    # Variation expected 5, found 0 → flagged
    assert by_class["Variation"]["actual_count"] == "0"
    assert by_class["Variation"]["matches"] == "false"
    # one file in the report's one order: desc count, ties by class name
    lines = [
        ln.split(",")[0].strip('"')
        for f in sorted(Path(job._path("qa_report")).glob("*.csv"))
        for ln in f.read_text().splitlines()[1:]
    ]
    assert lines == ["Gene", "Homology_group", "Protein", "Variation"]


def test_homology_store(spark, job):
    homol = spark.read.parquet(job._path("homol"))
    assert {r["class"] for r in homol.collect()} == {"Homology_group"}
    # a file-level copy of the store's class partition, rows unchanged
    assert {p.name for p in Path(job._path("homol")).glob("class=*")} == {
        "class=Homology_group"
    }
    want = job._read_store("datoms_patched").filter("class = 'Homology_group'")
    assert sorted(job._read_store("homol").collect()) == sorted(want.collect())


def test_backup_and_resume(spark, job):
    backup = spark.read.parquet(job._path("backup"))
    assert backup.count() == 5
    # manifest says all 7 steps done; re-running is a no-op (cursor at end)
    p = job.pipeline()
    state = p._load()
    assert state["last_step_ok"] == 7
    assert p.run() == []  # nothing re-executed


def _assert_class_pruned(spark, store_path):
    import contextlib, io
    from pyspark.sql import functions as F

    store = spark.read.parquet(store_path)
    pruned = store.filter(F.col("class") == "Gene")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    # hive-partitioned by class → the filter lands in PartitionFilters,
    # not a post-scan Filter: only Gene directories are read
    assert "PartitionFilters" in plan
    assert "class" in plan.split("PartitionFilters", 1)[1][:200]
    assert pruned.count() == 3


def test_patched_datoms_are_typed(spark, tmp_path):
    """A patched Float value lands typed like a dumped one: the patches
    go through the same typed parse (X3) as the dumps."""
    patch = PATCH + 'Score "4.25" -O "2011-01-01_10:00:01"\n'
    _write_release(tmp_path, patch=patch)
    j = _job(spark, tmp_path)
    j.run()
    for store in ("datoms_patched", "backup"):
        scores = {
            r["v"]: r["v_double"]
            for r in j._read_store(store).collect()
            if r["a"] == "Gene/Score"
        }
        # Score is card-many: the patch value joins the dumped one
        assert scores == {"3.5": 3.5, "4.25": 4.25}, store


def test_store_partition_pruning(spark, job):
    _assert_class_pruned(spark, job._path("datoms_patched"))


def test_store_partition_pruning_without_patches(spark, job_without_patches):
    """With no patch dump, datoms_patched is the class-partitioned
    datoms store as is — never a flat rewrite that loses pruning."""
    store = job_without_patches._path("datoms_patched")
    assert {p.name for p in Path(store).glob("class=*")} == {
        "class=Gene", "class=Protein", "class=Homology_group"
    }
    _assert_class_pruned(spark, store)
    idents = {
        r["v"]
        for r in job_without_patches._read_store("datoms_patched").collect()
        if r["a"] == "Gene/Identity"
    }
    assert idents == {"g-one", "g-two"}


def test_materialize_wide(spark, job, tmp_path):
    from db_migration_spark.migrate import materialize_wide

    out = materialize_wide(
        spark,
        job._path("datoms_patched"),
        job._path("schema"),
        str(tmp_path / "wide"),
    )
    assert set(out) == {"Gene", "Protein", "Homology_group"}
    gene = spark.read.parquet(out["Gene"])
    rows = {r["e"]: r for r in gene.collect()}
    assert len(rows) == 2
    idents = {r["Gene/Identity"] for r in rows.values()}
    assert idents == {"g-one-renamed", "g-two"}
    homol = spark.read.parquet(out["Homology_group"]).collect()
    assert homol[0]["Homology_group/Member"] == ["G1"]  # card-many array


def test_empty_dump_release_migrates(spark, tmp_path):
    """A release whose dumps hold zero objects: the partitioned writes
    leave no part files, and every later step still runs — the store
    is empty, every catalog class is a QA mismatch, the backup is
    empty."""
    _write_release(
        tmp_path, dump="", patch="", models="?Gene\n  Identity UNIQUE Text\n",
        catalog="Gene 2\nVariation 5\n",
    )
    j = _job(spark, tmp_path)
    j.run()
    assert j._read_store("datoms_patched").count() == 0
    assert j._read_store("homol").count() == 0
    report = spark.read.option("header", True).csv(j._path("qa_report"))
    rows = {r["class_name"]: r for r in report.collect()}
    assert set(rows) == {"Gene", "Variation"}
    assert all(r["actual_count"] == "0" for r in rows.values())
    assert all(r["matches"] == "false" for r in rows.values())
    assert j._read_store("backup").count() == 0


def _run_per_step(spark, j) -> dict:
    """Run ``j`` with one Spark job group per pipeline step.  Per step:
    the jobs it launched, the jobs among them outside any SQL execution
    (a parquet footer-inference job is one), and the rows the .ace
    parser (the MapInPandas node) produced across its executions."""
    sc = spark.sparkContext
    groups = {}

    def on_step(phase, _n, step):
        if phase == "start":
            group = f"budget-{id(j)}/{step.description}"
            groups[step.description] = group
            sc.setJobGroup(group, group)

    p = j.pipeline()
    p.add_listener(on_step)
    try:
        p.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    exec_of = {}
    for i in range(execs.length()):
        e = execs.apply(i)
        ids = e.jobs().keysIterator()
        while ids.hasNext():
            exec_of[int(ids.next())] = e.executionId()

    def parsed_rows(eid) -> int:
        nodes, values = sql.planGraph(eid).allNodes(), sql.executionMetrics(eid)
        n = 0
        for k in range(nodes.length()):
            node = nodes.apply(k)
            if node.name() != "MapInPandas":
                continue
            ms = node.metrics()
            for m in range(ms.length()):
                v = values.get(ms.apply(m).accumulatorId())
                if ms.apply(m).name() == "number of output rows" and v.isDefined():
                    n += int(v.get().replace(",", ""))
        return n

    out = {}
    for step, group in groups.items():
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        out[step] = {
            "jobs": len(jobs),
            "outside_sql": sum(jid not in exec_of for jid in jobs),
            "parsed": sum(
                parsed_rows(eid) for eid in {exec_of[j] for j in jobs if j in exec_of}
            ),
        }
    return out


def test_release_job_budget(spark, job, tmp_path):
    """The fixture release's Spark jobs, step by step: each dump record
    is parsed once, no step infers a store schema, the schema table,
    the homology store and the backup take no Spark job (a driver write
    and two file snapshots), the QA report is one aggregate query, and
    the release stays within 9 jobs."""
    j = _job(spark, Path(job.dumps_path).parent, workspace=tmp_path / "ws")
    steps = _run_per_step(spark, j)
    assert steps["install-schema"]["jobs"] == 0
    assert steps["dump-to-datoms"]["jobs"] == 4
    assert steps["merge-patches"]["jobs"] == 2
    assert steps["homol-split"]["jobs"] == 0
    assert steps["qa-report"]["jobs"] <= 3
    assert steps["backup"]["jobs"] == 0
    assert {s: v["outside_sql"] for s, v in steps.items() if v["outside_sql"]} == {}
    # 5 dump records + 1 patch record, each through the parser once
    assert steps["dump-to-datoms"]["parsed"] == 5
    assert steps["merge-patches"]["parsed"] == 1
    assert sum(v["parsed"] for v in steps.values()) == 6
    assert sum(v["jobs"] for v in steps.values()) <= 9, steps
    backup = sorted(j._read_store("backup").collect())
    assert len(backup) == 5
    assert backup == sorted(j._read_store("datoms_patched").collect())


def test_resumed_job_reads_the_installed_schema(spark, job, tmp_path):
    """A fresh job resuming after install-schema and dump-to-datoms
    takes the schema from the installed table — a driver read that
    launches no Spark job — and rebuilds the same store."""
    from db_migration_spark.sources.catalog_files import models_schema_rows

    inputs = Path(job.dumps_path).parent
    _job(spark, inputs, workspace=tmp_path / "ws").run()
    resumed = _job(spark, inputs, workspace=tmp_path / "ws")
    sc = spark.sparkContext
    group = f"schema-read-{id(resumed)}"
    sc.setJobGroup(group, group)
    try:
        schema = resumed._schema_rows()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert schema == models_schema_rows(resumed.models_path, "WS299")
    before = sorted(resumed._read_store("datoms_patched").collect())
    pipeline = resumed.pipeline()
    pipeline.reset_to_step(4)  # merge-patches onward
    assert set(pipeline.run()) == {
        "merge-patches", "homol-split", "qa-report", "backup"
    }
    assert sorted(resumed._read_store("datoms_patched").collect()) == before
    assert sorted(resumed._read_store("backup").collect()) == before
