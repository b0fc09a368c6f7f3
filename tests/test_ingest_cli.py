"""Ingest utilities (S1/P3/S5/S6/S14) and the CLI shell."""

from __future__ import annotations

import gzip
import os
import subprocess
import sys

import pytest

from db_migration_spark.sources import ingest


def _cli(*argv, expect_fail=False):
    """Drive the CLI entry IN-PROCESS against the session the suite
    already booted (cli.main → get_spark → getOrCreate).  Each former
    per-assertion subprocess paid a full JVM boot — ~25 boots ≈ 5 of
    the r10 suite's 31 minutes, which truncated the driver's pytest
    gate (r10 VERDICT task 2).  The subprocess surface itself (argv
    parsing, exit code, stderr step notifications) stays covered by
    test_cli_migrate_end_to_end.  Returns the last stdout JSON line;
    with ``expect_fail`` returns the SystemExit message instead."""
    import contextlib
    import io
    import json as _json

    from db_migration_spark import cli as CLI

    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            rc = CLI.main(list(argv))
    except SystemExit as e:
        assert expect_fail, f"cli {argv} failed: {e}"
        return str(e)
    assert rc == 0
    assert not expect_fail, f"cli {argv} unexpectedly succeeded"
    return _json.loads(out.getvalue().strip().splitlines()[-1])


def test_select_by_regex():
    names = [
        "all_classes_report.WS250.txt.gz",
        "all_classes_report.WS251.txt.gz",
        "notes.txt",
    ]
    out = ingest.select_by_regex(names, r"all_classes_report\.WS250\.txt\.gz$")
    assert out == ["all_classes_report.WS250.txt.gz"]


def test_scan_dir_sorted(tmp_path):
    for n in ["b.tar.gz", "a.tar.gz", "c.txt"]:
        (tmp_path / n).write_text("x")
    assert ingest.scan_dir(str(tmp_path), r".*\.tar\.gz$") == [
        "a.tar.gz",
        "b.tar.gz",
    ]


def test_glob_exactly_one(tmp_path):
    (tmp_path / "WS250.tar.xz").write_text("x")
    assert ingest.glob_exactly_one(str(tmp_path / "*.tar.xz")).endswith(
        "WS250.tar.xz"
    )
    (tmp_path / "WS251.tar.xz").write_text("x")
    with pytest.raises(ValueError, match="exactly one"):
        ingest.glob_exactly_one(str(tmp_path / "*.tar.xz"))


def test_gzip_roundtrip(tmp_path):
    f = tmp_path / "dump.ace"
    f.write_text("hello")
    [gz] = ingest.gzip_dir(str(tmp_path), "*.ace")
    assert gz.endswith(".gz") and not f.exists()
    out = ingest.gunzip_file(gz)
    assert out == str(f)
    assert f.read_text() == "hello"


def test_archive_roundtrip(tmp_path):
    src = tmp_path / "backup"
    src.mkdir()
    (src / "data.txt").write_text("payload")
    arch = ingest.make_archive(str(src), str(tmp_path / "backup.tar.xz"))
    dest = tmp_path / "restored"
    ingest.extract_archive(arch, str(dest))
    assert (dest / "backup" / "data.txt").read_text() == "payload"


def test_cli_migrate_end_to_end(tmp_path):
    dumps = tmp_path / "dumps"
    dumps.mkdir()
    (dumps / "d.ace").write_text(
        'Gene : "G1"\nIdentity "g-one" -O "2010-01-01_10:00:00"\n'
    )
    (tmp_path / "models").write_text("?Gene\n  Identity UNIQUE Text\n")
    with gzip.open(tmp_path / "catalog.txt.gz", "wt") as fp:
        fp.write("Gene 1\n")
    env = dict(os.environ, PYTHONPATH="/root/repo", SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable, "-m", "db_migration_spark.cli", "migrate",
            "--workspace", str(tmp_path / "ws"),
            "--dumps", str(dumps),
            "--models", str(tmp_path / "models"),
            "--catalog", str(tmp_path / "catalog.txt.gz"),
            "--release", "WS299",
        ],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert '"event": "ok"' in proc.stderr  # step notifications emitted
    assert (tmp_path / "ws" / "WS299" / "qa_report").exists()
    assert (tmp_path / "ws" / "WS299" / "manifest.json").exists()


def test_cli_corpus_prep(tmp_path):
    out = tmp_path / "out"
    stats = _cli(
        "corpus-prep",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", str(out),
        "--seq-len", "128",
    )
    assert stats["surviving_docs"] <= stats["gated_docs"] <= stats["input_docs"]
    assert stats["sequences"] > 0
    assert (out / "documents").is_dir()
    assert (out / "pack_manifest").is_dir()


def test_cli_distinct_rollup(tmp_path):
    """build writes a register rollup; estimate merges it to any dim
    subset and the global estimate lands within the HLL error bound of
    the true 15 distinct users in the sf0.001 events fixture (a
    cardinality this far below m is linear counting — near-exact)."""
    roll = tmp_path / "roll"

    def run(*argv):
        return _cli("distinct-rollup", *argv)

    built = run(
        "--action", "build",
        "--input", "/root/testdata/sf0.001/events.parquet",
        "--key", "user_id", "--dims", "event_type",
        "--output", str(roll),
    )
    assert 0 < built["rollup_rows"] <= 5 * 512
    per_type = run("--action", "estimate", "--input", str(roll),
                   "--dims", "event_type")
    assert len(per_type["rows"]) == 5
    total = run("--action", "estimate", "--input", str(roll))
    est = total["rows"][0]["est"]
    assert abs(est / 15 - 1.0) <= 0.14, est


def test_cli_theta_sketch_and_det_sample(tmp_path):
    """theta-sketch build/estimate/intersect/diff + det-sample, driven
    end-to-end (in-process CLI) against the sf0.001 orders fixture.
    The priority segments share ~85% of their customers, so the
    intersect estimate must land near the exact overlap (sketches are
    exact at this scale: n < k) and diff near the exact anti-count."""
    sk = tmp_path / "sk"
    samp = tmp_path / "samp"

    def run(cmd, *argv):
        return _cli(cmd, *argv)

    built = run(
        "theta-sketch", "--action", "build",
        "--input", "/root/testdata/sf0.001/orders.parquet",
        "--key", "o_custkey", "--dims", "o_orderpriority",
        "--output", str(sk),
    )
    assert 0 < built["sketch_rows"] <= 5 * 256
    est = run("theta-sketch", "--action", "estimate", "--input", str(sk),
              "--dims", "o_orderpriority")
    assert len(est["rows"]) == 5
    # n < k at sf0.001 -> estimates are exact distinct counts (~130)
    assert all(100 <= r["est"] <= 160 for r in est["rows"])
    inter = run(
        "theta-sketch", "--action", "intersect", "--input", str(sk),
        "--dims", "o_orderpriority",
        "--seg-a", "1-URGENT", "--seg-b", "2-HIGH",
    )
    diff = run(
        "theta-sketch", "--action", "diff", "--input", str(sk),
        "--dims", "o_orderpriority",
        "--seg-a", "1-URGENT", "--seg-b", "2-HIGH",
    )
    # exact at this scale: intersect + diff == |A|
    a_est = next(r["est"] for r in est["rows"]
                 if r["o_orderpriority"] == "1-URGENT")
    assert inter["estimate"] + diff["estimate"] == a_est
    assert inter["estimate"] > diff["estimate"] > 0

    s = run(
        "det-sample", "--input", "/root/testdata/sf0.001/orders.parquet",
        "--key", "o_orderkey", "--denom", "4", "--output", str(samp),
    )
    assert s["rows_in"] == 1500
    # 1/4 of 1500 ± 4σ
    assert abs(s["rows_out"] - 375) <= 4 * (1500 * 0.25 * 0.75) ** 0.5


def test_cli_quantile_rollup(tmp_path):
    """quantile-rollup build + estimate (in-process CLI) over the
    sf0.001 orders fixture; rollup must be bounded and the p50/p90
    estimates within the 6.25% contract of DuckDB's exact order
    statistics at the same ceil(q*n) rank."""
    import duckdb

    roll = tmp_path / "qroll"

    def run(*argv):
        return _cli("quantile-rollup", *argv)

    # build over a cents projection: write it first via duckdb
    src = tmp_path / "cents.parquet"
    duckdb.connect().execute(
        "COPY (SELECT o_orderpriority AS seg, "
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents "
        "FROM '/root/testdata/sf0.001/orders.parquet') "
        f"TO '{src}' (FORMAT PARQUET)"
    )
    built = run("--action", "build", "--input", str(src),
                "--key", "cents", "--dims", "seg", "--output", str(roll))
    assert 0 < built["rollup_rows"] <= 5 * 8 * 52
    est = run("--action", "estimate", "--input", str(roll),
              "--dims", "seg", "--quantiles", "0.5,0.9")
    assert len(est["rows"]) == 5
    exact = dict(
        duckdb.connect().execute(
            "SELECT seg, min(CASE WHEN rk >= ceiling(0.5 * n) THEN cents "
            "END) FROM (SELECT seg, cents, row_number() OVER ("
            "PARTITION BY seg ORDER BY cents) AS rk, count(*) OVER ("
            f"PARTITION BY seg) AS n FROM '{src}') GROUP BY seg"
        ).fetchall()
    )
    for r in est["rows"]:
        assert abs(r["p5"] / exact[r["seg"]] - 1.0) <= 0.0626, r


def test_cli_theta_sketch_k_is_persisted(tmp_path):
    """A sketch built with a small k must be estimated with THAT k:
    the build writes _sketch_meta.json, estimate reads it, and a
    conflicting explicit --k is rejected (a larger k would silently
    treat the truncated sketch as exact)."""
    sk = tmp_path / "sk"

    def run(*argv, expect_fail=False):
        return _cli("theta-sketch", *argv, expect_fail=expect_fail)

    run("--action", "build",
        "--input", "/root/testdata/sf0.001/orders.parquet",
        "--key", "o_custkey", "--k", "32", "--output", str(sk))
    assert (sk / "_sketch_meta.json").exists()
    # no --k on estimate: stored k=32 applies; ~130 distinct custkeys
    # per nothing-dim -> global sketch is TRUNCATED at 32, so the
    # estimate must scale up (NOT report the raw 32 rows as exact)
    est = run("--action", "estimate", "--input", str(sk))
    total = est["rows"][0]["est"]
    assert total > 32 * 2, total  # scaled estimate, not raw count
    import duckdb

    exact = duckdb.connect().execute(
        "SELECT count(DISTINCT o_custkey) FROM "
        "'/root/testdata/sf0.001/orders.parquet'"
    ).fetchone()[0]
    # k=32 -> RSE ~ 1/sqrt(31) ~ 18%; allow 4 sigma
    assert abs(total / exact - 1.0) <= 0.75, (total, exact)
    # conflicting explicit --k is an error, not a silent wrong answer
    err = run("--action", "estimate", "--input", str(sk),
              "--k", "256", expect_fail=True)
    assert "built with k=32" in err


def test_cli_lsh_store_build_probe_point(tmp_path):
    """lsh-store build/probe/point (in-process CLI): build the band
    index over the even half of sf0.001 documents, probe with the odd
    half (+ --append), then point-probe with a stored doc's exact text
    — the self-match must surface with est 1.0 through the bloom-pruned
    path, and the probe after --append must see the appended batch."""
    import duckdb

    store = tmp_path / "store"
    even = tmp_path / "even.parquet"
    odd = tmp_path / "odd.parquet"
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT doc_id, text FROM "
        "'/root/testdata/sf0.001/documents.parquet' WHERE doc_id % 2 = 0) "
        f"TO '{even}' (FORMAT PARQUET)"
    )
    con.execute(
        "COPY (SELECT doc_id, text FROM "
        "'/root/testdata/sf0.001/documents.parquet' WHERE doc_id % 2 = 1) "
        f"TO '{odd}' (FORMAT PARQUET)"
    )
    probe_text, probe_id = con.execute(
        "SELECT text, doc_id FROM "
        "'/root/testdata/sf0.001/documents.parquet' "
        "WHERE doc_id % 2 = 0 ORDER BY doc_id LIMIT 1"
    ).fetchone()[0:2]

    def run(*argv, expect_fail=False):
        return _cli("lsh-store", *argv, expect_fail=expect_fail)

    built = run("--action", "build", "--input", str(even),
                "--store", str(store))
    assert built["band_rows"] == built["docs"] * 8
    assert (store / "_lsh_meta.json").exists()

    # rebuilding onto a live store must refuse (stale-row stacking)
    err = run("--action", "build", "--input", str(even),
              "--store", str(store), expect_fail=True)
    assert "already holds" in err

    # point probe against the CLUSTERED store: each bucket plans <= 1
    # group by the disjoint zone ranges, so the bound is deterministic
    pt = run("--action", "point", "--store", str(store),
             "--input", str(store), "--text", probe_text)
    assert pt["cost_bounded"]
    assert any(
        m["store_id"] == probe_id and m["est_jaccard"] >= 0.999999
        for m in pt["matches"]
    )

    probed = run("--action", "probe", "--input", str(odd),
                 "--store", str(store), "--append")
    assert probed["appended"] and probed["n_batch"] > 0

    # the append is IDEMPOTENT (txn identity from the input path):
    # re-running it must not duplicate signatures or band rows — a
    # duplicated store would double every pair in the next probe
    probed2 = run("--action", "probe", "--input", str(odd),
                  "--store", str(store), "--append")
    # after the first append the store contains the odd batch itself, so
    # the re-probe finds each odd doc as its own exact pair; the count
    # must be stable across the duplicate append attempt
    probed3 = run("--action", "probe", "--input", str(odd),
                  "--store", str(store))
    assert probed3["n_pairs"] == probed2["n_pairs"]

    # conflicting banding params must be rejected (meta is authoritative)
    err = run("--action", "probe", "--input", str(odd),
              "--store", str(store), "--bands", "4", expect_fail=True)
    assert "bucket differently" in err


def test_cli_dsir_fit_select(tmp_path):
    stats_dir = tmp_path / "stats"
    fit = _cli(
        "dsir", "--action", "fit",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--target", "lang = 'en'",
        "--output", str(stats_dir),
    )
    assert 0 < fit["target_bigrams"] < fit["raw_bigrams"]
    assert fit["buckets"] <= 256

    sel = _cli(
        "dsir", "--action", "select",
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--stats", str(stats_dir),
        "--top", "10",
    )
    assert sel["n_selected"] == 10
    # deterministic top-k skews toward the target slice
    langs = [row["lang"] for row in sel["rows"]]
    assert langs.count("en") > len(langs) // 2
    # weights are sorted desc with doc_id tie-break
    ws = [row["w_micro"] for row in sel["rows"]]
    assert ws == sorted(ws, reverse=True)


def test_cli_ann_build_probe(tmp_path):
    emb = "/root/testdata/sf0.001/embeddings.parquet"

    def run(*argv):
        return _cli("ann", *argv)

    store = str(tmp_path / "ivfpq")
    built = run("--action", "build-ivfpq", "--input", emb, "--store", store)
    assert built["n_vectors"] == 500 and built["n_groups"] == 16

    probed = run(
        "--action", "probe-ivfpq", "--input", emb, "--store", store,
        "--query-ids", "0,1", "--k", "5",
    )
    planned, total = probed["groups_planned"]
    assert 0 < planned < total  # the probe physically skipped groups
    assert len(probed["results"]) == 10  # 2 queries x top-5
    by_q = {}
    for qid, rank, nid in probed["results"]:
        assert nid != qid  # self excluded
        by_q.setdefault(qid, []).append(rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())

    # Quantizer state is read FROM THE STORE (centroids.parquet +
    # params.json), not recomputed from the probe-time --input: probing
    # with a subset file holding only the query vectors must return the
    # same neighbors as probing with the full corpus input.
    import os

    assert os.path.exists(os.path.join(store, "centroids.parquet"))
    assert os.path.exists(os.path.join(store, "params.json"))
    import duckdb

    sub = str(tmp_path / "subset.parquet")
    duckdb.sql(
        f"copy (select * from '{emb}' where vec_id in (0, 1)) to '{sub}'"
    )
    probed_sub = run(
        "--action", "probe-ivfpq", "--input", sub, "--store", store,
        "--query-ids", "0,1", "--k", "5",
    )
    assert probed_sub["results"] == probed["results"]
    # a --lists conflicting with the store's params is a hard error
    err = _cli(
        "ann", "--action", "probe-ivfpq", "--input", emb,
        "--store", store, "--query-ids", "0", "--k", "5",
        "--lists", "32", expect_fail=True,
    )
    assert "does not match the store" in err

    gstore = str(tmp_path / "graph")
    gbuilt = run("--action", "build-graph", "--input", emb, "--store", gstore)
    assert gbuilt["edges"] > 0 and gbuilt["n_groups"] == 8
    gprobe = run(
        "--action", "probe-graph", "--input", emb, "--store", gstore,
        "--query-ids", "0", "--k", "5",
    )
    scanned, scannable = gprobe["groups_planned"]
    assert 0 < scanned < scannable  # per-hop frontier pruning fired
    assert [r[1] for r in gprobe["results"]] == [1, 2, 3, 4, 5]


def test_cli_ann_probe_graph_serves_from_store_vectors(tmp_path):
    """``probe-graph`` walks and scores the vectors persisted in the
    graph store: a probe whose --input holds only the query vectors
    returns what the full-corpus input returns, and a store without
    vectors/ is refused with a pointed error."""
    import os
    import shutil

    import duckdb

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    store = str(tmp_path / "graph")
    _cli("ann", "--action", "build-graph", "--input", emb, "--store", store)
    sub = str(tmp_path / "queries.parquet")
    duckdb.sql(
        f"copy (select * from '{emb}' where vec_id in (0, 1)) to '{sub}'"
    )

    def probe(inp):
        return _cli(
            "ann", "--action", "probe-graph", "--input", inp,
            "--store", store, "--query-ids", "0,1", "--k", "5",
        )

    full = probe(emb)
    assert len(full["results"]) == 10  # 2 queries x top-5
    assert probe(sub) == full
    shutil.rmtree(os.path.join(store, "vectors"))
    err = _cli(
        "ann", "--action", "probe-graph", "--input", emb, "--store", store,
        "--query-ids", "0", "--k", "5", expect_fail=True,
    )
    assert "rebuild" in err


def test_cli_ann_and_fixture_build_the_same_ivfpq_store(
    spark, sf_dir, tmp_path
):
    """``ann build-ivfpq`` and the declared store fixture run ONE build:
    over the same embeddings they persist identical codebooks,
    centroids and (list_id, vec_id, codes) rows."""
    import os

    from db_migration_spark.plans.txlog import TxTable
    from db_migration_spark.queries_annstore import _ensure_ivfpq_store

    cli_root = str(tmp_path / "ivfpq")
    _cli(
        "ann", "--action", "build-ivfpq",
        "--input", f"{sf_dir}/embeddings.parquet", "--store", cli_root,
    )
    fx_root = _ensure_ivfpq_store(spark, sf_dir)
    for name in ("codebooks.parquet", "centroids.parquet"):
        a = spark.read.parquet(os.path.join(cli_root, name))
        b = spark.read.parquet(os.path.join(fx_root, name))
        assert a.count() > 0
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    a = TxTable(os.path.join(cli_root, "codes")).read(spark)
    b = TxTable(os.path.join(fx_root, "codes")).read(spark)
    assert a.count() == 500
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cli_ann_repair_graph(spark, tmp_path):
    """The repair-graph action: runs the compaction-analog full-graph
    NN-descent round over a stream-MV store root (vectors/ + knn/) and
    commits only changed edges; a one-shot build-graph store (no MV
    layout) is refused with a pointed error."""
    import json
    import os

    from pyspark.sql import functions as F

    from db_migration_spark.queries_annstore import descent_mv_refresh

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    root = str(tmp_path / "mv")
    os.makedirs(root)
    vec_root = os.path.join(root, "vectors")
    knn_root = os.path.join(root, "knn")
    stats = os.path.join(root, "maintenance_stats.jsonl")
    for i, pred in enumerate(
        [F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1]
    ):
        descent_mv_refresh(
            spark, vec_root, knn_root, stats, emb.filter(pred), i
        )

    def run(*argv, expect_fail=False):
        return _cli("ann", *argv, expect_fail=expect_fail)

    out = run("--action", "repair-graph", "--store", root)
    assert out["repaired"] is True and out["edges"] > 0
    repair_rows = [
        json.loads(line) for line in open(stats) if '"repair"' in line
    ]
    assert len(repair_rows) == 1
    # refusal on a non-MV layout
    err = run(
        "--action", "repair-graph", "--store", str(tmp_path / "nope"),
        expect_fail=True,
    )
    assert "stream-MV store root" in err


def test_cpu_default_is_host_sized_when_unset():
    """Without SPARK_GRAFT_CPUS the local core count — local[N], the
    shuffle partitions and the table spread — is the cores this process
    may run on, defined once in session.py."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo_root
    proc = subprocess.run(
        [
            sys.executable, "-c",
            "import os; from db_migration_spark import catalog, session; "
            "print(session.DEFAULT_CPUS, catalog.DEFAULT_CPUS, "
            "len(os.sched_getaffinity(0)))",
        ],
        capture_output=True, text=True, timeout=120, env=env, cwd=repo_root,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    session_cpus, catalog_cpus, host_cpus = proc.stdout.split()
    assert session_cpus == catalog_cpus == host_cpus
