"""CLI dispatch smoke tests (reference __main__.py command surface).

The CLI builds its own session via get_spark(); under test that
getOrCreate()-returns the session fixture, so ``stop`` is neutered for
the duration (stopping it would kill every later test in the session).
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def cli_run(monkeypatch, spark):
    from logdag_spark import cli

    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    def run(*argv: str) -> int:
        return cli.main(list(argv))

    return run


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("cli_wh"))


def test_make_dag_then_threshold_stats_and_relabel(cli_run, spark, warehouse):
    # build a tiny warehouse once (make-dag checkpoints evdb + edges)
    assert cli_run("make-dag", "--scale", "0.02", "--warehouse", warehouse) == 0

    # show-stats-by-threshold (reference __main__.py:289-297)
    assert cli_run("show-stats-by-threshold", "--warehouse", warehouse) == 0

    # update-event-label (reference __main__.py:87-110): rewrites the
    # event dim's group tags from the template gid->group mapping and
    # persists the result
    assert cli_run("update-event-label", "--warehouse", warehouse) == 0
    from logdag_spark.io.catalog import Catalog

    evdim = Catalog(spark, warehouse).read("event_dim")
    assert "group" in evdim.columns
    from logdag_spark import fixtures as fx
    from pyspark.sql import functions as F

    known = {
        r["group"]
        for r in fx.template_dim(spark).select("group").distinct().collect()
    }
    got = {
        r["group"]
        for r in evdim.where(F.col("group").isNotNull())
        .select("group").distinct().collect()
    }
    assert got and got <= known | {"snmp"}


def test_plot_dag_and_trouble_crud(cli_run, spark, warehouse, tmp_path, capsys):
    """plot-dag writes DOT sources; add-trouble/add-lids/list-trouble
    round-trip the ticket store (reference eval/__main__.py:20-60).
    Runs after the make-dag test built the module warehouse."""
    import os

    assert cli_run("plot-dag", "--warehouse", warehouse,
                   "--out", str(tmp_path / "dot")) == 0
    dots = sorted((tmp_path / "dot").glob("*.dot"))
    assert dots
    text = dots[0].read_text()
    assert text.startswith("digraph") and "->" in text

    # plot-node-ts exports the selected nodes' binned series as CSV
    assert cli_run("plot-node-ts", "--warehouse", warehouse,
                   "--node-ids", "0", "1",
                   "--out", str(tmp_path / "ts_csv")) == 0
    import glob as _glob

    csvs = _glob.glob(str(tmp_path / "ts_csv" / "*.csv"))
    assert csvs
    header = open(csvs[0]).readline().strip().split(",")
    assert {"unit", "eid", "bin", "cnt"} <= set(header)

    tdir = str(tmp_path / "troubles")
    assert cli_run("add-trouble", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--date", "20240101",
                   "--group", "network", "--title", "link flap") == 0
    tid = capsys.readouterr().out.strip().splitlines()[-1]
    assert tid == "0"
    assert cli_run("add-lids", "--warehouse", warehouse, "--trouble-path",
                   tdir, "--tid", "0", "--identifiers", "e1", "e2") == 0
    assert cli_run("label-trouble", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--tid", "0",
                   "--group", "system") == 0
    import json as _json

    assert _json.load(open(f"{tdir}/0000.json"))["group"] == "system"
    assert cli_run("list-trouble", "--warehouse", warehouse,
                   "--trouble-path", tdir) == 0
    from logdag_spark.operators.dagio import list_troubles, load_trouble_tickets

    listed = {r["tid"]: r["n_identifiers"] for r in list_troubles(spark, tdir).collect()}
    assert listed == {"0000": 2}
    # the store written by the CRUD surface is readable by the S10 loader
    loaded = {(r["tid"], r["identifier"]) for r in load_trouble_tickets(spark, tdir).collect()}
    assert loaded == {("0000", "e1"), ("0000", "e2")}
    assert os.path.exists(os.path.join(tdir, "0000.json"))


def test_ann_topk_with_query_file(cli_run, spark, sf001_dir, tmp_path):
    emb = f"{sf001_dir}/embeddings.parquet"
    qpath = str(tmp_path / "queries.parquet")
    spark.read.parquet(emb).limit(5).write.parquet(qpath)
    assert cli_run(
        "ann-topk", "--input", emb, "--queries", qpath,
        "--method", "brute", "--k", "3",
    ) == 0


def test_pca_embeddings_command(cli_run, spark, sf001_dir, tmp_path):
    emb = f"{sf001_dir}/embeddings.parquet"
    out = str(tmp_path / "pca.parquet")
    assert cli_run("pca-embeddings", "--input", emb, "--k", "8",
                   "--out", out) == 0
    got = spark.read.parquet(out)
    assert set(got.columns) == {"vec_id", "proj"}
    assert got.count() == spark.read.parquet(emb).count()
    assert len(got.first()["proj"]) == 8


def test_external_queries_keep_id_colliding_neighbors(spark, sf001_dir):
    """An external query file's ids are unrelated to corpus ids: a
    collision must NOT drop that corpus vector from the neighbor set
    (exclude_self=False), while the corpus-subset demo still drops its
    true self-match."""
    from pyspark.sql import functions as F

    from logdag_spark.operators import similarity

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") == 3)  # pretend it's an external file
    with_self = similarity.brute_force_topk(emb, q, k=5, exclude_self=False)
    neighbors = {r["neighbor_id"] for r in with_self.collect()}
    # the identical vector is its own best neighbor at cosine 1.0
    assert 3 in neighbors
    top1 = with_self.where(F.col("rank") == 1).first()
    assert top1["neighbor_id"] == 3 and abs(top1["score"] - 1.0) < 1e-9
    without = {
        r["neighbor_id"]
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    assert 3 not in without


def test_show_command_surface(cli_run, warehouse, capsys):
    """The read-only show-* commands against the module warehouse
    (reference __main__.py:124-360).  Runs after the make-dag test
    built the warehouse; each command is a dispatch smoke plus a
    content spot-check on stdout."""
    assert cli_run("show-list", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "n_nodes" in out and "n_edges" in out

    assert cli_run("show-node-list", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "identifier" in out

    assert cli_run("dump-events", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "eid" in out and "total" in out

    assert cli_run("show-group-stats", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "nodes" in out and "edges" in out and "logs" in out

    assert cli_run("show-subgraphs", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "component" in out and "src_eid" in out

    assert cli_run("show-netsize", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "n_components" in out

    assert cli_run("show-netsize-list", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "size" in out

    assert cli_run("show-node-ts", "--warehouse", warehouse,
                   "--node-ids", "0") == 0
    out = capsys.readouterr().out
    assert out.startswith("unit,eid,bin,cnt")
    assert len(out.strip().splitlines()) > 1


def test_config_commands_no_session(cli_run, capsys):
    """show-full-config / show-default-config print the dataclass without
    launching a session (pure file-side dispatch)."""
    assert cli_run("show-default-config") == 0
    out = capsys.readouterr().out
    assert "ci_bin_size = '1m'" in out
    assert cli_run("show-full-config", "--bin-size", "5m",
                   "--algorithm", "lingam") == 0
    out = capsys.readouterr().out
    assert "ci_bin_size = '5m'" in out and "cause_algorithm = 'lingam'" in out


def test_bin_size_is_checked_before_a_session_starts(monkeypatch, capsys):
    """--bin-size runs PipelineConfig's duration check as its argparse
    type, so a bad value exits 2 without launching a JVM."""
    from logdag_spark import cli

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(cli, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        cli.main(["show-full-config", "--bin-size", "0s"])
    assert exc.value.code == 2
    assert "--bin-size" in capsys.readouterr().err


def test_args_and_edge_search_commands(cli_run, warehouse, capsys, monkeypatch):
    """make-args / show-args round-trip the per-unit argument table
    (reference __main__.py:511-513,141-150); show-edge applies the
    node=/gid=/host= condition grammar (:153-185); make-dag-stdin
    restricts the run to the units named on stdin (:517-519)."""
    import io

    assert cli_run("make-args", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "units" in out

    assert cli_run("show-args", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "n_hosts" in out and "all_20240101" in out

    # condition grammar: host substring + node membership
    assert cli_run("show-edge", "--warehouse", warehouse,
                   "--conditions", "host=host00") == 0
    out = capsys.readouterr().out
    assert "host00" in out
    assert cli_run("show-edge", "--warehouse", warehouse,
                   "--conditions", "node=0") == 0
    capsys.readouterr()
    # show-edge-list is the filter-free listing (alias surface)
    assert cli_run("show-edge-list", "--warehouse", warehouse) == 0
    capsys.readouterr()

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli_run("show-edge", "--warehouse", warehouse)  # no conditions
    capsys.readouterr()

    monkeypatch.setattr("sys.stdin", io.StringIO("all_20240101\n"))
    assert cli_run("make-dag-stdin", "--scale", "0.02",
                   "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "all_20240101" in out

    monkeypatch.setattr("sys.stdin", io.StringIO("bogus_unit\n"))
    with _pytest.raises(ValueError, match="unknown unit"):
        cli_run("make-dag-stdin", "--scale", "0.02",
                "--warehouse", warehouse)


def test_eval_trouble_surface(cli_run, spark, warehouse, tmp_path, capsys,
                              monkeypatch):
    """The eval-side ticket commands (reference eval/__main__.py:436-494):
    file-side listing/search plus the Spark-side show-trouble /
    show-match family over the module warehouse."""
    import io

    tdir = str(tmp_path / "troubles")
    assert cli_run("add-trouble", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--date", "20240101",
                   "--group", "network", "--title", "flap") == 0
    capsys.readouterr()
    # identifiers that exist in the tiny warehouse's event dim
    monkeypatch.setattr("sys.stdin", io.StringIO("host00:0\nhost00:1\n"))
    assert cli_run("add-lids-stdin", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--tid", "0") == 0
    capsys.readouterr()

    assert cli_run("show-lids", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--tid", "0") == 0
    out = capsys.readouterr().out
    assert out.splitlines() == ["host00:0", "host00:1"]

    assert cli_run("list-group", "--warehouse", warehouse,
                   "--trouble-path", tdir) == 0
    assert "network\t1" in capsys.readouterr().out

    assert cli_run("list-trouble-stat", "--warehouse", warehouse,
                   "--trouble-path", tdir) == 0
    assert "0000\tnetwork\t2" in capsys.readouterr().out

    assert cli_run("search-trouble", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--identifiers", "host00") == 0
    assert "0000" in capsys.readouterr().out
    assert cli_run("search-trouble", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--identifiers", "nohost") == 0
    assert "0000" not in capsys.readouterr().out

    assert cli_run("show-trouble", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--tid", "0") == 0
    out = capsys.readouterr().out
    assert "host00" in out and "0000" in out

    for cmd in ("show-match-all", "show-match-info"):
        assert cli_run(cmd, "--warehouse", warehouse,
                       "--trouble-path", tdir, "--rule", "all") == 0
        capsys.readouterr()
    assert cli_run("show-match", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--tid", "0",
                   "--rule", "both") == 0
    capsys.readouterr()


def test_visual_analytics_surface(cli_run, warehouse, capsys):
    """The visual-analytics commands (reference visual/__main__.py:21-172):
    gid search, tfidf edge ranking, temporal sort, anomaly score, DAG
    similarity and clustering — all over the module warehouse."""
    assert cli_run("search-gid", "--warehouse", warehouse, "--gid", "0") == 0
    out = capsys.readouterr().out
    assert "src_id" in out

    assert cli_run("show-major-edges", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "tfidf" in out and "pair_key" in out

    assert cli_run("show-minor-edges", "--warehouse", warehouse,
                   "--edge-score", "count", "--count", "5") == 0
    out = capsys.readouterr().out
    assert "pair_key" in out

    assert cli_run("show-dag-anomaly-score", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "score" in out

    assert cli_run("show-edges-temporal-sort", "--warehouse", warehouse,
                   "--timestr", "20240101_060000") == 0
    out = capsys.readouterr().out
    assert "score" in out

    assert cli_run("search-similar-dag", "--warehouse", warehouse,
                   "--unit", "all_20240101") == 0
    out = capsys.readouterr().out
    assert "cosine" in out

    assert cli_run("show-clusters", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "cluster" in out

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli_run("search-gid", "--warehouse", warehouse)  # missing --gid
    capsys.readouterr()
    with _pytest.raises(SystemExit):
        cli_run("show-edges-temporal-sort", "--warehouse", warehouse)
    capsys.readouterr()


def test_graph_comparison_surface(cli_run, warehouse, tmp_path, capsys):
    """The two-DAG-set comparison commands (reference
    visual/__main__.py:218-394): a second warehouse built at a coarser
    CI bin plays the second config file."""
    wh2 = str(tmp_path / "wh2")
    assert cli_run("make-dag", "--scale", "0.02", "--bin-size", "5m",
                   "--warehouse", wh2) == 0
    capsys.readouterr()

    assert cli_run("show-diff-info", "--warehouse", warehouse,
                   "--warehouse2", wh2) == 0
    out = capsys.readouterr().out
    assert "Logical OR edges:" in out and "Common edges:" in out

    assert cli_run("show-diff-edges", "--warehouse", warehouse,
                   "--warehouse2", wh2) == 0
    out = capsys.readouterr().out
    assert "pair_key" in out

    assert cli_run("show-graph-common-edges", "--warehouse", warehouse,
                   "--warehouse2", wh2) == 0
    out = capsys.readouterr().out
    assert "common edge num:" in out

    assert cli_run("show-graph-lor-edges", "--warehouse", warehouse,
                   "--warehouse2", wh2) == 0
    out = capsys.readouterr().out
    assert "logical disjunction edge num:" in out

    assert cli_run("show-graph-diff-direction", "--warehouse", warehouse,
                   "--warehouse2", wh2) == 0
    out = capsys.readouterr().out
    assert "pair_key" in out and out.strip().splitlines()[-1].isdigit()

    assert cli_run("show-graph-diff-lts", "--warehouse", warehouse,
                   "--warehouse2", wh2) == 0
    out = capsys.readouterr().out
    assert "gid" in out

    assert cli_run("show-graph-diff-search", "--warehouse", warehouse,
                   "--warehouse2", wh2, "--gid", "0") == 0
    capsys.readouterr()

    dot_dir = str(tmp_path / "dot_common")
    assert cli_run("draw-graph-common", "--warehouse", warehouse,
                   "--warehouse2", wh2, "--out", dot_dir) == 0
    capsys.readouterr()
    import glob as _glob

    dots = _glob.glob(f"{dot_dir}/*.dot")
    assert dots and open(dots[0]).read().startswith("digraph")

    assert cli_run("draw-graph-diff", "--warehouse", warehouse,
                   "--warehouse2", wh2,
                   "--out", str(tmp_path / "dot_diff")) == 0
    capsys.readouterr()

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli_run("show-diff-info", "--warehouse", warehouse)  # no --warehouse2
    capsys.readouterr()


def test_eval_info_commands_and_reload_area(cli_run, warehouse, tmp_path,
                                            capsys):
    """list-trouble-label / show-trouble-info / show-match-diff
    (reference eval/__main__.py:117-167,242-288) + reload-area
    (reference __main__.py:30-33)."""
    tdir = str(tmp_path / "troubles")
    assert cli_run("add-trouble", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--date", "20240101",
                   "--group", "network", "--title", "flap") == 0
    capsys.readouterr()
    assert cli_run("add-lids", "--warehouse", warehouse, "--trouble-path",
                   tdir, "--tid", "0",
                   "--identifiers", "host00:0", "host00:1") == 0
    capsys.readouterr()

    assert cli_run("list-trouble-label", "--warehouse", warehouse,
                   "--trouble-path", tdir) == 0
    out = capsys.readouterr().out
    assert "ev_group" in out and "n_templates" in out and "0000" in out

    assert cli_run("show-trouble-info", "--warehouse", warehouse,
                   "--trouble-path", tdir, "--tid", "0") == 0
    out = capsys.readouterr().out
    assert "related events" in out and "related hosts" in out
    assert "host00" in out and "group" in out

    wh2 = str(tmp_path / "wh2_match")
    assert cli_run("make-dag", "--scale", "0.02", "--bin-size", "5m",
                   "--warehouse", wh2) == 0
    capsys.readouterr()
    assert cli_run("show-match-diff", "--warehouse", warehouse,
                   "--warehouse2", wh2, "--trouble-path", tdir,
                   "--rule", "all") == 0
    out = capsys.readouterr().out
    assert "tid" in out

    assert cli_run("reload-area", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "units" in out

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli_run("show-trouble-info", "--warehouse", warehouse,
                "--trouble-path", tdir)  # missing --tid
    capsys.readouterr()


def test_snmp_stats_and_drop_features_last(cli_run, spark, warehouse, capsys):
    """show-snmp-stats lists non-log measures (reference
    source/__main__.py:199-201); drop-features removes the derived
    stage checkpoints but keeps the raw events_ts (:202-205).  Runs
    LAST in this module: it destroys the shared warehouse's derived
    tables."""
    assert cli_run("show-snmp-stats", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "measure" in out  # header prints even with zero snmp measures

    from logdag_spark.io.catalog import Catalog

    cat = Catalog(spark, warehouse)
    assert cat.exists("dag_edges") and cat.exists("events_ts")
    assert cli_run("drop-features", "--warehouse", warehouse) == 0
    out = capsys.readouterr().out
    assert "dag_edges: dropped" in out
    assert not cat.exists("dag_edges") and not cat.exists("unit_matrix")
    assert cat.exists("events_ts")  # original data survives
    # idempotent: a second drop reports absent and exits cleanly
    assert cli_run("drop-features", "--warehouse", warehouse) == 0
    assert "dag_edges: absent" in capsys.readouterr().out


def test_curate_docs_commands(cli_run, spark, sf001_dir, tmp_path):
    """curate-docs drives all four curation methods; decontaminate
    requires --benchmark and loudly rejects typo'd methods."""
    docs = f"{sf001_dir}/documents.parquet"
    emb = f"{sf001_dir}/embeddings.parquet"
    bench = str(tmp_path / "bench.parquet")
    spark.read.parquet(docs).limit(3).write.parquet(bench)

    out = str(tmp_path / "decon.parquet")
    assert cli_run("curate-docs", "--input", docs, "--method", "decontaminate",
                   "--benchmark", bench, "--out", out) == 0
    got = spark.read.parquet(out)
    assert {"n_hits", "contaminated"} <= set(got.columns)
    assert got.count() == spark.read.parquet(docs).count()

    assert cli_run("curate-docs", "--input", docs, "--method", "repetition") == 0
    assert cli_run("curate-docs", "--input", docs, "--method", "redact") == 0
    assert cli_run("curate-docs", "--input", emb, "--method", "semantic",
                   "--threshold", "0.3") == 0

    spans = str(tmp_path / "spans.parquet")
    assert cli_run("curate-docs", "--input", docs, "--method", "dedup-spans",
                   "--out", spans) == 0
    got = spark.read.parquet(spans)
    assert {"n_tok", "n_removed", "cleaned"} <= set(got.columns)
    assert got.count() == spark.read.parquet(docs).count()

    goph = str(tmp_path / "gopher.parquet")
    assert cli_run("curate-docs", "--input", docs, "--method", "gopher",
                   "--out", goph) == 0
    got = spark.read.parquet(goph)
    assert {"n_words", "mean_word_len", "stop_hits", "keep"} <= set(got.columns)
    assert got.count() == spark.read.parquet(docs).count()

    canon = str(tmp_path / "canon.parquet")
    assert cli_run("curate-docs", "--input", docs, "--method", "dedup-canonical",
                   "--threshold", "0.2", "--out", canon) == 0
    got = spark.read.parquet(canon)
    assert {"doc_id", "group_id", "keep"} == set(got.columns)
    assert got.count() == spark.read.parquet(docs).count()

    with pytest.raises(SystemExit):
        cli_run("curate-docs", "--input", docs, "--method", "nope")
    with pytest.raises(SystemExit):
        cli_run("curate-docs", "--input", docs, "--method", "decontaminate")


def test_mix_docs_command(cli_run, spark, sf001_dir, tmp_path):
    """mix-docs assembles a token-budgeted weighted mix; malformed
    weights and missing args fail loudly."""
    docs = f"{sf001_dir}/documents.parquet"
    out = str(tmp_path / "mix.parquet")
    assert cli_run("mix-docs", "--input", docs, "--budget", "2000",
                   "--weights", "src0=3,src1=1", "--out", out) == 0
    got = spark.read.parquet(out)
    assert {"epoch_rank", "tokens_before", "budget", "keep"} <= set(got.columns)
    kept = got.where("keep").groupBy("source").count().collect()
    assert {r["source"] for r in kept} == {"src0", "src1"}
    with pytest.raises(SystemExit):
        cli_run("mix-docs", "--input", docs, "--budget", "10")
    with pytest.raises(SystemExit):
        cli_run("mix-docs", "--input", docs, "--budget", "10",
                "--weights", "oops")


def test_sample_docs_rejects_a_rate_outside_0_1(cli_run, sf001_dir):
    docs = f"{sf001_dir}/documents.parquet"
    assert cli_run("sample-docs", "--input", docs, "--method", "sample",
                   "--rate", "0.5") == 0
    with pytest.raises(SystemExit):
        cli_run("sample-docs", "--input", docs, "--method", "sample", "--rate", "5")


def test_chunk_and_budget_docs_commands(cli_run, spark, sf001_dir, tmp_path):
    docs = f"{sf001_dir}/documents.parquet"
    out = str(tmp_path / "chunks.parquet")
    assert cli_run("chunk-docs", "--input", docs, "--capacity", "40",
                   "--overlap", "8", "--out", out) == 0
    got = spark.read.parquet(out)
    assert {"chunk_id", "chunk_text", "chunk_n_tok"} <= set(got.columns)
    assert got.count() >= spark.read.parquet(docs).where("n_chars > 0").count()

    assert cli_run("budget-docs", "--input", docs, "--budget", "500") == 0
    with pytest.raises(SystemExit):
        cli_run("budget-docs", "--input", docs)


def test_doc_command_checkpoint_table(cli_run, spark, sf001_dir, tmp_path):
    """--checkpoint-table routes a document command's result through the
    Catalog: manifest-gated table + lineage record, readable back."""
    wh = str(tmp_path / "doc_wh")
    docs = f"{sf001_dir}/documents.parquet"
    assert cli_run("curate-docs", "--input", docs, "--method", "repetition",
                   "--warehouse", wh, "--checkpoint-table", "doc_quality") == 0
    from logdag_spark.io.catalog import Catalog

    cat = Catalog(spark, wh)
    got = cat.read("doc_quality")
    assert {"dup_token_frac", "keep"} <= set(got.columns)
    assert got.count() == spark.read.parquet(docs).count()
    stages = {r["stage"] for r in cat.lineage().select("stage").collect()}
    assert "curate-docs" in stages
