"""Full-pipeline e2e: replicate the reference's test strategy
(/root/reference/tests/test_load.py:60-141 — three config variants,
edges > 0) but with stronger golden assertions (FIXTURES.md §3)."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from logdag_spark import fixtures as fx
from logdag_spark.config import PipelineConfig
from logdag_spark.fixtures.generator import DEFAULT_T0
from logdag_spark.io.catalog import Catalog
from logdag_spark.pipeline.runner import run_pipeline

DT_RANGE = (DEFAULT_T0, DEFAULT_T0 + timedelta(hours=24))


@pytest.fixture(scope="module")
def inputs(spark):
    labeled = fx.gen_tokens(spark, scale=0.5).cache()
    return labeled, fx.host_meta(spark), fx.template_dim(spark)


def _recovery(spark, edges, evdim, scale):
    e = (
        edges.join(
            evdim.select("unit", F.col("eid").alias("src_eid"),
                         F.col("host").alias("sh"), F.col("key").alias("sk")),
            ["unit", "src_eid"],
        ).join(
            evdim.select("unit", F.col("eid").alias("dst_eid"),
                         F.col("host").alias("dh"), F.col("key").alias("dk")),
            ["unit", "dst_eid"],
        ).where(F.col("sh") == F.col("dh"))
    )
    found = {
        (r["sh"], min(int(r["sk"]), int(r["dk"])), max(int(r["sk"]), int(r["dk"])))
        for r in e.collect()
    }
    gt = {
        (r["host"], r["gid_cause"], r["gid_effect"])
        for r in fx.ground_truth_edges(spark, scale).collect()
    }
    return len(gt & found) / len(gt)


def test_pc_corr_flagship(spark, inputs):
    """pc-corr mode, no filters, 5m bins: injected pairs recovered."""
    labeled, hmeta, tdim = inputs
    cfg = PipelineConfig(cause_algorithm="pc-corr", ci_bin_size="5m")
    # inject unparseable rows, one sharing a token length with real
    # templates (lengths 5-12) — both must route to the 'unparsed' sink,
    # not vanish (round-1 silent-drop regression)
    ms0 = int(DEFAULT_T0.timestamp() * 1000)
    junk = spark.createDataFrame(
        [
            (f"{ms0 + 1000:013d}-host00-90000001", [1, 2, 3], 3, "log"),
            (f"{ms0 + 2000:013d}-host00-90000002", [1, 2, 3, 4, 5], 5, "log"),
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    corpus = fx.contract(labeled).unionByName(junk)
    res = run_pipeline(
        spark, corpus, hmeta, tdim, DT_RANGE, cfg, apply_filters=False
    )
    assert res.edges.count() > 0
    assert _recovery(spark, res.edges, res.evdim, 0.5) >= 0.8
    # per-sink counts reconcile with the input row count (routed-row parity)
    sinks = {r["measure"]: r["n_rows"] for r in res.sink_counts().collect()}
    assert sum(sinks.values()) == labeled.count() + 2
    assert sinks.get("unparsed", 0) == 2


def test_pc_kernel_e2e(spark, inputs):
    """Full PC (fisherz, stable, depth cap 1) with filters on."""
    labeled, hmeta, tdim = inputs
    cfg = PipelineConfig(
        cause_algorithm="pc", ci_func="fisherz", ci_bin_size="5m",
        skeleton_depth=1,
    )
    res = run_pipeline(spark, fx.contract(labeled), hmeta, tdim, DT_RANGE, cfg)
    edges = res.edges.cache()
    assert edges.count() > 0
    assert _recovery(spark, edges, res.evdim, 0.5) >= 0.5
    # filtered periodic events must not appear among DAG nodes
    periodic_ids = {16, 18}  # log-source strict-periodic gids (17 is snmp)
    node_keys = {int(r["key"]) for r in res.evdim.select("key").distinct().collect()}
    assert not (node_keys & periodic_ids)


def test_pc_gsq_e2e(spark, inputs):
    """gsq CI test on binarized matrix (reference default ci_func)."""
    labeled, hmeta, tdim = inputs
    cfg = PipelineConfig(
        cause_algorithm="pc", ci_func="gsq", ci_bin_size="5m", skeleton_depth=1,
    )
    res = run_pipeline(
        spark, fx.contract(labeled), hmeta, tdim, DT_RANGE, cfg, apply_filters=False
    )
    assert res.edges.count() > 0


def test_pc_corr_fisherz_binarized_e2e(spark, inputs):
    """pc-corr with fisherz on binarized series runs the sparse
    pair-statistics path.  Against the dense depth-0 PC kernel on the
    pipeline's own unit matrix its skeleton and weights are the same,
    series constant after binarization (independent of everything on both
    paths) included."""
    from logdag_spark.pipeline.correlate import unit_nbins_rows, unit_specs
    from logdag_spark.pipeline.pc import pc_edges

    labeled, hmeta, tdim = inputs
    cfg = PipelineConfig(
        cause_algorithm="pc-corr", ci_func="fisherz", ci_bin_size="5m",
        binarize=True,
    )
    res = run_pipeline(
        spark, fx.contract(labeled), hmeta, tdim, DT_RANGE, cfg, apply_filters=False
    )
    specs = unit_specs(DT_RANGE, cfg, fx.host_rows())
    nmap = dict(unit_nbins_rows(specs, cfg.bin_size))
    meta = {u: (dts, nmap[u]) for u, _h, _a, dts, _dte in specs}
    dense = pc_edges(
        res.matrix, meta, cfg.bin_size, ci_func="fisherz",
        alpha=cfg.skeleton_threshold, max_depth=0, binarize=True,
    )

    def skeleton(df):
        return {
            (r["unit"], min(r["src_eid"], r["dst_eid"]),
             max(r["src_eid"], r["dst_eid"])): r["weight"]
            for r in df.collect()
        }

    got, want = skeleton(res.edges), skeleton(dense)
    assert set(got) == set(want) and len(got) > 0
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_lingam_corr_e2e(spark, inputs):
    """lingam-corr mode (reference makedag.py:124-130): pairwise LiNGAM
    edges come out directed with OLS-slope weights."""
    labeled, hmeta, tdim = inputs
    cfg = PipelineConfig(cause_algorithm="lingam-corr", ci_bin_size="5m")
    res = run_pipeline(
        spark, fx.contract(labeled), hmeta, tdim, DT_RANGE, cfg, apply_filters=False
    )
    rows = res.edges.collect()
    assert rows
    assert all(r["directed"] for r in rows)
    assert all(abs(r["weight"]) >= 0.05 for r in rows)


def test_prior_knowledge_wired(spark, inputs):
    """pk_rules prune the edge space in BOTH pc-corr and pc paths
    (reference applies prior knowledge unconditionally before every
    algorithm, /root/reference/logdag/makedag.py:44-45)."""
    labeled, hmeta, tdim = inputs
    topo = spark.createDataFrame(
        [(f"host{i:02d}", f"host{i+1:02d}") for i in range(0, 8, 2)],
        "host1 string, host2 string",
    )
    ctx = {"topology": topo}
    adj = {(r["host1"], r["host2"]) for r in topo.collect()}
    adj |= {(b, a) for a, b in adj}

    def _violations(res):
        e = (
            res.edges.join(
                res.evdim.select("unit", F.col("eid").alias("src_eid"),
                                 F.col("host").alias("sh")), ["unit", "src_eid"],
            ).join(
                res.evdim.select("unit", F.col("eid").alias("dst_eid"),
                                 F.col("host").alias("dh")), ["unit", "dst_eid"],
            ).where(F.col("sh") != F.col("dh"))
        )
        return [
            (r["sh"], r["dh"]) for r in e.collect() if (r["sh"], r["dh"]) not in adj
        ]

    for algo in ("pc-corr", "pc"):
        cfg_off = PipelineConfig(cause_algorithm=algo, ci_bin_size="5m",
                                 skeleton_depth=1)
        cfg_on = PipelineConfig(cause_algorithm=algo, ci_bin_size="5m",
                                skeleton_depth=1, pk_rules=("topology",))
        res_off = run_pipeline(spark, fx.contract(labeled), hmeta, tdim,
                               DT_RANGE, cfg_off, apply_filters=False)
        res_on = run_pipeline(spark, fx.contract(labeled), hmeta, tdim,
                              DT_RANGE, cfg_on, apply_filters=False,
                              pk_context=ctx)
        n_off, n_on = res_off.edges.count(), res_on.edges.count()
        assert _violations(res_on) == [], f"{algo}: forbidden edges survived"
        assert n_on <= n_off and n_on > 0
        # the unrestricted run must actually contain forbidden pairs,
        # otherwise this test proves nothing
        assert len(_violations(res_off)) > 0, f"{algo}: vacuous fixture"


def test_unknown_pk_rule_raises(spark, inputs):
    labeled, hmeta, tdim = inputs
    cfg = PipelineConfig(cause_algorithm="pc-corr", ci_bin_size="5m",
                         pk_rules=("bogus",))
    with pytest.raises(ValueError, match="unknown prior-knowledge rule"):
        run_pipeline(spark, fx.contract(labeled), hmeta, tdim, DT_RANGE, cfg,
                     apply_filters=False)


@pytest.mark.parametrize(
    "field", ["cause_algorithm", "ci_func", "ci_bin_method"]
)
def test_config_rejects_unknown_choice(field):
    """An out-of-set choice fails when the config is built, not inside a
    Python worker once the lazy plan runs."""
    with pytest.raises(ValueError, match=field):
        PipelineConfig(**{field: "bogus"})


@pytest.mark.parametrize(
    "kw",
    [
        {"ci_bin_size": "abc"},
        {"ci_bin_size": "0s"},
        {"ci_bin_size": "10.0005s"},
        {"fourier_sample_rule": (("24h", "0s"),)},
    ],
    ids=["unparsed", "zero", "sub-ms", "zero-fourier-bin"],
)
def test_config_rejects_bad_duration(kw):
    """A duration that does not parse, is not a whole number of
    milliseconds, or is 0 where a bin size is needed fails when the config
    is built, not as a truncated bin or a failed plan later."""
    (field,) = kw
    with pytest.raises(ValueError, match=field):
        PipelineConfig(**kw)


def test_checkpoint_resume(spark, inputs, tmp_path):
    labeled, hmeta, tdim = inputs
    cfg = PipelineConfig(cause_algorithm="pc-corr", ci_bin_size="5m")
    cat = Catalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(
        spark, fx.contract(labeled), hmeta, tdim, DT_RANGE, cfg,
        catalog=cat, apply_filters=False,
    )
    n_edges = res.edges.count()
    assert cat.exists("dag_edges") and cat.exists("events_ts")
    # resume: re-read without recompute
    assert cat.read("dag_edges").count() == n_edges
    metrics = {r["stage"]: r["rows"] for r in cat.stage_metrics().collect()}
    assert metrics["events_ts"] == labeled.count()
    assert metrics["dag_edges"] == n_edges
    # per-partition lineage (north rule): the partitioned events_ts
    # checkpoint records footer-derived rows per (measure, day) dir that
    # reconcile with the stage total, with no extra Spark job
    pm = cat.partition_metrics().where(F.col("table") == "events_ts").collect()
    assert pm and all(r["partition"].startswith("measure=") for r in pm)
    assert sum(r["rows"] for r in pm) == labeled.count()
    assert all(r["bytes"] > 0 and r["files"] >= 1 for r in pm)


def test_catalog_iceberg_backend_selection(spark, tmp_path):
    """Requesting the Iceberg backend without its runtime must fail
    LOUDLY (a silent parquet fallback would leave a cluster operator
    believing they have snapshot isolation they don't); the default
    parquet backend stays selected otherwise."""
    from logdag_spark.io.catalog import Catalog, _iceberg_available

    if _iceberg_available(spark):
        # cluster image with the runtime jars: the branch is live
        cat = Catalog(spark, str(tmp_path / "wh"), iceberg_catalog="local")
        assert cat.use_iceberg
    else:
        with pytest.raises(RuntimeError, match="Iceberg runtime"):
            Catalog(spark, str(tmp_path / "wh"), iceberg_catalog="local")
        assert not Catalog(spark, str(tmp_path / "wh")).use_iceberg


def test_catalog_partial_write_not_resumable(spark, tmp_path):
    """A directory with part-files but no commit marker must be treated
    as absent (crashed write) — read_or_run rewrites it (ADVICE r1)."""
    import os

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(10).withColumnRenamed("id", "v")
    out = cat.write(df, "t1")
    assert cat.exists("t1") and out.count() == 10
    # simulate a crash: remove both commit markers, keep part files
    for marker in ("_SUCCESS", "_LOGDAG_COMMITTED"):
        p = os.path.join(cat.path("t1"), marker)
        if os.path.exists(p):
            os.remove(p)
    assert not cat.exists("t1")
    ran = []
    cat.read_or_run("t1", lambda: (ran.append(1), df.where("v < 5"))[1])
    assert ran == [1]  # stage re-ran instead of resuming from partial data
    assert cat.exists("t1") and cat.read("t1").count() == 5


def test_snmp_feature_pipeline(spark, inputs):
    """Mixed log+snmp run with the SNMP feature stage configured: raw
    snmp_feature samples are replaced by hostsum-derived feature
    measures before filtering (reference make-evdb writes features, not
    raw samples — evgen_snmp.py:421-447)."""
    labeled, hmeta, tdim = inputs
    cfg = PipelineConfig(
        cause_algorithm="pc-corr", ci_bin_size="5m",
        snmp_vsources=(("snmp_sum", "snmp_feature"),),
        snmp_features=(
            {"name": "snmp_activity", "source": "snmp_sum",
             "func_list": ["fillzero"]},
        ),
        snmp_bin_size="1m",
    )
    res = run_pipeline(spark, fx.contract(labeled), hmeta, tdim, DT_RANGE,
                       cfg, apply_filters=True)
    measures = {
        r["measure"]
        for r in res.binned.select("measure").distinct().collect()
    }
    assert "snmp_activity" in measures and "snmp_feature" not in measures
    assert "log_feature" in measures  # log branch untouched
    assert res.edges.count() > 0
    # feature events carry the vsource key "all"
    keys = {
        r["key"]
        for r in res.binned.where(F.col("measure") == "snmp_activity")
        .select("key").distinct().collect()
    }
    assert keys == {"all"}


def test_additional_source_rule_prunes_snmp_pairs(spark, inputs):
    """Review regression: SNMP-derived feature series (key='all', no
    template gid) must coalesce to source='snmp' in the prior-knowledge
    dim, so the additional-source rule actually forbids snmp-snmp
    edges on mixed runs."""
    labeled, hmeta, tdim = inputs
    base = dict(
        cause_algorithm="pc-corr", ci_bin_size="5m",
        snmp_vsources=(("snmp_sum", "snmp_feature"),),
        snmp_features=(
            {"name": "snmp_activity", "source": "snmp_sum",
             "func_list": ["fillzero"]},
        ),
        snmp_bin_size="1m",
    )
    res = run_pipeline(
        spark, fx.contract(labeled), hmeta, tdim, DT_RANGE,
        PipelineConfig(**base, pk_rules=("additional-source",)),
        apply_filters=True,
    )
    snmp_keys = {
        (r["unit"], r["eid"])
        for r in res.evdim.where(F.col("key") == "all").collect()
    }
    both_snmp = [
        r
        for r in res.edges.collect()
        if (r["unit"], r["src_eid"]) in snmp_keys
        and (r["unit"], r["dst_eid"]) in snmp_keys
    ]
    assert both_snmp == [], f"snmp-snmp edges survived: {both_snmp}"
    assert res.edges.count() > 0  # log side still produces edges
