"""DAG query surface — everything downstream of ``dag_edges`` +
``event_dim`` is plain DataFrame/SQL (SURVEY.md §3.3).

Covers: composable graph filters (P8, /root/reference/logdag/
showdag_filter.py:3-122), edge search predicates (P7, showdag.py:664-683),
edge dedup (G9, showdag.py:479-488), DAG/run set comparisons (U1-U4,
/root/reference/logdag/visual/comparison.py:44-204), node/edge stats
(A9-A10, showdag.py:551-600), TF-IDF edge ranking (A11,
/root/reference/logdag/visual/edge_search.py:207-532), connected
components + netsize distribution (G8/A12, showdag.py:716-760), DAG
similarity (G10, edge_search.py:18-160), anomaly score (G11,
edge_search.py:605-620), and trouble-ticket matching (J8,
/root/reference/logdag/eval/match_edge.py:30-94).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logdag_spark.config import to_utc_ms


# --------------------------------------------------------------- enriching


def edges_with_nodes(edges: DataFrame, evdim: DataFrame) -> DataFrame:
    """Join both endpoints' event definitions onto the edge rows."""
    src = evdim.select(
        "unit",
        F.col("eid").alias("src_eid"),
        F.col("identifier").alias("src_id"),
        F.col("host").alias("src_host"),
        F.col("key").alias("src_key"),
    )
    dst = evdim.select(
        "unit",
        F.col("eid").alias("dst_eid"),
        F.col("identifier").alias("dst_id"),
        F.col("host").alias("dst_host"),
        F.col("key").alias("dst_key"),
    )
    return edges.join(src, ["unit", "src_eid"]).join(dst, ["unit", "dst_eid"])


def edge_pair_key(edges: DataFrame) -> DataFrame:
    """Normalized undirected pair key (least, greatest) — G9 dedup."""
    return edges.withColumn(
        "pair_key",
        F.concat_ws(
            "->",
            F.least("src_id", "dst_id"),
            F.greatest("src_id", "dst_id"),
        ),
    )


# ------------------------------------------------------------- P8 filters


def f_directed(edges: DataFrame) -> DataFrame:
    return edges.where(F.col("directed"))


def f_undirected(edges: DataFrame) -> DataFrame:
    return edges.where(~F.col("directed"))


def f_across_host(e: DataFrame) -> DataFrame:
    """across_host (showdag_filter.py): endpoints on different hosts."""
    return e.where(F.col("src_host") != F.col("dst_host"))


def f_within_host(e: DataFrame) -> DataFrame:
    return e.where(F.col("src_host") == F.col("dst_host"))


def f_no_isolated_nodes(edges: DataFrame, evdim: DataFrame) -> DataFrame:
    """Nodes that touch at least one edge (inverse of no_isolated)."""
    touched = (
        edges.select("unit", F.col("src_eid").alias("eid"))
        .unionByName(edges.select("unit", F.col("dst_eid").alias("eid")))
        .distinct()
    )
    return evdim.join(touched, ["unit", "eid"], "left_semi")


def f_ate_prune(edges: DataFrame, th: float) -> DataFrame:
    """ate_prune: drop edges with |weight| below threshold."""
    return edges.where(F.abs(F.col("weight")) >= th)


def f_to_undirected(edges: DataFrame) -> DataFrame:
    """to_undirected (showdag_filter.py:22-23): every edge becomes
    undirected; reciprocal pairs collapse to one row (canonical
    src_eid < dst_eid, max |weight| wins)."""
    lo, hi = F.least("src_eid", "dst_eid"), F.greatest("src_eid", "dst_eid")
    return (
        edges.select(
            "unit", lo.alias("src_eid"), hi.alias("dst_eid"), F.col("weight")
        )
        .groupBy("unit", "src_eid", "dst_eid")
        .agg(F.max(F.abs("weight")).alias("weight"))
        .withColumn("directed", F.lit(False))
        .select("unit", "src_eid", "dst_eid", "directed", "weight")
    )


def f_subgraph_with_source(
    edges: DataFrame, evdim: DataFrame, components: DataFrame, source: str
) -> DataFrame:
    """subgraph_with_log / subgraph_with_snmp (showdag_filter.py:74-105):
    keep connected components containing at least one edge with an
    endpoint of the given source class.  ``evdim`` needs a ``source``
    column; ``components`` is :func:`connected_components` output
    (unit, eid, component)."""
    src_of = evdim.select("unit", "eid", "source")
    ends = (
        edges.select("unit", F.col("src_eid").alias("eid"))
        .unionByName(edges.select("unit", F.col("dst_eid").alias("eid")))
    )
    hit_comps = (
        ends.join(src_of, ["unit", "eid"])
        .where(F.col("source") == source)
        .join(components, ["unit", "eid"])
        .select("unit", "component")
        .distinct()
    )
    edge_comp = edges.join(
        components.select(
            "unit", F.col("eid").alias("src_eid"), "component"
        ),
        ["unit", "src_eid"],
    )
    return edge_comp.join(
        F.broadcast(hit_comps), ["unit", "component"], "left_semi"
    ).drop("component")


def f_edge_search(
    e: DataFrame,
    gid: str | None = None,
    host_substr: str | None = None,
) -> DataFrame:
    """P7 edge search conditions (showdag.py:664-683)."""
    out = e
    if gid is not None:
        out = out.where((F.col("src_key") == gid) | (F.col("dst_key") == gid))
    if host_substr is not None:
        out = out.where(
            F.col("src_host").contains(host_substr)
            | F.col("dst_host").contains(host_substr)
        )
    return out


# ---------------------------------------------------------- U1-U4 set ops


def edges_common(e1: DataFrame, e2: DataFrame) -> DataFrame:
    """U1: edges present in both runs (undirected identifier-pair key)."""
    k1 = edge_pair_key(e1).select("unit", "pair_key")
    k2 = edge_pair_key(e2).select("unit", "pair_key")
    return k1.intersect(k2)


def edges_lor(e1: DataFrame, e2: DataFrame) -> DataFrame:
    """U2: edges in either run."""
    k1 = edge_pair_key(e1).select("unit", "pair_key")
    k2 = edge_pair_key(e2).select("unit", "pair_key")
    return k1.union(k2).distinct()


def edges_diff(e1: DataFrame, e2: DataFrame) -> DataFrame:
    """U3: in e1 but not e2."""
    k1 = edge_pair_key(e1).select("unit", "pair_key").distinct()
    k2 = edge_pair_key(e2).select("unit", "pair_key")
    return k1.join(k2, ["unit", "pair_key"], "left_anti")


def direction_diff(e1: DataFrame, e2: DataFrame) -> DataFrame:
    """U4: common pairs whose orientation differs across runs
    (comparison.py:164-204)."""
    def keyed(e, tag):
        return edge_pair_key(e).select(
            "unit",
            "pair_key",
            F.col("directed").alias(f"directed_{tag}"),
            F.col("src_id").alias(f"src_{tag}"),
        )
    j = keyed(e1, "1").join(keyed(e2, "2"), ["unit", "pair_key"])
    return j.where(
        (F.col("directed_1") != F.col("directed_2"))
        | (F.col("directed_1") & F.col("directed_2") & (F.col("src_1") != F.col("src_2")))
    )


# ------------------------------------------------------------- A9-A12 stat


def dag_stats(edges: DataFrame, evdim: DataFrame) -> DataFrame:
    """Per-unit node/edge counts with directed/undirected splits and
    across-host counts (show-stats, /root/reference/logdag/__main__.py:253-286)."""
    e = edges_with_nodes(edges, evdim)
    per_edge = e.groupBy("unit").agg(
        F.count("*").alias("n_edges"),
        F.sum(F.col("directed").cast("long")).alias("n_directed"),
        F.sum((~F.col("directed")).cast("long")).alias("n_undirected"),
        F.sum((F.col("src_host") != F.col("dst_host")).cast("long")).alias(
            "n_across_host"
        ),
    )
    nodes = evdim.groupBy("unit").agg(F.count("*").alias("n_nodes"))
    return nodes.join(per_edge, "unit", "left").na.fill(0)


def group_stats(edges: DataFrame, evdim: DataFrame, group_col: str = "group") -> DataFrame:
    """A10: edge counts per template group (__main__.py:300-323)."""
    if group_col not in evdim.columns:
        raise ValueError(f"evdim lacks {group_col}")
    src = evdim.select("unit", F.col("eid").alias("src_eid"), F.col(group_col).alias("g"))
    return (
        edges.join(src, ["unit", "src_eid"])
        .groupBy("g")
        .agg(F.count("*").alias("n_edges"))
        .withColumnRenamed("g", group_col)
    )


def edge_tfidf(edges: DataFrame, evdim: DataFrame) -> DataFrame:
    """A11 TF-IDF over edge pair keys across units
    (edge_search.py:207-532; smoothed idf :513-521):
    tf = count(pair in unit)/n_edges(unit), df = #units containing pair,
    idf = log((N+1)/(df+1)) + 1."""
    keyed = edge_pair_key(edges_with_nodes(edges, evdim))
    n_units = keyed.select("unit").distinct().count()
    per_unit = keyed.groupBy("unit").agg(F.count("*").alias("unit_edges"))
    tf = (
        keyed.groupBy("unit", "pair_key")
        .agg(F.count("*").alias("cnt"))
        .join(per_unit, "unit")
        .withColumn("tf", F.col("cnt") / F.col("unit_edges"))
    )
    df_ = keyed.groupBy("pair_key").agg(
        F.countDistinct("unit").alias("df")
    )
    return (
        tf.join(df_, "pair_key")
        .withColumn("idf", F.log((n_units + 1) / (F.col("df") + 1)) + 1)
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .select("unit", "pair_key", "cnt", "tf", "df", "idf", "tfidf")
    )


def anomaly_score(tfidf: DataFrame) -> DataFrame:
    """G11: per-unit sum of edge scores (edge_search.py:605-620)."""
    return tfidf.groupBy("unit").agg(F.sum("tfidf").alias("score"))


# ----------------------------------------------------- G8/A12 components


def connected_components(edges: DataFrame, evdim: DataFrame, max_iter: int = 20) -> DataFrame:
    """Per-unit connected components by iterative label propagation
    (small-diameter DAGs converge in a few rounds; at true graph scale
    swap in a GraphFrames-style alternating algorithm).
    Output: (unit, eid, component) where component = min eid reachable.

    Raises if the propagation has not converged after ``max_iter``
    rounds: min-label propagation moves one hop per round, so a
    component whose diameter exceeds the budget would otherwise be
    SILENTLY split into several pieces, each reporting its own
    "component" id — for the dedup-group consumer that means duplicate
    canonical documents with no warning.  Raise loudly, tell the caller
    to raise max_iter (or switch algorithms)."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = (
        edges.select("unit", F.col("src_eid").alias("a"), F.col("dst_eid").alias("b"))
        .unionByName(
            edges.select("unit", F.col("dst_eid").alias("a"), F.col("src_eid").alias("b"))
        )
        .distinct()
    )
    labels = evdim.select("unit", F.col("eid"), F.col("eid").alias("component"))
    for _ in range(max_iter):
        prop = (
            sym.join(
                labels.select("unit", F.col("eid").alias("b"), F.col("component").alias("nc")),
                ["unit", "b"],
            )
            .groupBy("unit", F.col("a").alias("eid"))
            .agg(F.min("nc").alias("min_nbr"))
        )
        new_labels = (
            labels.join(prop, ["unit", "eid"], "left")
            .withColumn("new_c", F.least("component", F.coalesce("min_nbr", "component")))
            .select("unit", "eid", F.col("new_c").alias("component"))
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), ["unit", "eid"])
            .where(F.col("component") != F.col("old"))
            .count()
        )
        labels = new_labels.localCheckpoint(eager=True) if changed else new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing): a component's diameter "
            f"exceeds the iteration budget — raise max_iter"
        )
    return labels


def stats_by_threshold(edges: DataFrame, n_steps: int = 10) -> DataFrame:
    """show-stats-by-threshold (/root/reference/logdag/__main__.py:289-297,
    showdag.py:586-601): total surviving edge count across all units for
    each ate_prune threshold 0.0, 0.1, ... — the reference applies the
    filter once per threshold per DAG; here one broadcast of the tiny
    threshold dim against the edge list and a single aggregate.
    Thresholds are compared EXACTLY (``|w| >= k/10``), not via float
    bucket arithmetic (``floor(0.7*10)`` is 6 in IEEE doubles).
    Output: (threshold, n_edges), ascending."""
    spark = edges.sparkSession
    ths = spark.createDataFrame(
        [(k / n_steps,) for k in range(n_steps)], "threshold double"
    )
    counts = (
        edges.crossJoin(F.broadcast(ths))
        .where(F.abs(F.col("weight")) >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count("*").alias("n_edges"))
    )
    # the reference's table prints EVERY threshold, zeros included
    return (
        ths.join(counts, "threshold", "left")
        .select("threshold", F.coalesce("n_edges", F.lit(0)).alias("n_edges"))
        .orderBy("threshold")
    )


def update_event_labels(
    evdim: DataFrame, gid_groups: DataFrame, gid_col: str = "key"
) -> DataFrame:
    """update-event-label (/root/reference/logdag/__main__.py:87-110):
    refresh each event definition's ``group`` tag from the source's
    current gid->group mapping (the reference reloads the amulog loader
    and rewrites the evmap).  One broadcast join; unmapped gids keep
    their existing group (or null if none existed)."""
    new = F.broadcast(
        gid_groups.select(F.col("gid").alias(gid_col), F.col("group").alias("_new_group"))
    )
    joined = evdim.join(new, gid_col, "left")
    old = F.col("group") if "group" in evdim.columns else F.lit(None).cast("string")
    return joined.withColumn("group", F.coalesce("_new_group", old)).drop("_new_group")


def netsize_distribution(components: DataFrame) -> DataFrame:
    """A12: histogram of component sizes (showdag.py:738-760)."""
    sizes = components.groupBy("unit", "component").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(F.count("*").alias("n_components")).orderBy("size")


# ------------------------------------------------------------ G10 cosine


def dag_similarity(edges: DataFrame, evdim: DataFrame) -> DataFrame:
    """Pairwise cosine similarity between units' binary edge vectors
    (edge_search.py:64-80): sparse dot product via self-join on pair_key."""
    vec = edge_pair_key(edges_with_nodes(edges, evdim)).select(
        "unit", "pair_key"
    ).distinct()
    norm = vec.groupBy("unit").agg(F.count("*").alias("n"))
    a = vec.withColumnRenamed("unit", "unit1")
    b = vec.withColumnRenamed("unit", "unit2")
    dots = (
        a.join(b, "pair_key")
        .where(F.col("unit1") < F.col("unit2"))
        .groupBy("unit1", "unit2")
        .agg(F.count("*").alias("dot"))
    )
    n1 = norm.select(F.col("unit").alias("unit1"), F.col("n").alias("n1"))
    n2 = norm.select(F.col("unit").alias("unit2"), F.col("n").alias("n2"))
    return (
        dots.join(n1, "unit1")
        .join(n2, "unit2")
        .withColumn("cosine", F.col("dot") / F.sqrt(F.col("n1") * F.col("n2")))
        .select("unit1", "unit2", "dot", "cosine")
    )


def dag_vectors(
    edges: DataFrame,
    evdim: DataFrame,
    space: str = "edge",
    weight: str = "none",
    smooth_idf: bool = True,
) -> DataFrame:
    """G10 vector spaces (edge_search.py:18-80, counter classes :205-420):
    sparse per-unit DAG vectors ``(unit, feat, w)``.

    * ``edge``   — undirected identifier pairs (EdgeCount)
    * ``evpair`` — host-agnostic event pairs, i.e. key pairs
      (EventPairCount: evdef.event() drops the host)
    * ``node``   — node identifiers (NodeCount)

    ``weight="idf"`` applies the reference's smoothed idf
    (edge_search.py:296-305): log((N+1)/(df+1)) + 1 over units.
    """
    if space == "edge":
        e = edges_with_nodes(edges, evdim)
        feat = F.concat_ws(
            "--", F.least("src_id", "dst_id"), F.greatest("src_id", "dst_id")
        )
        vec = e.select("unit", feat.alias("feat")).distinct()
    elif space == "evpair":
        e = edges_with_nodes(edges, evdim)
        feat = F.concat_ws(
            "--", F.least("src_key", "dst_key"), F.greatest("src_key", "dst_key")
        )
        vec = e.select("unit", feat.alias("feat")).distinct()
    elif space == "node":
        vec = evdim.select("unit", F.col("identifier").alias("feat")).distinct()
    else:
        raise ValueError(f"unknown DAG vector space {space!r}")
    if weight == "none":
        return vec.withColumn("w", F.lit(1.0))
    if weight != "idf":
        raise ValueError(f"unknown weight {weight!r}")
    n_units = vec.select("unit").distinct().count()
    df_ = vec.groupBy("feat").agg(F.countDistinct("unit").alias("df"))
    if smooth_idf:
        idf = F.log((F.lit(n_units) + 1) / (F.col("df") + 1)) + 1
    else:
        idf = F.log(F.lit(n_units) / F.col("df")) + 1
    return vec.join(F.broadcast(df_.select("feat", idf.alias("w"))), "feat").select(
        "unit", "feat", "w"
    )


def kmeans_units(
    vec: DataFrame, k: int, max_iter: int = 20
) -> DataFrame:
    """G10 clustering (edge_search.py:93-121): Lloyd's k-means over the
    sparse unit vectors, all frame-side (join + two aggregates per
    round); deterministic init = the first k units in sorted order.
    Output (unit, cluster), clusters renumbered by min member unit."""
    units = [r["unit"] for r in vec.select("unit").distinct().orderBy("unit").collect()]
    if k <= 0 or k > len(units):
        raise ValueError(f"k={k} outside 1..{len(units)}")
    spark = vec.sparkSession
    centers = (
        vec.join(
            spark.createDataFrame(
                [(u, i) for i, u in enumerate(units[:k])], "unit string, cid int"
            ),
            "unit",
        )
        .select("cid", "feat", F.col("w").alias("cw"))
    )
    assign = None
    for _ in range(max_iter):
        # squared distance = |u|^2 + |c|^2 - 2 dot(u, c); |u|^2 constant
        # per unit, so argmin over cid needs only |c|^2 - 2 dot
        c_norm = centers.groupBy("cid").agg(
            F.sum(F.col("cw") * F.col("cw")).alias("c2")
        )
        dots = (
            vec.join(centers, "feat")
            .groupBy("unit", "cid")
            .agg(F.sum(F.col("w") * F.col("cw")).alias("dot"))
        )
        scored = (
            vec.select("unit").distinct()
            .crossJoin(F.broadcast(c_norm))
            .join(dots, ["unit", "cid"], "left")
            .withColumn("score", F.col("c2") - 2 * F.coalesce("dot", F.lit(0.0)))
        )
        w_best = Window.partitionBy("unit").orderBy("score", "cid")
        new_assign = (
            scored.withColumn("rk", F.row_number().over(w_best))
            .where(F.col("rk") == 1)
            .select("unit", "cid")
            .localCheckpoint(eager=True)
        )
        if assign is not None:
            moved = (
                new_assign.join(
                    assign.withColumnRenamed("cid", "old"), "unit"
                ).where(F.col("cid") != F.col("old")).count()
            )
            if moved == 0:
                assign = new_assign
                break
        assign = new_assign
        sizes = assign.groupBy("cid").agg(F.count("*").alias("sz"))
        new_centers = (
            vec.join(assign, "unit")
            .groupBy("cid", "feat")
            .agg(F.sum("w").alias("sw"))
            .join(F.broadcast(sizes), "cid")
            .select("cid", "feat", (F.col("sw") / F.col("sz")).alias("cw"))
        )
        # a cid with no assigned units keeps its previous center (it can
        # win units back later) instead of silently vanishing from the
        # inner join — k stays k
        centers = new_centers.unionByName(
            centers.join(F.broadcast(sizes), "cid", "left_anti")
        )
    # renumber by smallest member unit (stable, init-independent labels)
    first = assign.groupBy("cid").agg(F.min("unit").alias("rep"))
    w_rank = Window.orderBy("rep")
    relabel = first.withColumn("cluster", F.row_number().over(w_rank) - 1)
    return assign.join(F.broadcast(relabel), "cid").select("unit", "cluster")


def cluster_common_components(vec: DataFrame, units: list[str]) -> DataFrame:
    """G10 common components of a unit cluster
    (edge_search.py:135-148): geometric mean of the units' L2-normalized
    vectors per feature, descending — features absent in ANY member unit
    gmean to 0 and drop out, so the result ranks what the cluster's DAGs
    share.  ``similarity_causes`` = LIMIT topn of this."""
    if len(units) < 2:
        raise ValueError("need at least two units")
    sel = vec.where(F.col("unit").isin(units))
    nrm = sel.groupBy("unit").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    normed = sel.join(F.broadcast(nrm), "unit").withColumn(
        "x", F.col("w") / F.col("nrm")
    )
    return (
        normed.groupBy("feat")
        .agg(F.count("*").alias("n"), F.avg(F.log("x")).alias("mean_log"))
        .where(F.col("n") == len(units))  # zero anywhere -> gmean 0
        .select("feat", F.exp("mean_log").alias("gmean"))
        .orderBy(F.desc("gmean"), "feat")
    )


# ------------------------------------------------- A9 cube / O4 / W16


def dag_stats_by(edges: DataFrame, evdim: DataFrame, unit_dim: DataFrame) -> DataFrame:
    """A9: node/edge counts rolled up by day AND area in one pass via
    cube() (the reference computes the day and area groupings in separate
    driver loops, /root/reference/logdag/showdag.py:551-600;
    /root/reference/logdag/__main__.py:230-297).

    ``unit_dim(unit, day, area)`` is the small unit dimension.
    """
    per_unit = dag_stats(edges, evdim).join(F.broadcast(unit_dim), "unit")
    return (
        per_unit.cube("day", "area")
        .agg(
            F.sum("n_nodes").alias("n_nodes"),
            F.sum("n_edges").alias("n_edges"),
            F.count("*").alias("n_units"),
        )
    )


def similar_dags_topn(edges: DataFrame, evdim: DataFrame, unit: str, n: int = 5) -> DataFrame:
    """O4: top-n units most similar to ``unit`` by edge-set cosine
    (edge_search.py:708-731)."""
    sim = dag_similarity(edges, evdim)
    mine = sim.where((F.col("unit1") == unit) | (F.col("unit2") == unit))
    other = F.when(F.col("unit1") == unit, F.col("unit2")).otherwise(F.col("unit1"))
    return (
        mine.select(other.alias("unit"), "cosine")
        .orderBy(F.desc("cosine"), F.asc("unit"))
        .limit(n)
    )


def temporal_edge_sort(
    edges: DataFrame,
    evdim: DataFrame,
    matrix: DataFrame,
    query_ts,
) -> DataFrame:
    """W16: rank edges by the count-weighted mean distance of their
    endpoints' events from a query time — ascending, closest first
    (/root/reference/logdag/visual/edge_search.py:650-705).

    ``matrix`` is the long-form (unit, eid, bin, cnt).
    """
    dist = F.abs(F.unix_millis(F.col("bin")) - F.lit(to_utc_ms(query_ts)))
    node_score = (
        matrix.groupBy("unit", "eid")
        .agg((F.sum(dist * F.col("cnt")) / F.sum("cnt")).alias("node_dist"))
    )
    s = node_score.select("unit", F.col("eid").alias("src_eid"), F.col("node_dist").alias("sd"))
    d = node_score.select("unit", F.col("eid").alias("dst_eid"), F.col("node_dist").alias("dd"))
    return (
        edges.join(s, ["unit", "src_eid"])
        .join(d, ["unit", "dst_eid"])
        .withColumn("score", (F.col("sd") + F.col("dd")) / 2 / 1000.0)
        .drop("sd", "dd")
        .orderBy("score")
    )


# --------------------------------------------------------------- J8 match


MATCH_RULES = ("all", "both", "either", "log-snmp")


def match_trouble_edges(
    edges: DataFrame, evdim: DataFrame, trouble: DataFrame, rule: str = "both"
) -> DataFrame:
    """Match ground-truth event identifiers against edge endpoints
    per ticket (/root/reference/logdag/eval/match_edge.py:30-48).

    ``trouble(tid, identifier)``.  Merged events (identifier =
    "|"-joined member list, log2event.py:114-119) are expanded to their
    members before matching — a merged event matches when ANY member is
    in the ticket's set (``member_identifiers()`` semantics).  Rules:

    * ``all``    — src OR dst endpoint matched
    * ``both``   — src AND dst matched
    * ``either`` — exactly one endpoint matched (XOR)
    * ``log-snmp`` — both matched, or one matched and the other endpoint
      is an SNMP-source event (needs a ``source`` column in evdim)

    Output: (tid, unit, src_eid, dst_eid) — one row per (ticket, edge).
    Plan: explode members (small dim), broadcast the ticket set, two
    semi-join-shaped aggregations; the edge frame shuffles once.
    """
    if rule not in MATCH_RULES:
        raise ValueError(f"unknown match rule {rule!r}")
    members = evdim.select(
        "unit", "eid", F.explode(F.split("identifier", r"\|")).alias("member")
    )
    t = F.broadcast(trouble.select("tid", F.col("identifier").alias("member")))
    # (unit, eid, tid): this event matches this ticket
    hits = members.join(t, "member").select("unit", "eid", "tid").distinct()
    e = edges.select("unit", "src_eid", "dst_eid")
    sh = hits.select("unit", F.col("eid").alias("src_eid"), "tid")
    dh = hits.select("unit", F.col("eid").alias("dst_eid"), "tid")
    src_hit = e.join(F.broadcast(sh), ["unit", "src_eid"]).withColumn(
        "s", F.lit(True)
    )
    dst_hit = e.join(F.broadcast(dh), ["unit", "dst_eid"]).withColumn(
        "d", F.lit(True)
    )
    flags = (
        src_hit.join(
            dst_hit, ["tid", "unit", "src_eid", "dst_eid"], "full_outer"
        )
        .select(
            "tid", "unit", "src_eid", "dst_eid",
            F.coalesce("s", F.lit(False)).alias("s"),
            F.coalesce("d", F.lit(False)).alias("d"),
        )
    )
    if rule == "all":
        out = flags.where(F.col("s") | F.col("d"))
    elif rule == "both":
        out = flags.where(F.col("s") & F.col("d"))
    elif rule == "either":
        out = flags.where(F.col("s") != F.col("d"))
    else:  # log-snmp
        if "source" not in evdim.columns:
            raise ValueError("log-snmp rule needs evdim.source")
        snmp = evdim.where(F.col("source") == "snmp").select("unit", "eid")
        ss = F.broadcast(
            snmp.select("unit", F.col("eid").alias("src_eid"))
            .withColumn("s_snmp", F.lit(True))
        )
        ds = F.broadcast(
            snmp.select("unit", F.col("eid").alias("dst_eid"))
            .withColumn("d_snmp", F.lit(True))
        )
        out = (
            flags.join(ss, ["unit", "src_eid"], "left")
            .join(ds, ["unit", "dst_eid"], "left")
            .where(
                (F.col("s") & F.col("d"))
                | (F.col("s") & F.coalesce("d_snmp", F.lit(False)))
                | (F.coalesce("s_snmp", F.lit(False)) & F.col("d"))
            )
        )
    return out.select("tid", "unit", "src_eid", "dst_eid")
