"""Prior-knowledge pruning (G7) — noedge pair rules as DataFrames.

The reference prunes the PC initial graph with topology-derived rules
(/root/reference/logdag/pknowledge.py:229-306, driver :329-365): an event
pair is a candidate only if its hosts are identical or adjacent in a
network-topology graph; "independent" rules forbid specific groups from
cross-host edges.  This is the reference's analogue of predicate pushdown
— it shrinks the CI-test search space before the expensive kernel
(SURVEY.md §4).

Spark shape: candidate pairs = per-unit self cross-join of the (small)
event dim (J7); allowed-pair tests are broadcast joins against the
topology edge list; the complement (noedge) feeds ``pc_edges`` which
drops them from the initial adjacency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logdag_spark.session import local_frame


def candidate_pairs(evdim: DataFrame) -> DataFrame:
    """All eid pairs per unit: (unit, eid1, eid2, host1, host2, ...).

    Optional evdim columns ``group``, ``source``, ``identifier`` are
    carried through as ``{col}1``/``{col}2`` when present (NULL
    otherwise) so every rule below can run off one pair frame.
    eid1 < eid2 — the noedge convention is unordered pairs
    (reference ``_reorder_edge``, pknowledge.py:32-34).
    """

    def side(n: int) -> DataFrame:
        cols = [F.col("unit"), F.col("eid").alias(f"eid{n}"), F.col("host").alias(f"host{n}")]
        for c in ("group", "source", "identifier"):
            cols.append(
                F.col(c).alias(f"{c}{n}")
                if c in evdim.columns
                else F.lit(None).cast("string").alias(f"{c}{n}")
            )
        return evdim.select(*cols)

    return side(1).join(side(2), "unit").where(F.col("eid1") < F.col("eid2"))


def noedge_topology(pairs: DataFrame, topology: DataFrame) -> DataFrame:
    """Forbid pairs whose hosts are neither equal nor topology-adjacent
    (pknowledge.py:229-241).  ``topology(host1, host2)`` is undirected."""
    sym = topology.select("host1", "host2").union(
        topology.select(F.col("host2").alias("host1"), F.col("host1").alias("host2"))
    ).distinct()
    allowed = pairs.where(F.col("host1") == F.col("host2")).select(
        "unit", "eid1", "eid2"
    )
    topo_ok = pairs.join(
        F.broadcast(sym), ["host1", "host2"], "left_semi"
    ).select("unit", "eid1", "eid2")
    return (
        pairs.select("unit", "eid1", "eid2")
        .exceptAll(allowed.unionByName(topo_ok).distinct())
    )


def noedge_independent_groups(pairs: DataFrame, groups: list[str]) -> DataFrame:
    """Forbid cross-host pairs touching a host-independent group
    (extension of pknowledge.py:309-313 to a configurable group list)."""
    flag = F.col("group1").isin(groups) | F.col("group2").isin(groups)
    return (
        pairs.where((F.col("host1") != F.col("host2")) & flag)
        .select("unit", "eid1", "eid2")
    )


def noedge_host_independent(pairs: DataFrame) -> DataFrame:
    """HostIndependent rule: no edges between events on different hosts
    (/root/reference/logdag/pknowledge.py:309-313)."""
    return pairs.where(F.col("host1") != F.col("host2")).select("unit", "eid1", "eid2")


def noedge_additional_source(
    pairs: DataFrame, additional: tuple[str, ...] = ("snmp",)
) -> DataFrame:
    """AdditionalSource rule: no edges between two events that BOTH come
    from an additional (non-log) source
    (/root/reference/logdag/pknowledge.py:316-326; SRCCLS_SNMP is the one
    additional source class there)."""
    return (
        pairs.where(
            F.col("source1").isin(list(additional))
            & F.col("source2").isin(list(additional))
        ).select("unit", "eid1", "eid2")
    )


def noedge_layered_topology(
    pairs: DataFrame,
    topo_layers: DataFrame,
    group_layer: dict[str, str],
    default_layer: str = "other",
) -> DataFrame:
    """LayeredTopology (multi-topology) rule
    (/root/reference/logdag/pknowledge.py:244-306, cnsm2019 "proposed"
    config): a cross-host pair is allowed iff some layer drawn from EITHER
    event's groups (group -> layer via ``group_layer``; events whose groups
    map to no layer get ``default_layer``) has a topology edge between the
    two hosts.  ``topo_layers(layer, host1, host2)`` is the undirected
    multi-layer edge list.

    Plan: symmetrize + collect the layer set per host pair (tiny,
    broadcast), map each event's ``group`` ("|"-joined multi-tags,
    log2event.py:42-50) to its layer array with a literal map, then a
    single ``arrays_overlap`` predicate — one broadcast join, no shuffle
    of the pair frame.
    """
    sym = topo_layers.select("layer", "host1", "host2").union(
        topo_layers.select(
            "layer", F.col("host2").alias("host1"), F.col("host1").alias("host2")
        )
    )
    topo_sets = sym.groupBy("host1", "host2").agg(
        F.collect_set("layer").alias("_topo_layers")
    )
    if group_layer:
        lit_map = F.create_map(
            *[F.lit(x) for kv in group_layer.items() for x in kv]
        )
    else:
        lit_map = F.create_map()

    def layers_of(group_col: str):
        mapped = F.filter(
            F.transform(
                F.split(F.coalesce(F.col(group_col), F.lit("")), r"\|"),
                lambda g: lit_map[g],
            ),
            lambda x: x.isNotNull(),
        )
        return F.when(F.size(mapped) > 0, mapped).otherwise(
            F.array(F.lit(default_layer))
        )

    pair_layers = F.array_union(layers_of("group1"), layers_of("group2"))
    allowed = (F.col("host1") == F.col("host2")) | (
        F.col("_topo_layers").isNotNull()
        & F.arrays_overlap(pair_layers, F.col("_topo_layers"))
    )
    return (
        pairs.join(F.broadcast(topo_sets), ["host1", "host2"], "left")
        .where(~allowed)
        .select("unit", "eid1", "eid2")
    )


def _norm_pair(c1, c2):
    return F.least(c1, c2), F.greatest(c1, c2)


def import_dag_noedge(
    pairs: DataFrame,
    imported: DataFrame,
    rule: str = "prune",
    allow_reverse: bool = True,
) -> DataFrame:
    """ImportDAG pruning rules (/root/reference/logdag/pknowledge.py:121-201):
    prior knowledge from a previous run's DAG, matched on event
    ``identifier`` strings (evdefs match across runs by identifier).

    ``imported(src_id, dst_id [, component])`` is the earlier run's edge
    list joined to its event dim.  Rules:

    * ``prune``: forbid candidate pairs with no corresponding (or, with
      ``allow_reverse``, reversed) edge in the imported DAG.
    * ``prune-unconnected``: forbid pairs whose endpoints are in different
      connected components of the imported DAG (requires a ``component``
      mapping — build one with
      :func:`logdag_spark.operators.graphops.connected_components`).

    The reference's ``force``/``prune+force`` rules add EDGE (not noedge)
    rules, which its PC path ignores (``pruned_initial_skeleton`` consumes
    only noedges, pknowledge.py:82-91) — use :func:`import_dag_force` to
    get that frame where needed.
    """
    if rule == "prune":
        l1, l2 = _norm_pair(F.col("identifier1"), F.col("identifier2"))
        keyed = pairs.withColumn("_k1", l1).withColumn("_k2", l2)
        if allow_reverse:
            i1, i2 = _norm_pair(F.col("src_id"), F.col("dst_id"))
        else:
            i1, i2 = F.col("src_id"), F.col("dst_id")
        imp = imported.select(i1.alias("_k1"), i2.alias("_k2")).distinct()
        return (
            keyed.join(F.broadcast(imp), ["_k1", "_k2"], "left_anti")
            .select("unit", "eid1", "eid2")
        )
    if rule == "prune-unconnected":
        comp = imported.select(
            F.col("identifier").alias("_id"), F.col("component").alias("_comp")
        ).distinct()
        out = (
            pairs.join(
                F.broadcast(comp.withColumnRenamed("_id", "identifier1")
                            .withColumnRenamed("_comp", "_comp1")),
                "identifier1", "left",
            ).join(
                F.broadcast(comp.withColumnRenamed("_id", "identifier2")
                            .withColumnRenamed("_comp", "_comp2")),
                "identifier2", "left",
            )
        )
        return out.where(
            F.col("_comp1").isNull()
            | F.col("_comp2").isNull()
            | (F.col("_comp1") != F.col("_comp2"))
        ).select("unit", "eid1", "eid2")
    raise ValueError(f"unknown import rule {rule!r}")


def import_dag_force(
    pairs: DataFrame, imported: DataFrame, allow_reverse: bool = True
) -> DataFrame:
    """ImportDAG ``force`` rule: candidate pairs WITH a corresponding
    imported edge become edge rules (pknowledge.py:162-176).  Returned as
    a (unit, eid1, eid2) frame; consumed by the LiNGAM prior-knowledge
    path only, mirroring the reference (the PC initial skeleton ignores
    edge rules)."""
    l1, l2 = _norm_pair(F.col("identifier1"), F.col("identifier2"))
    keyed = pairs.withColumn("_k1", l1).withColumn("_k2", l2)
    if allow_reverse:
        i1, i2 = _norm_pair(F.col("src_id"), F.col("dst_id"))
    else:
        i1, i2 = F.col("src_id"), F.col("dst_id")
    imp = imported.select(i1.alias("_k1"), i2.alias("_k2")).distinct()
    return keyed.join(F.broadcast(imp), ["_k1", "_k2"], "left_semi").select(
        "unit", "eid1", "eid2"
    )


def host_allow_pairs(
    rules: tuple[str, ...], context: dict
) -> DataFrame | None:
    """Host-level over-approximation of the allow set for CROSS-HOST
    pairs, for pushing prior knowledge below the pairwise co-occurrence
    join (the reference's stated intent: shrink the CI-test space, not
    the result — pknowledge.py:82-91).

    Returns a symmetric ``(host1, host2)`` frame: a cross-host event pair
    can only survive the configured rules if its hosts appear here
    (same-host pairs are always allowed by every host-level rule, so they
    are NOT listed — the consumer keeps ``host1 == host2`` rows
    unconditionally).  Sound over-approximation: rules that constrain
    more than hosts (groups, sources, imported identifiers) contribute no
    host restriction here and are enforced exactly by the eid-level
    noedge anti-join.  Returns None when no configured rule restricts at
    host level — then no filter is pushed.

    * ``topology``: cross-host allowed iff topology-adjacent (exact).
    * ``multi-topology``: allowed iff adjacent in ANY layer (superset of
      the exact per-group-layer rule).
    * ``independent``: no cross-host pair allowed (exact) — the returned
      frame is empty, so the co-occurrence join keeps same-host rows
      only.

    Multiple host-level rules intersect (a pair must satisfy all).
    """

    def sym(df: DataFrame) -> DataFrame:
        return (
            df.select("host1", "host2")
            .union(
                df.select(
                    F.col("host2").alias("host1"), F.col("host1").alias("host2")
                )
            )
            .distinct()
        )

    allows: list[DataFrame] = []
    for name in rules:
        if name == "topology":
            allows.append(sym(context["topology"]))
        elif name == "multi-topology":
            allows.append(sym(context["multi_topology"].select("host1", "host2")))
        elif name == "independent":
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            allows.append(local_frame(spark, [], "host1 string, host2 string"))
    if not allows:
        return None
    out = allows[0]
    for a in allows[1:]:
        out = out.join(a, ["host1", "host2"], "left_semi")
    return out


def combine_noedge(*rules: DataFrame) -> DataFrame:
    out = None
    for r in rules:
        out = r if out is None else out.unionByName(r)
    return out.distinct() if out is not None else None


def build_noedge(
    pairs: DataFrame,
    rules: tuple[str, ...],
    context: dict,
) -> DataFrame | None:
    """Rule dispatcher mirroring the reference's ``init_prior_knowledge``
    (/root/reference/logdag/pknowledge.py:329-365): apply the configured
    method list in order, union the noedge sets.  Unknown names raise
    (reference raises NotImplementedError).

    ``context`` supplies the rule inputs: ``topology`` (DataFrame
    host1/host2), ``multi_topology`` (DataFrame layer/host1/host2),
    ``group_layer`` (dict), ``independent_groups`` (list),
    ``import_edges`` (DataFrame src_id/dst_id [+ identifier/component for
    prune-unconnected]), ``import_rule``, ``import_allow_reverse``.
    """
    def need(key: str):
        if key not in context:
            raise ValueError(
                f"prior-knowledge rule needs pk_context[{key!r}] "
                f"(got keys {sorted(context)})"
            )
        return context[key]

    out = []
    for name in rules:
        if name == "topology":
            out.append(noedge_topology(pairs, need("topology")))
        elif name == "multi-topology":
            out.append(
                noedge_layered_topology(
                    pairs,
                    need("multi_topology"),
                    context.get("group_layer", {}),
                    default_layer=context.get("default_layer", "other"),
                )
            )
        elif name == "independent":
            out.append(noedge_host_independent(pairs))
        elif name == "independent-group":
            out.append(
                noedge_independent_groups(pairs, need("independent_groups"))
            )
        elif name == "additional-source":
            out.append(noedge_additional_source(pairs))
        elif name == "import":
            out.append(
                import_dag_noedge(
                    pairs,
                    need("import_edges"),
                    rule=context.get("import_rule", "prune"),
                    allow_reverse=context.get("import_allow_reverse", True),
                )
            )
        else:
            raise ValueError(f"unknown prior-knowledge rule {name!r}")
    return combine_noedge(*out)
