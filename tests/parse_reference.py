"""Reference oracle for the template parse in ``pipeline/parse.py``: the
pure-Catalyst matcher, a chain of per-(length, wildcard mask) broadcast
hash joins on the masked token subsequence.  It shares no matching code
with the production ``parse_tokens_arrow`` kernel (no numpy, no Arrow
buffers, no rolling hash), which must reproduce its gids exactly
(``tests/test_parse.py``, ``tests/test_streaming.py``).

Kept out of the package: on scale-50 tokens (798,786 rows, 4 CPUs, ``local[4]``,
noop sink) a steady pass took 5.48-6.56 s with this join chain against
1.47-1.73 s with the Arrow kernel, so the kernel is the one parser for
batch and streaming ingest."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logdag_spark.pipeline.parse import collect_template_specs
from logdag_spark.session import local_frame


def parse_tokens(df: DataFrame, template_dim) -> DataFrame:
    """Assign ``gid`` by template match; unmatched rows get gid NULL.

    Plan shape: templates grouped by (length, wildcard-position mask);
    each group is an EXACT dictionary keyed by the constants at the mask
    positions.  A row matches group ``(L, mask)`` iff its masked token
    subsequence equals some key — so matching is ``max masks-per-length``
    broadcast hash joins on ``(n_tok, array-of-masked-tokens)``, with
    ``least()`` over the joined gids as the smallest-gid tie-break.  All
    LEFT joins against deduplicated keys: every input row survives
    exactly once, unmatched rows carry gid NULL.

    Why this shape: per-row cost is O(masks-per-length), independent of
    dictionary size (a CASE chain is O(templates) and at real dictionary
    sizes its generated method blows past HotSpot's 8 KB JIT limit —
    measured 20x slowdown from bytecode-interpreted codegen; and
    higher-order functions like zip_with/forall are CodegenFallback,
    worse still).  Hash-relation probes are O(1), the fact side never
    shuffles, and the whole stage stays in small JIT-compiled methods.

    An inner join with a post-filter would silently DROP rows sharing a
    token length with a template but matching none; these are plain
    left joins.
    """
    spark = df.sparkSession
    specs = sorted(collect_template_specs(template_dim), key=lambda t: t[0])
    if not specs:
        return df.withColumn("gid", F.lit(None).cast("int"))

    # group templates by (length, wildcard mask): all templates sharing a
    # mask are distinguishable purely by their constants at those
    # positions, so matching one mask group is ONE exact lookup on the
    # row's masked token subsequence
    groups: dict[int, dict[tuple[int, ...], dict[tuple[int, ...], int]]] = {}
    for gid, pattern in specs:
        length = len(pattern)
        mask = tuple(i for i, x in enumerate(pattern) if int(x) >= 0)
        consts = tuple(int(pattern[i]) for i in mask)
        by_mask = groups.setdefault(length, {})
        # duplicate (mask, constants) templates: smallest gid wins
        by_mask.setdefault(mask, {}).setdefault(consts, gid)

    # stable mask order per length: by smallest member gid
    ordered: dict[int, list[tuple[tuple[int, ...], dict]]] = {
        length: sorted(bm.items(), key=lambda kv: min(kv[1].values()))
        for length, bm in groups.items()
    }
    n_joins = max(len(v) for v in ordered.values())

    out = df
    gid_cols = []
    for j in range(n_joins):
        # dictionary side for slot j: (length, masked constants, gid)
        dim_rows = []
        key_case = None
        for length, mask_list in sorted(ordered.items()):
            if j >= len(mask_list):
                continue
            mask, consts_map = mask_list[j]
            for consts, gid in sorted(consts_map.items()):
                dim_rows.append((length, list(consts), gid))
            key_arr = F.array(
                *[F.element_at("tokens", i + 1) for i in mask]
            )
            cond = F.col("n_tok") == length
            key_case = (
                F.when(cond, key_arr)
                if key_case is None
                else key_case.when(cond, key_arr)
            )
        dim = F.broadcast(
            local_frame(spark, dim_rows, f"_l{j} int, _dk{j} array<int>, _g{j} int")
        )
        out = (
            out.withColumn(f"_k{j}", key_case)
            .join(
                dim,
                (F.col("n_tok") == F.col(f"_l{j}"))
                & (F.col(f"_k{j}") == F.col(f"_dk{j}")),
                "left",
            )
            .drop(f"_k{j}", f"_dk{j}", f"_l{j}")
        )
        gid_cols.append(F.col(f"_g{j}"))

    # least() skips NULLs -> smallest matching gid across mask groups
    gid = gid_cols[0] if len(gid_cols) == 1 else F.least(*gid_cols)
    return out.withColumn("gid", gid.cast("int")).drop(
        *[f"_g{j}" for j in range(n_joins)]
    )
