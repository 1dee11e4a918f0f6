"""Stage 1 — vectorized template parse (token stream -> gid).

The reference consumes lines already classified into templates by amulog
(/root/reference/logdag/source/src_amulog.py:44-66; upstream regex rules in
/root/reference/tutorial/ssh_parser.py:10-27).  Here the classification is
part of the engine: match each ``tokens array<int32>`` against the
template dictionary (constant positions must equal, wildcard positions
match anything) — grok semantics over token ids.

One parser, ``parse_tokens_arrow``, serves batch (``run_pipeline``) and
streaming (``streaming.ingest.streaming_counts``) ingest: a scalar
``arrow_udf`` whose kernel receives the ``list<int32>`` column as a raw
Arrow ListArray and matches against the flat int32 values buffer with
one fancy-index gather per length or mask group — NO per-row Python
objects anywhere.  Reading the offsets/values buffers directly skips the
per-row numpy objects an Arrow->pandas conversion of a list column would
materialize.  A pure-Catalyst formulation (per-(length, wildcard mask)
broadcast hash joins) is kept in ``tests/parse_reference.py`` as the
oracle: on scale-50 tokens (798,786 rows, 4 CPUs, ``local[4]``, noop sink) a
steady pass took 1.47-1.73 s with this kernel against 5.48-6.56 s with
the join chain.

The kernel uses a per-length match plan (``_build_plan``): dense numpy
broadcast compare while a length has few templates, and a mask-grouped
hash lookup (gather mask columns -> rolling hash -> searchsorted ->
exact verify) once it has many — real amulog dictionaries run to
thousands of templates, where the dense compare's
O(rows x templates x length) blows up (measured 58 ms vs 19.4 s per
64k-row batch at 1200 templates; the hash is only an index, an exact
constant check always confirms, so matching stays exact).

Invariant checked by tests: the ``tokens`` column passes through
bit-identical (per-row token-array equality, BASELINE.json).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def collect_template_specs(template_dim) -> list[tuple[int, list[int]]]:
    """Driver-resident ``(gid, pattern)`` spec list for the parser.

    Accepts a ``template_dim`` DataFrame (one collect — the dim is tiny)
    or an already-collected sequence of dicts/Rows/pairs.  Callers that
    run the pipeline repeatedly (chunked make-dag, the bench harness)
    pass the pre-collected list so the per-run collect job — pure serial
    driver time on the Amdahl floor — happens once, not once per chunk;
    this mirrors the reference, which loads the template dictionary into
    memory at startup (src_amulog.py:44-66) rather than per window."""
    if isinstance(template_dim, DataFrame):
        rows = template_dim.select("gid", "pattern").collect()
        return [(int(r["gid"]), list(r["pattern"])) for r in rows]
    out = []
    for r in template_dim:
        if isinstance(r, (tuple, list)):
            g, p = r[0], r[1]
        else:
            g, p = r["gid"], r["pattern"]
        out.append((int(g), list(p)))
    return out


# dense broadcast-compare up to this many templates per length; above it
# the per-row cost O(T x L) loses to the mask-grouped hash lookup
# O(masks x (|mask| + log T)) — real amulog dictionaries run to
# thousands of templates, mostly piling onto a few common lengths
_DENSE_MAX_PER_LENGTH = 16
_HASH_MULT = np.uint64(0x9E3779B97F4A7C15)
_NO_MATCH = np.int64(1) << np.int64(62)


def _key_hash(mat: np.ndarray) -> np.ndarray:
    """Polynomial rolling hash of each row (uint64, wrapping)."""
    h = np.zeros(mat.shape[0], dtype=np.uint64)
    for j in range(mat.shape[1]):
        h = h * _HASH_MULT + mat[:, j].astype(np.uint64)
    return h


def _build_plan(template_dim) -> dict[int, tuple]:
    """Per-length match plan for the kernel.

    length -> ("dense", gids, pats): templates few enough that one
    numpy broadcast compare (wildcard = -1 matches anything) is cheapest.

    length -> ("hashed", entries): mask-grouped exact lookup for large
    dictionaries.  All templates sharing a wildcard-position mask are
    distinguishable purely by their constants at the mask positions
    (the decomposition ``tests/parse_reference.py`` joins on), so each
    mask group matches via gather-mask-columns -> rolling hash ->
    searchsorted into the group's sorted key hashes -> exact verify
    against the stored constants (hashing is an index, never the
    decider).  A within-table hash collision (astronomically rare, but
    it would shadow one key behind another) downgrades that mask group
    to a dense entry at build time, keeping matching exact always.
    Tie-break (smallest gid across all groups) is preserved by taking
    the minimum candidate."""
    specs = sorted(
        (
            (gid, np.asarray(pattern, dtype=np.int64))
            for gid, pattern in collect_template_specs(template_dim)
        ),
        key=lambda t: t[0],
    )
    plan: dict[int, tuple] = {}
    for length in {len(p) for _, p in specs}:
        group = [(g, p) for g, p in specs if len(p) == length]  # gid-ascending
        if len(group) <= _DENSE_MAX_PER_LENGTH:
            gids = np.asarray([g for g, _ in group], dtype=np.int64)
            pats = np.stack([p for _, p in group])  # (n_templates, length)
            plan[length] = ("dense", gids, pats)
            continue
        by_mask: dict[tuple[int, ...], dict[tuple[int, ...], int]] = {}
        for g, p in group:
            mask = tuple(i for i, x in enumerate(p) if x >= 0)
            consts = tuple(int(p[i]) for i in mask)
            # duplicate (mask, constants): smallest gid wins (gid order)
            by_mask.setdefault(mask, {}).setdefault(consts, g)
        entries = []
        for mask, cmap in sorted(
            by_mask.items(), key=lambda kv: min(kv[1].values())
        ):
            maskpos = np.asarray(mask, dtype=np.int64)
            gids_m = np.asarray(list(cmap.values()), dtype=np.int64)
            keys_m = np.asarray(
                [list(k) for k in cmap], dtype=np.int64
            ).reshape(len(cmap), len(mask))
            hashes = _key_hash(keys_m)
            if np.unique(hashes).size != hashes.size:
                # collision inside the table: dense-compare this group
                entries.append(("dense_mask", maskpos, gids_m, keys_m))
                continue
            order = np.argsort(hashes)
            entries.append(
                ("hash_mask", maskpos, hashes[order], gids_m[order],
                 keys_m[order])
            )
        plan[length] = ("hashed", entries)
    return plan


def _match_length(flat: np.ndarray, starts: np.ndarray, entry) -> np.ndarray:
    """Smallest matching gid per row (``_NO_MATCH`` = none) for the rows
    of one length group, whose tokens begin at ``starts`` in the flat
    values buffer.  Each length or mask group is one fancy-index gather
    ``flat[starts + positions]`` — the only per-group allocation; int32
    rows vs int64 patterns broadcast-compare without an upcast copy of
    the big side."""
    starts = starts[:, None]
    if entry[0] == "dense":
        _, gids, pats = entry
        mat = flat[starts + np.arange(pats.shape[1])]
        ok = (
            (pats[None, :, :] == mat[:, None, :]) | (pats[None, :, :] < 0)
        ).all(axis=2)
        hit = ok.any(axis=1)
        cand = np.full(mat.shape[0], _NO_MATCH)
        cand[hit] = gids[ok.argmax(axis=1)[hit]]
        return cand
    best: np.ndarray | None = None
    for sub_entry in entry[1]:
        kind, maskpos = sub_entry[0], sub_entry[1]
        sub = flat[starts + maskpos]
        n = sub.shape[0]
        if kind == "dense_mask":
            _, _, gids_m, keys_m = sub_entry
            ok = (keys_m[None, :, :] == sub[:, None, :]).all(axis=2)
            hit = ok.any(axis=1)
            c = np.full(n, _NO_MATCH)
            c[hit] = gids_m[ok.argmax(axis=1)[hit]]
        elif maskpos.size == 0:
            # all-wildcard template: matches every row of this length
            c = np.full(n, sub_entry[3][0])
        else:
            _, _, h_sorted, gids_m, keys_m = sub_entry
            h = _key_hash(sub)
            pos = np.minimum(
                np.searchsorted(h_sorted, h), h_sorted.size - 1
            )
            exact = (h_sorted[pos] == h) & (keys_m[pos] == sub).all(axis=1)
            c = np.where(exact, gids_m[pos], _NO_MATCH)
        best = c if best is None else np.minimum(best, c)
    return best


def parse_tokens_arrow(df: DataFrame, template_dim) -> DataFrame:
    """Assign ``gid`` by template match; unmatched rows get gid NULL.

    Every input row survives exactly once; where several templates match
    a row, the smallest gid wins.  The kernel never builds per-row Python
    objects: ``flatten()`` hands back the list column's underlying int32
    values buffer (zero-copy), offsets are reconstructed per Arrow batch
    from ``n_tok`` (the table invariant ``n_tok == len(tokens)``,
    BASELINE input_hint), and ``_match_length`` gathers each length
    group's rows from the buffer.  Only ``tokens`` and ``n_tok`` ship to
    Python; ``gid`` comes back — the rest of the row never leaves the
    JVM, so the token-array pass-through invariant is structural.  Map
    only: the plan is one ``ArrowEvalPython`` and no exchange, in batch
    and under Structured Streaming alike.
    """
    plan = _build_plan(template_dim)
    if not plan:
        return df.withColumn("gid", F.lit(None).cast("int"))

    @F.arrow_udf(T.IntegerType())
    def _match(tok: pa.Array, n_tok: pa.Array) -> pa.Array:
        if isinstance(tok, pa.ChunkedArray):
            tok = tok.combine_chunks()
        if isinstance(n_tok, pa.ChunkedArray):
            n_tok = n_tok.combine_chunks()
        if tok.null_count or n_tok.null_count:
            # flatten() silently SKIPS null list entries, which would
            # desynchronize the offset reconstruction below and assign
            # every subsequent row a neighbour's tokens — fail loudly
            # instead (the table contract forbids null tokens/n_tok,
            # BASELINE input_hint; null_count is O(1) metadata)
            raise ValueError(
                "parse_tokens_arrow: null tokens/n_tok rows violate the "
                "token-table contract (doc_id, tokens, n_tok, source all "
                "non-null) — filter or repair upstream"
            )
        lengths = n_tok.to_numpy(zero_copy_only=False).astype(np.int64)
        # values of the *logical* slice, in row order; int32, zero-copy
        flat = tok.flatten().to_numpy(zero_copy_only=False)
        offs = np.empty(len(lengths) + 1, dtype=np.int64)
        offs[0] = 0
        np.cumsum(lengths, out=offs[1:])
        out = np.full(len(lengths), -1, dtype=np.int64)
        for length, entry in plan.items():
            sel = np.nonzero(lengths == length)[0]
            if sel.size == 0:
                continue
            cand = _match_length(flat, offs[sel], entry)
            hit = cand < _NO_MATCH
            out[sel[hit]] = cand[hit]
        return pa.array(out.astype(np.int32), mask=(out < 0))

    return df.withColumn("gid", _match("tokens", "n_tok").cast("int"))

