"""Deduplication operators for the training-data surface.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — each designed around its shuffle profile:

* exact: one hash-groupBy on the sha2-256 content hash (partial agg
  collapses dupes map-side);
* MinHash/LSH: shingles -> K minhashes -> B bands; the only shuffle is the
  groupBy on (band, band-signature) buckets, candidate pairs verified
  within buckets — never an all-pairs join;
* SimHash: 64-bit signature; pigeonhole slices joined against their
  bit-flip variants;
* n-gram Jaccard: exact verification join for candidate pairs (testable
  at small scale; at 100 TB it runs only on LSH candidates);
* group closure: connected components by large-star/small-star
  contraction (:func:`near_dup_groups`, also the DAG component kernel);
* embedding cosine: see operators/similarity.py (shared kernel).

All hashing is sha2/xxhash64/md5-based and fully deterministic — the same
corpus dedups identically at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from logdag_spark.operators.text import tokenize

# cap on simhash_near_dups' driver-built (slice, flip-mask) table.  Every
# signature row fans out into one variant per mask, and the knobs allow
# tables the driver cannot hold (n_tables=1, max_hamming=8: ~5e9 masks)
MAX_FLIP_MASKS = 1 << 16


# ------------------------------------------------------------------- exact


def exact_dup_groups(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(content_hash, n_dups, keep_id) for groups with >1 member, keyed on
    the sha2-256 content hash: a 64-bit key would merge distinct
    documents at corpus scale (see :func:`minhash_dedup`)."""
    return (
        df.groupBy(F.sha2(F.col(col), 256).alias("content_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------- shingles


def shingles(col: str = "text", k: int = 3) -> Column:
    """Distinct token k-gram strings.

    The token array is LET-BOUND via a single-element ``transform`` so it
    materializes once per row: referencing the tokenize expression
    directly inside the per-index lambda would re-run the regex split per
    shingle — O(tokens²) work per document (measured 20x on real docs).
    """

    def per_doc(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
        return F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
        )

    return F.array_distinct(
        F.flatten(F.transform(F.array(tokenize(col)), per_doc))
    )


# ----------------------------------------------------------------- minhash


def minhash_signatures(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures, relationally: explode shingles once, hash each
    against ``num_hashes`` seeds, take per-doc minima in ONE hash
    aggregate.

    This shape matters three times at scale: the shingle set is computed
    exactly once per row (a single giant array expression re-inlines the
    whole tokenize->shingle pipeline per hash and explodes codegen); the
    string shingle is hashed ONCE and the K signature hashes derive from
    that base hash by affine integer mixing h_i = a_i*h + b_i (the
    standard universal-hash MinHash family) — K long multiplies instead
    of K string hashes per exploded row; and the groupBy(min) gets
    map-side partial aggregation, so the shuffle carries one signature
    row per document regardless of shingle count.
    Output: (_id, h0..h{n-1}).
    """
    # Two 31-bit base values per shingle, split from ONE xxhash64: a
    # single 31-bit base would cap shingle identity at 2^31 (at ~1e9
    # distinct shingles, base collisions alias two shingles across ALL K
    # signatures, inflating estimated Jaccard).  With the (low, high)
    # halves feeding the affine family, whole-shingle aliasing needs a
    # 62-bit collision of the full hash.  a*h1 + b*h2 + c < 2^63 so
    # ANSI-mode long math is safe, and the shingle string is hashed once.
    P = (1 << 31) - 1  # Mersenne prime
    M31 = F.lit((1 << 31) - 1).cast("long")
    exploded = df.select(
        F.col(id_col).alias("_id"), F.explode(shingles(col, k)).alias("_sh")
    )
    if hash_fn == "xxhash64":
        h64 = F.xxhash64("_sh")
        base = exploded.select(
            "_id",
            h64.bitwiseAND(M31).alias("_h1"),
            F.shiftrightunsigned(h64, 31).bitwiseAND(M31).alias("_h2"),
        )
    elif hash_fn == "md5":
        # SQL-portable base: md5 hex is engine-identical, so the two
        # 31-bit halves come from the first/second 8 hex digits —
        # slower than xxhash64 (string hex + parse) but exactly
        # replicable in the DuckDB oracle
        hx = F.md5("_sh")
        base = exploded.select(
            "_id",
            F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
            .bitwiseAND(M31).alias("_h1"),
            F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
            .bitwiseAND(M31).alias("_h2"),
        )
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")

    def mix(i: int):
        # deterministic per-seed affine constants in [1, P)
        a = (0x9E3779B9 * (2 * i + 1)) % P or 1
        b = (0x85EBCA6B * (i + 1)) % P or 1
        c = (0xC2B2AE35 * (i + 1)) % P
        return F.pmod(
            F.col("_h1") * F.lit(a) + F.col("_h2") * F.lit(b) + F.lit(c),
            F.lit(P),
        )

    # the K mixes live in the PROJECTION (codegen splits a wide project
    # into many small JIT-able methods) and the aggregate sees plain
    # columns — K mixed expressions inside min() aggs form one giant
    # method that blows the 8KB JIT limit and falls back to the
    # bytecode interpreter
    sh = base.select("_id", *[mix(i).alias(f"h{i}") for i in range(num_hashes)])
    return sh.groupBy("_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH.

    rows/band = num_hashes/bands; a pair collides if any band's slice of
    their signatures matches exactly.  Output: (id1, id2) distinct,
    id1 < id2.  The bucket join shuffles only (band, bucket-hash) keys —
    never an all-pairs product; heavy identical-content buckets are
    handled by AQE skew-split.

    The banded frame is persisted before the self-join: Catalyst plans
    the two aliases as two full scans of the shingle->signature pipeline
    (no exchange reuse across the broadcast boundary, verified on the
    executed plan), so without the cache the expensive half of the query
    runs twice.  The cached frame is ``bands`` small rows per document —
    bounded, disk-spilling, and strictly cheaper than recomputation at
    any corpus size.  Callers doing repeated interactive runs can
    ``spark.catalog.clearCache()`` between them.

    The banded frame is explicitly re-spread to ``defaultParallelism``
    partitions before it is persisted: its BYTES are tiny (bands rows of
    (id, band, bucket) per doc), so AQE's byte-based coalescing collapses
    the signature aggregate to 1-2 post-shuffle partitions — but the
    bucket join's probe side inherits the cache's partitioning, and the
    join OUTPUT (candidate pairs, quadratic within buckets) is orders of
    magnitude larger than its input.  Guide §2.5: partition for the work
    produced, not the bytes consumed.  Measured at sf1 (50k docs,
    local[32]): the full query went 6.1 s -> ~2 s once the pair
    enumeration ran on every core instead of two (the join segment
    itself is sub-second; the rest is signatures).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, col, id_col, k, num_hashes, hash_fn=hash_fn)
    n_spread = df.sparkSession.sparkContext.defaultParallelism

    def bucket_of(b: int):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_fn == "md5":
            # portable bucket: the band's raw signature joined as text
            # (xxhash64 of the band is Spark-only)
            return F.concat_ws("-", *[c.cast("string") for c in cols])
        return F.xxhash64(*cols)

    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), bucket_of(b).alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    banded = banded.repartition(n_spread).persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame, col: str = "text", id_col: str = "doc_id",
    k: int = 3, num_hashes: int = 32, bands: int = 8, jaccard_th: float = 0.8,
) -> DataFrame:
    """Near-dedup: collapse exact duplicates, LSH the distinct content,
    verify candidates by exact shingle Jaccard, keep smallest ids.

    The exact-collapse FIRST is the 100 TB survival property: real
    corpora contain millions of byte-identical boilerplate documents,
    and B identical docs sharing every LSH bucket emit B² candidate
    pairs — AQE skew-split fixes the shuffle skew but not the quadratic
    emission.  One hash aggregate (`sha2`-256 content groups — a 64-bit
    key like xxhash64 would expect birthday collisions at the 10^11-doc
    target scale and silently drop distinct docs that merge groups;
    min-id representative) reduces each such cluster to ONE row before
    any signature is computed, so the banded self-join sees only
    distinct content and the planted-heavy-cluster test observes O(B)
    candidates, not O(B²).  Non-representative members drop by
    definition (Jaccard 1.0 against a smaller id); a representative
    that near-dups a smaller representative drops with its whole
    content group.  Net semantics are unchanged — a doc survives iff it
    is the minimum id of its content group and that group's content
    does not near-dup any smaller-id content.
    """
    keyed = df.select(F.col(id_col).alias("_id"), F.sha2(F.col(col), 256).alias("_ch"))
    # persisted because it feeds BOTH the representative semi-join and the
    # final keep-set anti-join (one row per distinct content, disk-spilling;
    # recomputation would re-scan and re-aggregate the corpus — same
    # rationale as the banded-frame persist in minhash_lsh_candidates)
    groups = keyed.groupBy("_ch").agg(F.min("_id").alias("_rep")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    reps = df.join(
        groups.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    )
    cand = minhash_lsh_candidates(reps, col, id_col, k, num_hashes, bands)
    verified = ngram_jaccard_pairs(reps, cand, col, id_col).where(
        F.col("jaccard") >= jaccard_th
    )
    losing_reps = verified.select(F.col("id2").alias("_rep")).distinct()
    keep_reps = groups.join(losing_reps, "_rep", "left_anti").select(
        F.col("_rep").alias(id_col)
    )
    return df.join(keep_reps, id_col, "left_semi")


# ------------------------------------------------------------ n-gram jacc


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard over token 3-gram sets for given (id1, id2) pairs."""
    sh = df.select(F.col(id_col).alias("_id"), shingles(col).alias("_sh"))
    j = (
        pairs.join(sh.withColumnRenamed("_sh", "sh1"), pairs["id1"] == sh["_id"])
        .drop("_id")
        .join(
            sh.withColumnRenamed("_sh", "sh2").withColumnRenamed("_id", "_id2"),
            F.col("id2") == F.col("_id2"),
        )
        .drop("_id2")
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size(F.array_union("sh1", "sh2"))
    return j.select(
        "id1",
        "id2",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0).alias("jaccard"),
    )


def ngram_containment_pairs(
    df: DataFrame, pairs: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT for given (id1, id2) pairs:
    ``c1 = |g1∩g2| / |g1|`` and ``c2 = |g1∩g2| / |g2|`` over distinct
    token 3-gram sets.  The quote/subset detector Jaccard structurally
    misses: a short document embedded whole in a much larger one has
    c_small ≈ 1 while ``|A∩B|/|A∪B|`` stays tiny.  Same join shape as
    :func:`ngram_jaccard_pairs` (candidate pairs only — never all
    pairs at scale); 0.0 for an empty side."""
    sh = df.select(F.col(id_col).alias("_id"), shingles(col).alias("_sh"))
    j = (
        pairs.join(sh.withColumnRenamed("_sh", "sh1"), pairs["id1"] == sh["_id"])
        .drop("_id")
        .join(
            sh.withColumnRenamed("_sh", "sh2").withColumnRenamed("_id", "_id2"),
            F.col("id2") == F.col("_id2"),
        )
        .drop("_id2")
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    n1 = F.size(F.array_distinct("sh1"))
    n2 = F.size(F.array_distinct("sh2"))
    return j.select(
        "id1",
        "id2",
        F.when(n1 > 0, inter.cast("double") / n1).otherwise(0.0).alias("c1"),
        F.when(n2 > 0, inter.cast("double") / n2).otherwise(0.0).alias("c2"),
    )


def all_pairs_jaccard(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", th: float = 0.5
) -> DataFrame:
    """Brute-force all-pairs Jaccard >= th — the small-scale oracle path
    (the scale path is minhash_lsh_candidates + verification)."""
    ids = df.select(F.col(id_col).alias("id1"))
    ids2 = df.select(F.col(id_col).alias("id2"))
    pairs = ids.crossJoin(ids2).where(F.col("id1") < F.col("id2"))
    return ngram_jaccard_pairs(df, pairs, col, id_col).where(F.col("jaccard") >= th)


def near_dup_groups(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Collapse verified near-duplicate pairs (id1, id2) into dedup
    groups: connected components over the pair graph, each member labeled
    with its group's min doc id — the canonical representative a training
    pipeline keeps.  At oracle scale the pairs come from
    :func:`all_pairs_jaccard`; at 100 TB from
    :func:`minhash_lsh_candidates` + verification — the component pass
    only ever sees the (sparse) surviving pair graph, never the corpus.
    This is also the DAG component kernel
    (:func:`logdag_spark.operators.graphops.connected_components`).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): each
    round halves long chains (O(log n) rounds, not O(diameter) — a
    10^9-pair graph with long edit-chains converges in ~30 rounds), and
    every round is two groupBy passes over the edge list.

    large-star: every node u links its strictly-larger neighbors to
    min(N(u) ∪ {u}).  small-star: u links its not-larger neighbors and
    itself to that minimum.  Fixpoint = a star forest; each node's final
    neighbor is its component minimum.  Ids keep their own type — the
    algorithm only needs the column's total order (string doc ids like
    the generator's ``%013d-%s-%08d`` work; a long cast would crash
    ANSI-mode or NULL-out silently; struct ids order field by field).
    Raises if no fixpoint is reached in ``max_iter`` rounds.
    Output: (doc_id, group_id, is_canonical) over every node that
    appears in at least one pair (a self-pair contributes its node as a
    singleton group).
    """
    edges = (
        pairs.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    self_nodes = (
        pairs.where(F.col("id1") == F.col("id2"))
        .select(F.col("id1").alias("doc_id"))
        .distinct()
    )

    def sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = sym(e)
        m = (
            nbrs.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        return (
            nbrs.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient edges to (big, small) first
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = (
            o.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        linked = (
            o.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        return linked

    # per-round eager localCheckpoint truncates lineage; the PREVIOUS
    # round's blocks are released by the ContextCleaner once the loop
    # reassigns `cur` (the Python reference drop propagates through py4j
    # and the checkpointed RDD becomes unreachable), so live storage is
    # ~2 edge-list snapshots, not max_iter of them
    cur = edges.localCheckpoint(eager=True)
    cur_cnt = cur.count()
    for _ in range(max_iter):
        nxt = small_star(large_star(cur)).localCheckpoint(eager=True)
        nxt_cnt = nxt.count()
        # both frames are distinct sets, so equal cardinality plus one
        # empty difference proves set equality — no second exceptAll job
        if nxt_cnt == cur_cnt and nxt.exceptAll(cur).limit(1).count() == 0:
            cur = nxt
            break
        cur, cur_cnt = nxt, nxt_cnt
    else:
        raise RuntimeError(
            f"near_dup_groups did not converge in {max_iter} rounds"
        )
    # star forest: every edge is (member, root); roots link to themselves
    members = cur.select(F.col("u").alias("doc_id"), F.col("v").alias("group_id"))
    roots = cur.select(F.col("v").alias("doc_id"), F.col("v").alias("group_id")).distinct()
    out = members.unionByName(roots)
    singles = self_nodes.join(out.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("group_id")
    )
    out = out.unionByName(singles).distinct()
    return out.select(
        "doc_id", "group_id", (F.col("doc_id") == F.col("group_id")).alias("is_canonical")
    )


def dedup_keep_canonical(
    docs: DataFrame,
    groups: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Terminal dedup verdict: per-document keep/drop over the whole
    corpus, given the dup groups from :func:`near_dup_groups` (or the
    exact-hash groups).  A document is kept when it is in no group, or
    when it is its group's canonical member — the HIGHEST-``score_col``
    member (ties to the smallest id), the "keep the longest/best copy"
    rule a training pipeline actually executes (min-id canonical keeps
    an arbitrary copy; score-canonical keeps the most complete one —
    e.g. the superset page of a quote chain).

    Scale shape: the rank window partitions by ``group_id`` over the
    GROUPS frame only (bounded by the dup-pair closure, orders of
    magnitude smaller than the corpus — at 10^11 docs the grouped slice
    is the few % of docs with a near-duplicate); the corpus-side cost is
    one equi-join on the id.  Output: ``(id, group_id nullable, keep)``
    for every input document.
    """
    g = groups.select(id_col, "group_id").join(
        docs.select(id_col, F.col(score_col).alias("_score")), id_col
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("_score").desc(), F.col(id_col).asc()
    )
    can = g.withColumn("_rk", F.row_number().over(w))
    return (
        docs.select(id_col)
        .join(
            can.select(id_col, "group_id", (F.col("_rk") == 1).alias("_keep")),
            id_col,
            "left",
        )
        .select(
            id_col, "group_id", F.coalesce("_keep", F.lit(True)).alias("keep")
        )
    )


# ----------------------------------------------------------------- simhash


def simhash_signatures(
    df: DataFrame, col: str = "text", id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash signatures, relationally: explode tokens once, pack the 64
    per-bit vote counters into 16 longs (4 sixteen-bit lanes each) in the
    projection, sum those plus a token count in ONE hash aggregate, then
    unpack and majority-vote on the single row per document.

    Why packed: a 65-column sum aggregate (the previous shape) puts 64
    sum-update expressions in one generated method — past HotSpot's 8KB
    JIT limit the whole aggregate runs interpreted (~order-of-magnitude;
    the recorded 4.7s -> 7.3s regression).  17 aggregate columns stay
    JIT-compiled, map-side partial aggregation still collapses to one row
    per document per map partition, and the shuffle row shrinks 4x.

    Lane capacity: each 16-bit lane counts set bits over the document's
    tokens, so documents are capped at 65,535 tokens (far above real
    docs; longer ones would need a chunked two-level aggregate).  The
    majority vote ``2*n_b > n`` equals the former ±1-sum ``votes > 0``
    (ties -> bit 0).  Output: (_id, _sig long).
    """
    if hash_fn == "xxhash64":
        h = F.xxhash64("_t")
    elif hash_fn == "md5":
        # SQL-portable 60-bit base from the first 15 md5 hex digits (16
        # would overflow signed bigint parsing in the oracle engine);
        # signature bits 60-63 see a constant 0 and majority-vote to 0 on
        # BOTH engines — a documented quality haircut of the portable twin
        h = F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(tokenize(col)).alias("_t")
    ).withColumn("_h", h)
    one = F.lit(1).cast("long")

    def pack(j: int):
        # lanes i=0..3 carry bits b=4j+i at offsets 16*i
        expr = None
        for i in range(4):
            bit = F.shiftrightunsigned("_h", 4 * j + i).bitwiseAND(one)
            term = F.shiftleft(bit, 16 * i)
            expr = term if expr is None else expr + term
        return expr

    packed = toks.select(
        "_id", *[pack(j).alias(f"p{j}") for j in range(16)]
    )
    votes = packed.groupBy("_id").agg(
        F.count("*").alias("_n"),
        *[F.sum(f"p{j}").alias(f"p{j}") for j in range(16)],
    )
    lane_mask = F.lit(0xFFFF).cast("long")

    def unpack(j: int):
        # per-long signature contribution: bits 4j..4j+3
        expr = None
        for i in range(4):
            nb = F.shiftrightunsigned(f"p{j}", 16 * i).bitwiseAND(lane_mask)
            term = F.when(
                2 * nb > F.col("_n"),
                F.shiftleft(one, 4 * j + i),
            ).otherwise(F.lit(0).cast("long"))
            expr = term if expr is None else expr.bitwiseOR(term)
        return expr

    sig = None
    for j in range(16):
        part = unpack(j)
        sig = part if sig is None else sig.bitwiseOR(part)
    return votes.select("_id", sig.alias("_sig"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame, col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, n_tables: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming — EXACT
    (recall 1.0 vs brute force, covered by tests).

    Scale path — GENERALIZED pigeonhole (HmSearch-style): split the
    64-bit signature into ``n_tables`` disjoint slices with per-slice
    error budget ``tol = max_hamming // n_tables``; a pair within
    ``max_hamming`` total errors has some slice within ``tol`` errors
    (always: n_tables * (tol + 1) > max_hamming), and a slice match
    within tol is found EXACTLY ONCE by joining the smaller-id side's
    <=tol-bit-flip VARIANTS of its slice value against the larger-id
    side's exact value — the one variant that flips precisely the
    differing bits.  ``tol = 0`` (n_tables > max_hamming) degenerates
    to the classic exact-slice scheme.

    Why tolerant slices: narrow exact slices collide catastrophically
    on clustered corpora.  At sf1 (50k template-generated docs,
    max_hamming=8, 9.3M true pairs) the classic 9x7-bit scheme put 22k
    docs in ONE bucket and enumerated 2.1B candidates (~100 ns each of
    join machinery — 218 s of CPU) to keep 9.3M; 3x21-bit slices with
    tol=2 enumerate 283M for the same exact result.  The default
    ``n_tables = max(1, (max_hamming + 3) // 3)`` targets tol ~= 2 —
    candidate volume shrinks with 2^width while the variant fan-out
    (sum C(width, <=tol) ~ 700 rows/doc at tol 2) stays far below the
    bucket quadratics it removes.  At 100 TB the trade reads: ~70x more
    (tiny) probe rows through the bucket shuffle, quadratically fewer
    generated candidate pairs out of it — and n_tables stays a knob.

    The variant fan-out is a BROADCAST join against a <=2k-row
    driver-built (slice, flip-mask) table, not a literal array explode:
    a ~700-element struct-literal Generate blows the 8 KB JIT limit and
    runs interpreted (measured 60+ s), while the mask join is a small
    codegen'd BHJ.  The exact side is left to the planner: at bench
    scale it auto-broadcasts (one row per doc per slice), at corpus
    scale it becomes the shuffled side of a plain bucket join.

    Cross-slice dedup is a FIRST-MATCHING-SLICE filter, not
    distinct(): slice t emits a pair only when every earlier slice of
    ``sig1 XOR sig2`` carries more than ``tol`` set bits (pure codegen
    bit tests on the xor the hamming check already needs), so each
    surviving pair appears exactly once and the distinct()'s shuffle of
    every pre-dedup match (~48M rows at sf1 under the classic scheme)
    disappears.

    The signature frame (one row per document) is persisted before the
    self-join — the two sides otherwise re-run the
    tokenize->vote->signature pipeline twice — and is re-spread to
    ``defaultParallelism`` partitions first: one row per doc is so
    small that AQE's byte-based coalescing collapses it to 1-2
    post-shuffle partitions, serializing the join probe whose OUTPUT is
    quadratic within buckets (guide §2.5: partition for the work
    produced, not the bytes consumed).

    A numpy grouped-map kernel (bucket as XOR matrix, byte-LUT
    popcount) was measured and REJECTED: JVM codegen handles a
    candidate in ~85-100 ns (Long.bitCount is an intrinsic) vs
    ~320 ns/cell in numpy, and per-bucket grouping serializes the
    hottest bucket into one 72 s task where the join + AQE skew-split
    spreads it.
    """
    if n_tables is None:
        # aim for per-slice tolerance ~2: wide buckets (64/n bits)
        # against a bounded variant fan-out (~width²/2 per slice)
        n_tables = max(1, (max_hamming + 3) // 3)
    if not 1 <= n_tables <= 64:
        raise ValueError(
            f"n_tables must be in [1, 64], got {n_tables}"
        )
    tol = max_hamming // n_tables
    width = 64 // n_tables

    def slice_width(t: int) -> int:
        return width if t < n_tables - 1 else 64 - t * width

    def slice_of(c: Column, t: int) -> Column:
        w = slice_width(t)
        mask = (1 << w) - 1 if w < 64 else -1
        return F.shiftrightunsigned(c, t * width).bitwiseAND(
            F.lit(mask).cast("long")
        )

    from itertools import combinations
    from math import comb

    n_masks = sum(
        comb(slice_width(t), r) for t in range(n_tables) for r in range(tol + 1)
    )
    if n_masks > MAX_FLIP_MASKS:
        raise ValueError(
            f"max_hamming={max_hamming} over n_tables={n_tables} slices needs "
            f"{n_masks} flip masks (at most {MAX_FLIP_MASKS}): raise n_tables"
        )
    if tol > 0 and n_tables == 1:
        raise ValueError(
            "one 64-bit slice with max_hamming > 0 needs flip masks that "
            "overflow long: use n_tables >= 2"
        )
    mask_rows = [
        (t, sum(1 << p for p in c))
        for t in range(n_tables)
        for r in range(tol + 1)
        for c in combinations(range(slice_width(t)), r)
    ]

    sig = (
        simhash_signatures(df, col, id_col, hash_fn=hash_fn)
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    exact = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        slice_of(F.col("_sig"), t).alias("slice"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("s"),
    ).select("_id", "_sig", "s.t", "s.slice")
    if tol == 0:
        variants = exact
    else:
        masks = F.broadcast(
            df.sparkSession.createDataFrame(mask_rows, "t int, _m long")
        )
        variants = exact.join(masks, "t").select(
            "_id",
            "_sig",
            "t",
            F.col("slice").bitwiseXOR(F.col("_m")).alias("slice"),
        )
    a, b = variants.alias("a"), exact.alias("b")
    xor = F.col("a._sig").bitwiseXOR(F.col("b._sig"))
    # first-matching-slice predicate: slice t keeps a pair iff every
    # earlier slice of the xor carries more than tol errors
    first_match = F.lit(True)
    for t in range(1, n_tables):
        cond = F.lit(True)
        for tp in range(t):
            cond = cond & (F.bit_count(slice_of(xor, tp)) > tol)
        first_match = F.when(F.col("t") == t, cond).otherwise(first_match)
    return (
        a.join(b, ["t", "slice"])
        .where(F.col("a._id") < F.col("b._id"))
        .where(F.bit_count(xor) <= max_hamming)
        .where(first_match)
        .select(
            F.col("a._id").alias("id1"),
            F.col("b._id").alias("id2"),
            F.bit_count(xor).alias("hamming"),
        )
    )
