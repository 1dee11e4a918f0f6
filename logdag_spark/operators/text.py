"""Text-analysis operators for the training-data pipeline surface.

The reference's upstream tokenization is regex-based log parsing
(/root/reference/tutorial/ssh_parser.py:10-27); these operators extend
that to the document-corpus operations a 100 TB training-data pipeline
needs: tokenization/token counting, language ID, quality scoring, and
rolling-hash fingerprinting.  All are built-in-function column
expressions (JVM, codegen) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that with for on"
).split()


def tokenize(col: str = "text") -> Column:
    """Whitespace/punctuation tokenization — all maximal ``[a-z0-9_']``
    runs of the lowercased text (BPE-ish word pieces would slot in the
    same expression).

    Spelled as ``regexp_extract_all`` rather than the equivalent
    ``filter(split(lower(text), "[^a-z0-9_']+"), t -> t != '')``:
    ``StringSplit`` recompiles its pattern and round-trips through
    java.lang.String on EVERY row, and the higher-order filter is an
    interpreted per-element lambda — together ~1.1 ms of JVM CPU per
    300-char document (57 s of CPU to tokenize 50k docs, measured from
    the event log at sf1).  ``RegExpExtractAll`` caches the compiled
    pattern across rows and emits the kept tokens directly: 2.2 s ->
    0.43 s on the same explode (guide §1.2 step 2, per-task work).
    Output verified identical row-for-row on the full corpus (empty
    text -> [], NULL -> NULL, pure-delimiter text -> [])."""
    return F.regexp_extract_all(F.lower(F.col(col)), F.lit(r"[a-z0-9_']+"), 0)


def token_count(col: str = "text") -> Column:
    return F.size(tokenize(col))


def stopword_ratio(col: str = "text") -> Column:
    toks = tokenize(col)
    stop = F.size(F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in _STOPWORDS])))
    return F.when(F.size(toks) > 0, stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: str = "text") -> Column:
    n = F.length(col)
    np_ = F.length(F.regexp_replace(F.col(col), r"[^\p{Punct}]", ""))
    return F.when(n > 0, np_ / n).otherwise(F.lit(0.0))


def mean_word_length(col: str = "text") -> Column:
    toks = tokenize(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: str = "text") -> Column:
    """Composite [0,1] quality heuristic: length, stopword presence,
    punctuation moderation, plausible word lengths."""
    length_ok = F.when(F.length(col).between(50, 20000), 1.0).otherwise(0.3)
    stop_ok = F.when(stopword_ratio(col).between(0.05, 0.6), 1.0).otherwise(0.5)
    punct_ok = F.when(punct_ratio(col) < 0.2, 1.0).otherwise(0.4)
    wl = mean_word_length(col)
    wl_ok = F.when(wl.between(2.0, 12.0), 1.0).otherwise(0.5)
    return (length_ok * stop_ok * punct_ok * wl_ok).alias("quality")


def lang_id(col: str = "text") -> Column:
    """Tiny n-gram/stopword language heuristic (en/de/fr/unknown).

    A real model would be a broadcast n-gram table + the same expression
    shape; the scoring plumbing is what matters at scale.  The word array
    is let-bound (single-element transform, as in :func:`fingerprint`) so
    the lowercase + split runs once per row, not once per language.
    """

    def label(toks: Column) -> Column:
        def hits(words: list[str]) -> Column:
            return F.size(F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in words])))

        en = hits(["the", "and", "of", "is", "to", "in"])
        de = hits(["der", "die", "das", "und", "ist", "nicht"])
        fr = hits(["le", "la", "les", "et", "est", "dans"])
        return (
            F.when((en >= de) & (en >= fr) & (en > 0), "en")
            .when((de >= fr) & (de > 0), "de")
            .when(fr > 0, "fr")
            .otherwise("unknown")
        )

    toks = F.split(F.lower(F.col(col)), r"[^a-zà-ÿä-ü]+")
    return F.transform(F.array(toks), label)[0]


def fingerprint(col: str = "text", window: int = 8, hash_fn: str = "xxhash64") -> Column:
    """Document fingerprint: min over token ``window``-gram positions of
    a hash of the gram (winnowing-style).  Deterministic, shuffle-free.
    ``hash_fn='xxhash64'`` is the fast Spark-only hash; ``'md5'`` takes
    the first 8 md5 hex digits as an integer — md5 is engine-identical
    (Spark and DuckDB emit the same hex), so that variant gets an EXACT
    oracle.  The token array is let-bound (single-element transform) so
    the regex split runs once per row, not once per window position."""
    if hash_fn == "xxhash64":
        gram_hash = F.xxhash64
    elif hash_fn == "md5":
        def gram_hash(g: Column) -> Column:
            return F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn!r}")

    def per_doc(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0)))
        return F.array_min(
            F.transform(
                idx,
                lambda i: gram_hash(F.array_join(F.slice(toks, i + 1, window), " ")),
            )
        )

    return F.transform(F.array(tokenize(col)), per_doc)[0]


def pack_sequences(
    df: DataFrame,
    capacity: int,
    part_col: str = "source",
    order_col: str = "doc_id",
    col: str = "text",
    num_shards: int = 64,
    order_exact: bool = False,
    shard_width: int = 1_000_000,
) -> DataFrame:
    """Sequence-packing assignment: greedy packing of documents into
    fixed-capacity token bins, the layout step before writing packed
    training examples.

    Documents are packed in ``order_col`` order WITHIN each
    ``(part_col, pack_shard)`` group (bin id = exclusive running token
    total // capacity, so a doc straddling a boundary opens the next bin
    — the writer downstream truncates or pads).  A bin is identified by
    ``(part_col, pack_shard, pack_bin)``.

    The shard is the scale decision: a corpus has O(10) sources, so a
    window partitioned by ``part_col`` alone funnels each source's 10^11+
    rows through ONE window task regardless of cluster size.  Packing
    only needs locality — a bin's members must land together — never a
    single global order, so each source is split into ``num_shards``
    deterministic slices (the same multiplicative-hash bucket as
    operators/sampling, mod ``num_shards``; SQL-replicable for integer
    ids, xxhash64-derived otherwise) and the window runs per
    ``(source, shard)``: parallelism scales with ``num_shards``, not
    |sources|.  ``num_shards=1`` recovers the strict per-source
    contiguous order.  Output adds (n_tok, pack_shard, pack_bin,
    bin_offset); results are identical at any cluster parallelism.

    ``order_exact=True`` keeps the strict GLOBAL per-source ``order_col``
    order (the reference-writer semantics ``num_shards=1`` gives) but
    stays parallel: the running total comes from the two-pass
    distributed scan (``operators.scan.partitioned_prefix_sum`` —
    order-aligned ``shard_width`` slices, per-slice windows, broadcast
    slice offsets).  Requires a numeric ``order_col``; ``pack_shard`` is
    0 for every row and the output equals ``num_shards=1`` exactly
    (parity-tested) at any parallelism.
    """
    from logdag_spark.operators.sampling import SALT_PACK, bucket_for

    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    # integer `div`, not float division: a double quotient loses exactness
    # past 2^53, and per-partition running totals at 10^12-row corpora can
    # get there — the SQL oracle's `//` is exact, so this must be too
    def bins(with_excl: DataFrame) -> DataFrame:
        return (
            with_excl.withColumn("pack_bin", F.expr(f"_excl div {int(capacity)}"))
            .withColumn(
                "bin_offset",
                F.pmod(F.col("_excl"), F.lit(int(capacity))).cast("long"),
            )
            .drop("_excl")
        )

    if order_exact:
        from logdag_spark.operators.scan import partitioned_prefix_sum

        base = df.withColumn("n_tok", token_count(col)).withColumn(
            "pack_shard", F.lit(0)
        )
        return bins(
            partitioned_prefix_sum(
                base, "n_tok", order_col, part_cols=(part_col,),
                shard_width=shard_width, out_col="_excl",
            )
        )
    shard = (
        F.pmod(bucket_for(df, order_col, SALT_PACK), F.lit(num_shards))
        if num_shards > 1
        else F.lit(0)
    ).cast("int")
    w = Window.partitionBy(part_col, "pack_shard").orderBy(order_col)
    excl = F.coalesce(
        F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return bins(
        df.withColumn("n_tok", token_count(col))
        .withColumn("pack_shard", shard)
        .withColumn("_excl", excl)
    )


def unigram_logprob(
    df: DataFrame,
    model: DataFrame | None = None,
    col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = True,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """CCNet-style unigram quality score: the average negative natural
    log probability of a document's tokens under a unigram model (lower
    = more typical of the modeled corpus; high = gibberish / OOV-heavy).

    ``model`` is a (token, n) count table — defaults to the corpus
    itself (self-scoring, no OOV).  Token probabilities are n/N with the
    total carried as a broadcast one-row frame (no driver collect, no
    window); the model join broadcasts when ``broadcast_model`` (right
    for bounded vocabularies — set False for open web-scale vocabs and
    let AQE pick a shuffle join).  Tokens absent from a supplied model
    are scored at 1/N (add-one-style floor) rather than -inf.  A
    supplied model with duplicated token rows would fan the scoring join
    out 1:many (double-counting those tokens), so duplicates fail the
    job at execution time instead.

    Output: (id_col, n_tok, logprob) with logprob = round(avg(-ln p), 6)
    and 0.0 for empty documents.

    Cache lifecycle: the exploded token frame (≈ corpus token count in
    rows — a multiple of corpus size on executor storage at 100 TB) is
    persisted at ``storage_level`` for the lifetime of the RETURNED lazy
    frame; pass ``StorageLevel.DISK_ONLY`` to keep it out of executor
    memory, and release it with ``spark.catalog.clearCache()`` (or an
    explicit unpersist of the input) once the result is materialized —
    the entry shim does this between queries.
    """
    # persisted: in self-scoring mode the exploded token frame feeds the
    # model aggregate, the total, AND the scoring join — Catalyst plans
    # each alias as an independent pipeline (no exchange reuse), so
    # without the persist the corpus regex-split/explode runs 3x
    toks = df.select(F.col(id_col), F.explode(tokenize(col)).alias("token")).persist(
        storage_level
    )
    if model is None:
        model = toks.groupBy("token").agg(F.count("*").alias("n"))
    else:
        model = (
            model.groupBy("token")
            .agg(F.max("n").alias("n"), F.count(F.lit(1)).alias("_nm"))
            .select(
                "token",
                F.when(
                    F.col("_nm") > 1,
                    F.raise_error(
                        F.concat(
                            F.lit("unigram_logprob: duplicate model rows for token "),
                            F.col("token"),
                        )
                    ),
                )
                .otherwise(F.col("n"))
                .alias("n"),
            )
        )
    total = model.agg(F.sum("n").alias("_N"))
    m = F.broadcast(model) if broadcast_model else model
    scored = (
        # the total joins the TOKEN side (one broadcast row), not the
        # model side — an OOV token must still see _N for its 1/N floor
        toks.join(F.broadcast(total))
        .join(m, "token", "left")
        .withColumn("_p", F.coalesce(F.col("n"), F.lit(1)) / F.col("_N"))
        .groupBy(id_col)
        # n_tok rides the scoring aggregate — a separate tokenize() pass
        # on the df side would re-split every document a 4th time
        .agg(
            F.count("*").alias("n_tok"),
            F.round(F.avg(-F.log("_p")), 6).alias("logprob"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tok", F.lit(0)).cast("int").alias("n_tok"),
            F.coalesce("logprob", F.lit(0.0)).alias("logprob"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token chunks with ``overlap``
    shared tokens between consecutive chunks — the context-window
    preparation step before packing/training.

    Chunk ``i`` covers token positions ``[i*stride, i*stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap``; the last
    chunk may be short; empty documents produce no chunks.  Pure column
    expressions (sequence → transform → posexplode) — the token array is
    let-bound so the regex split runs once per row, and chunking adds no
    shuffle: each input row explodes into its own chunks in place.

    Output: (id_col, chunk_id, chunk_text, chunk_n_tok).
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be > 0, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    size = F.lit(int(chunk_tokens))

    def per_doc(toks: Column) -> Column:
        # number of chunks: ceil((n - overlap) / stride), at least one
        # for any non-empty doc; empty docs -> empty chunk list (guarded
        # BEFORE sequence(), which would otherwise step downward)
        n = F.size(toks)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(int(overlap))) / F.lit(int(stride))),
            F.lit(1),
        )
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                lambda i: F.slice(toks, i * stride + 1, size),
            ),
        ).otherwise(F.array().cast("array<array<string>>"))

    chunks = F.flatten(F.transform(F.array(tokenize(col)), per_doc))
    return (
        df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_c"))
        .select(
            id_col,
            "chunk_id",
            F.array_join("_c", " ").alias("chunk_text"),
            F.size("_c").alias("chunk_n_tok"),
        )
    )


def source_token_kl(
    df: DataFrame, col: str = "text", part_col: str = "source"
) -> DataFrame:
    """Per-source token-distribution drift: KL(source ‖ corpus) over the
    unigram distributions — the standard "is this slice's language
    shifting away from the mix?" telemetry for training-data pipelines.

    ``KL = Σ_t (c_st/n_s) · ln((c_st·N)/(n_s·c_t))`` over per-source
    token counts ``c_st`` — every factor is an integer count, the SQL
    oracle mirrors the same expression, and ``c_t > 0`` whenever
    ``c_st > 0`` (the corpus contains its sources), so no zero guard is
    needed.  Output: ``(part_col, n_tok, kl)``, ``kl`` rounded to 6
    decimals.

    Scale shape: one explode bounded by corpus token count and one
    map-side-combining (source, token) aggregate; everything after runs
    on that |sources|×|vocab| counts frame — corpus totals derive from
    it (never a second corpus scan), and the per-source totals frame is
    tiny and broadcast.
    """
    # counts leave the aggregate as DOUBLE: every downstream factor
    # multiplies two count-scale numbers (c_st·N, n_s·c_t), which
    # overflows 2^63 long arithmetic at 10^12-token corpora (ANSI mode
    # would throw; non-ANSI would wrap negative and ln() -> NULL,
    # silently dropping terms).  The SQL oracle computes in double from
    # the same point.  Persisted because four branches (c_t, n_s, total,
    # the term join) consume it — Catalyst plans no ReusedExchange across
    # DataFrame branches, so an unpersisted frame re-runs the corpus
    # tokenize+explode once per branch; the frame itself is compact
    # (|sources|×|vocab| rows).
    c_st = (
        df.select(F.explode(tokenize(col)).alias("_tok"), F.col(part_col))
        .groupBy(part_col, "_tok")
        .agg(F.count(F.lit(1)).cast("double").alias("_c_st"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c_t = c_st.groupBy("_tok").agg(F.sum("_c_st").alias("_c_t"))
    n_s = c_st.groupBy(part_col).agg(F.sum("_c_st").alias("_n_s"))
    total = n_s.agg(F.sum("_n_s").alias("_N"))
    term = (
        c_st.join(c_t, "_tok")
        .join(F.broadcast(n_s), part_col)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_term",
            (F.col("_c_st") / F.col("_n_s"))
            * F.log(
                (F.col("_c_st") * F.col("_N"))
                / (F.col("_n_s") * F.col("_c_t"))
            ),
        )
    )
    return (
        term.groupBy(part_col)
        .agg(
            F.first("_n_s").alias("_n"),
            F.round(F.sum("_term"), 6).alias("kl"),
        )
        .select(part_col, F.col("_n").cast("long").alias("n_tok"), "kl")
    )


def token_entropy(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram Shannon entropy in nats — the standard
    degenerate-text signal (near-0 entropy = one token repeated;
    boilerplate and keyword-stuffing sit low, natural prose high).

    Computed as ``ln(n) - (Σ c·ln c)/n`` over per-token counts ``c``
    (algebraically equal to ``-Σ p·ln p`` but every term is an integer
    count — the SQL oracle mirrors the same expression so both engines
    sum the same magnitudes).  Output: ``(id_col, n_tok, entropy)``,
    entropy rounded to 6 decimals, 0.0 for empty documents.

    Scale shape: explode bounded by corpus token count, two map-side-
    combining aggregates keyed by doc — no corpus-wide state.
    """
    toks = df.select(F.col(id_col), F.explode(tokenize(col)).alias("_tok"))
    per = (
        toks.groupBy(id_col, "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("_n"),
            F.sum(F.col("_c") * F.log("_c")).alias("_s"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_tok"),
            F.round(
                F.when(
                    F.coalesce("_n", F.lit(0)) > 0,
                    F.log("_n") - F.col("_s") / F.col("_n"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("entropy"),
        )
    )


def oov_stats(
    df: DataFrame,
    vocab: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary frame
    (one ``token`` column — typically :func:`vocab_topk`'s survivors):
    documents whose tokens mostly fall outside the corpus head are noise
    / wrong-language candidates, the classic cheap curation gate next to
    :func:`quality_score`.

    Output: ``(id_col, n_tok, n_oov, oov_frac)`` — counts long,
    ``oov_frac`` rounded to 6 decimals (0.0 for empty documents).

    Scale shape: one explode bounded by corpus token count, a BROADCAST
    left join against the top-k vocabulary (bounded by k, never by the
    corpus vocabulary), and one map-side-combining aggregate — no
    corpus-keyed shuffle beyond the per-doc count.
    """
    toks = df.select(F.col(id_col), F.explode(tokenize(col)).alias("_tok"))
    # distinct: a duplicated vocab row would fan out the 1:many join and
    # silently inflate n_tok (cheap — the frame is broadcast anyway)
    v = vocab.select(F.col("token").alias("_tok")).distinct().withColumn(
        "_in_v", F.lit(1)
    )
    per = (
        toks.join(F.broadcast(v), "_tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_tok"),
            F.sum(
                F.when(F.col("_in_v").isNull(), 1).otherwise(0)
            ).alias("_n_oov"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("_n_tok", F.lit(0)).cast("long").alias("n_tok"),
            F.coalesce("_n_oov", F.lit(0)).cast("long").alias("n_oov"),
        )
        .withColumn(
            "oov_frac",
            F.round(
                F.when(
                    F.col("n_tok") > 0, F.col("n_oov") / F.col("n_tok")
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )


def vocab_topk(df: DataFrame, k: int = 100, col: str = "text") -> DataFrame:
    """Corpus vocabulary: top-``k`` tokens by document-independent
    frequency (ties broken by token text for determinism).  One explode +
    one hash aggregate with map-side partial counts — the shuffle carries
    one row per distinct token per map partition, not per occurrence.
    The top-k itself is ``orderBy().limit(k)`` (per-partition partial
    top-k, TakeOrderedAndProject) and only the k survivors see a window
    — an unpartitioned ``row_number()`` window over the counts frame
    would funnel the whole distinct vocabulary (billions of tokens at
    corpus scale) through a single task."""
    counts = (
        df.select(F.explode(tokenize(col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w))


def corpus_report(
    df: DataFrame,
    dims: tuple[str, ...] = ("source", "lang"),
    col: str = "text",
) -> DataFrame:
    """Dataset-card rollup: doc / token / char totals at EVERY
    granularity of ``dims`` in one pass — per (source, lang), per
    source, per lang, and the corpus total — via ``cube`` (grouping
    sets), the same one-shuffle multi-granularity shape as the DAG
    side's A9 ``cube_stats``.  ``gid`` disambiguates a genuine NULL dim
    value from a rollup row (Spark ``grouping_id`` = SQL GROUPING bit
    mask, leftmost dim is the most significant bit).

    All aggregates are exact integers (counts and sums — no averages),
    so the SQL oracle matches bit-for-bit; consumers derive ratios.
    """
    toks = F.size(tokenize(col))
    return (
        df.withColumn("_nt", toks.cast("long"))
        .cube(*[F.col(d) for d in dims])
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.sum(F.length(col).cast("long")).alias("n_chars"),
            F.max("_nt").alias("max_tokens"),
        )
    )
