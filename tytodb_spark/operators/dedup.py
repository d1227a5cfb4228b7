"""Deduplication operators for LLM-data pipelines (BASELINE.json mandate).

Four families, each the standard scale-out construction:

- exact: normalize → hash-groupBy (one shuffle on the content key).
- MinHash + LSH banding: shingle → H seeded min-hashes → b bands →
  bucket-join candidates → exact-Jaccard verify. All JVM expressions
  (seeded xxhash64 per shingle), no Python in the hot path; candidate
  generation touches only same-bucket pairs, never O(N²).
- SimHash: 64-bit weighted bit-vote signature; near-dups join on
  16-bit band equality (Hamming ≤ 3 over 4 bands guarantee).
- Embedding cosine: exact pair similarity above a threshold (see
  operators/similarity.py for the ANN variant).

Reference parity note: the reference has no dedup surface at all —
closest is first-column uniqueness via the index (src/indexing.rs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tytodb_spark.operators.textual import shingle_table, spread, word_ngrams


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalize_text(col):
    """Canonical form for exact matching: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash groups: (content_key, keep_id, n_copies). Keep the
    minimum id as the survivor — deterministic at any parallelism."""
    return (
        df.select(
            F.md5(normalize_text(F.col(text_col))).alias("content_key"),
            F.col(id_col).alias("__id"),
        )
        .groupBy("content_key")
        .agg(F.min("__id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Survivors only (min-id per normalized content)."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature(shingles, num_hashes: int = 64):
    """H seeded min-hashes over a shingle array — xxhash64(seed, shingle)
    is an independent-enough hash family per seed, all codegen'd."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda seed: F.array_min(
            F.transform(shingles, lambda s: F.xxhash64(seed, s))
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified with exact Jaccard.

    Shuffle profile at scale: explode is b rows/doc (16×), the band join
    only meets same-bucket docs, and the verify join ships shingle sets
    for candidate pairs only. Skewed buckets (boilerplate docs) are the
    risk — AQE skew-join handles moderate skew; extreme boilerplate
    should be exact-deduped first (it is, in the declared pipeline).

    Plan shape matters: the signature is materialized in a projection
    BELOW the band explode (the Generate boundary stops CollapseProject
    from inlining it), so the 64-minhash array is computed once per doc
    and each band row just slices it — inlining the signature into the
    band structs re-min-hashes per band (~10× slower, measured).

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    rows_per_band = num_hashes // num_bands
    # materialized + cached shingle sets (optimizer barrier — see
    # textual.shingle_table): banding and both verify sides reuse them
    base = shingle_table(df, id_col, text_col, shingle_n).select("__id", "__sh")
    sig = base.select(
        "__id", minhash_signature(F.col("__sh"), num_hashes).alias("__sig")
    )
    banded = (
        sig.select(
            "__id",
            "__sig",
            F.explode(F.sequence(F.lit(0), F.lit(num_bands - 1))).alias("band"),
        )
        .select(
            "__id",
            "band",
            F.xxhash64(
                F.slice("__sig", F.col("band") * rows_per_band + 1, rows_per_band)
            ).alias("bucket"),
        )
    )

    left = banded.select(F.col("__id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("__id").alias("id_b"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    sh = base.select(F.col("__id"), F.col("__sh"))
    verified = (
        candidates.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def minhash_lsh_pairs_incremental(
    df: DataFrame,
    id_col: str,
    text_col: str,
    new_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection: the pair search restricted to
    pairs that INVOLVE a new-batch document (``new_col`` boolean) — the
    daily-corpus-update shape. The band join probes new-batch band rows
    against the full banded corpus, so old×old pairs are never
    generated or verified: for a new batch of size m against a corpus
    of size N the candidate work is O(m·bucket) instead of re-running
    the full O(N·bucket) dedup. Signatures/banding/verify are shared
    with :func:`minhash_lsh_pairs` semantics (same recall guarantee).

    Output: (id_a, id_b, jaccard) canonical id order, ≥1 side new.
    """
    rows_per_band = num_hashes // num_bands
    base = shingle_table(df, id_col, text_col, shingle_n).select("__id", "__sh")
    flags = df.select(F.col(id_col).alias("__id"), F.col(new_col).alias("__new"))
    sig = base.join(flags, "__id").select(
        "__id", "__new", minhash_signature(F.col("__sh"), num_hashes).alias("__sig")
    )
    banded = sig.select(
        "__id",
        "__new",
        F.explode(F.sequence(F.lit(0), F.lit(num_bands - 1))).alias("band"),
        "__sig",
    ).select(
        "__id",
        "__new",
        "band",
        F.xxhash64(
            F.slice("__sig", F.col("band") * rows_per_band + 1, rows_per_band)
        ).alias("bucket"),
    )
    left = banded.filter(F.col("__new")).select(
        F.col("__id").alias("__l"), "band", "bucket"
    )
    right = banded.select(F.col("__id").alias("__r"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("__l") != F.col("__r"))
        .select(
            F.least("__l", "__r").alias("id_a"),
            F.greatest("__l", "__r").alias("id_b"),
        )
        .distinct()
    )
    sh = base
    verified = (
        candidates.join(
            sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a"
        )
        .join(
            sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b"
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def cross_source_dup_matrix(
    df: DataFrame, id_col: str, text_col: str, source_col: str
) -> DataFrame:
    """Cross-source exact-duplicate accounting: for every unordered
    source pair, how many distinct content keys occur in BOTH — the
    contamination/overlap matrix a corpus assembler checks before
    mixing crawls (and the cheap preview of benchmark contamination).

    Two narrow shuffles: distinct (content key, source) — map-side
    partials collapse each partition to its distinct pairs — then a
    self-join on the key. The key side is an md5, so the join never
    ships document text.

    Output: (src_a, src_b, n_shared) with src_a < src_b."""
    keys = df.select(
        F.md5(normalize_text(F.col(text_col))).alias("__key"),
        F.col(source_col).alias("__src"),
    ).distinct()
    a = keys.select(F.col("__key"), F.col("__src").alias("src_a"))
    b = keys.select(F.col("__key"), F.col("__src").alias("src_b"))
    return (
        a.join(b, "__key")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64_portable(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Engine-portable SimHash: each distinct token hashes to 64 bits via
    md5 (two 32-bit hex halves), votes ±1 per bit, sign of the vote sum
    becomes the bit. The hash family (md5 → hex → int) is one ANY engine
    reproduces bit-for-bit, so a DuckDB oracle can recompute identical
    signatures. Map-only (one fold over the token array with a 64-wide
    zip_with accumulator; no shuffle, no Python).

    Output: (id, simhash) — bit i of the signature = majority vote of
    token-hash bit i (strict: ties → 0)."""
    votes = F.expr(
        """
        aggregate(
          transform(__tk, t -> named_struct(
            'hi', cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint),
            'lo', cast(conv(substr(md5(t), 9, 8), 16, 10) as bigint))),
          array_repeat(cast(0 as bigint), 64),
          (acc, v) -> zip_with(
            acc,
            transform(sequence(0, 63), i ->
              case when i < 32 then (v.lo >> i) & 1
                   else (v.hi >> (i - 32)) & 1 end),
            (a, b) -> a + b)
        )
        """
    )
    # bit i set ⇔ set-votes strictly beat unset-votes: 2·cnt_i > n_tokens
    packed = F.expr(
        """
        aggregate(
          zip_with(__votes, sequence(0, 63),
                   (c, i) -> if(2 * c > __n, shiftleft(cast(1 as bigint), i),
                                cast(0 as bigint))),
          cast(0 as bigint), (acc, b) -> acc + b)
        """
    )
    return (
        spread(df.select(F.col(id_col), F.col(text_col).alias("__txt")), id_col)
        .select(
            F.col(id_col),
            F.array_distinct(word_ngrams(F.col("__txt"), 1)).alias("__tk"),
        )
        .filter(F.size("__tk") > 0)
        .select(F.col(id_col), votes.alias("__votes"), F.size("__tk").alias("__n"))
        .select(F.col(id_col), packed.alias("simhash"))
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: split the 64-bit signature into
    4 16-bit bands; Hamming ≤ 3 implies at least one band is identical
    (pigeonhole), so a 4-way band self-join finds all such pairs without
    a cross join. Verified with an exact popcount filter.

    The signatures are :func:`simhash64_portable`'s (bit-identical in
    other engines → DuckDB oracle-checkable).

    The signature table is checkpointed: both sides of the band
    self-join consume it, and without the barrier each branch would
    re-run the signature computation over the full corpus (map-side
    work gets no shuffle-stage reuse, unlike the old groupBy
    formulation). localCheckpoint rather than persist so the blocks
    are released with the plan by the context cleaner — an operator
    cannot unpersist a frame it returns."""
    sh = simhash64_portable(df, id_col, text_col).localCheckpoint(eager=False)
    banded = sh.select(
        F.col(id_col).alias("__id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("__id", "simhash", "bb.band", "bb.bucket")
    left = banded.select(F.col("__id").alias("id_a"), F.col("simhash").alias("sim_a"), "band", "bucket")
    right = banded.select(F.col("__id").alias("id_b"), F.col("simhash").alias("sim_b"), "band", "bucket")
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (exact; ANN variant in similarity.py)
# ---------------------------------------------------------------------------


def dot(x, y):
    """Dot product of two array<float> columns, accumulated in double
    with a deterministic left-fold (same fold DuckDB's list ops use —
    bit-stable across engines)."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(vec_a, vec_b):
    """Cosine similarity between two array<float> columns (see `dot`).
    Per-pair use recomputes both norms — when one side is fixed across
    many pairs, hoist the norms like `embedding_dup_pairs` does."""
    return dot(vec_a, vec_b) / (F.sqrt(dot(vec_a, vec_a)) * F.sqrt(dot(vec_b, vec_b)))


def _scored_pairs(cand: DataFrame, threshold: float) -> DataFrame:
    """Score candidate (id_a, va, na, id_b, vb, nb) rows; canonical id
    order in the output (cos is orientation-symmetric: the zip_with
    fold multiplies the same doubles in the same sequence either way)."""
    return (
        cand.withColumn(
            "cos_sim",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cos_sim",
        )
    )


def _with_norm(df: DataFrame, id_col: str, vec_col: str, suffix: str, *extra):
    # norms are per-ROW invariants: computing them before the join does
    # 2N dot products once instead of 2·|pairs| inside the pair loop —
    # per pair only the cross dot remains (≈3× less array-fold work,
    # the dominant cost of exact scoring)
    return df.select(
        *extra, F.col(id_col).alias(f"id_{suffix}"), F.col(vec_col).alias(f"v{suffix}")
    ).withColumn(f"n{suffix}", F.sqrt(dot(F.col(f"v{suffix}"), F.col(f"v{suffix}"))))


def _triangle_pairs(
    df: DataFrame, id_col: str, vec_col: str, n_blocks: int
) -> DataFrame:
    """Exact all-pairs candidates WITHOUT a broadcast: hash rows into B
    blocks and meet every unordered block pair (i ≤ j) — each side is
    replicated ~B/2× and the join shuffles on the (i, j) composite, so
    parallelism is B(B+1)/2 block-pairs and NO task ever holds more
    than 2/B of the corpus (the broadcast formulation holds all of it
    in every executor — the 100 TB OOM). Same-block candidates appear
    in both orientations → keep id_a < id_b; cross-block pairs appear
    once in arbitrary orientation → keep all (canonicalized later)."""
    spark = df.sparkSession
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "__ba int, __bb int",
    )
    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    base = df.withColumn("__b", bucket)
    a = _with_norm(base, id_col, vec_col, "a", "__b").withColumnRenamed(
        "__b", "__ba"
    ).join(F.broadcast(block_pairs), "__ba")
    b = _with_norm(base, id_col, vec_col, "b", "__b").withColumnRenamed(
        "__b", "__bb"
    ).join(F.broadcast(block_pairs), "__bb")
    return a.join(b, ["__ba", "__bb"]).filter(
        (F.col("__ba") != F.col("__bb")) | (F.col("id_a") < F.col("id_b"))
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    build_rows: int | None = None,
    broadcast_max_rows: int = 100_000,
) -> DataFrame:
    """Exact near-dup pairs by cosine ≥ threshold.

    Strategy is SIZE-GATED, never unconditional:

    - build side ≤ ``broadcast_max_rows`` (≈ tens of MB of vectors):
      broadcast it and spread the probe side — every core produces its
      share of pairs in place, zero pair shuffle.
    - larger + ``block_col`` (an LSH bucket, label, IVF cell): plain
      shuffle join on the block key — AQE splits skewed blocks and
      never materializes the corpus in one executor.
    - larger + no block key: triangle block decomposition
      (:func:`_triangle_pairs`) — exact all-pairs with bounded
      per-task memory. (At true corpus scale you almost always want a
      block_col from q42/q49 instead; this bounds the no-key case.)

    ``build_rows`` skips the gating count when the caller already knows
    the cardinality."""
    keys = [block_col] if block_col else []
    n = build_rows if build_rows is not None else df.select(id_col).count()
    if n <= broadcast_max_rows:
        a = spread(_with_norm(df, id_col, vec_col, "a", *keys), "id_a")
        b = F.broadcast(_with_norm(df, id_col, vec_col, "b", *keys))
        joined = a.join(b, keys) if keys else a.crossJoin(b)
        cand = joined.filter(F.col("id_a") < F.col("id_b"))
    elif keys:
        a = _with_norm(df, id_col, vec_col, "a", *keys)
        b = _with_norm(df, id_col, vec_col, "b", *keys)
        cand = a.join(b, keys).filter(F.col("id_a") < F.col("id_b"))
    else:
        para = df.sparkSession.sparkContext.defaultParallelism
        n_blocks = max(4, int((2 * para) ** 0.5))
        cand = _triangle_pairs(df, id_col, vec_col, n_blocks)
    return _scored_pairs(cand, threshold)


# ---------------------------------------------------------------------------
# near-dup clustering (connected components over the pair graph)
# ---------------------------------------------------------------------------


def connected_components(
    pairs_df: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components of the (undirected) pair graph by iterative
    min-label propagation — the step near-dup DEDUP actually needs after
    pair finding: "keep one doc per duplicate CLUSTER", not per pair
    (A~B, B~C must collapse A,B,C together even when A≁C directly).

    Each iteration: every vertex takes the min of its own label and its
    neighbors' labels (one shuffle round), then POINTER-JUMPS — also
    takes its current label's label (path halving, one co-keyed
    self-join). Plain neighbor-min needs graph-DIAMETER rounds; the
    jump lets labels travel through labels, so rounds are O(log
    diameter) — measured 10 → 4 rounds on sf0.1's 10-chains and the
    difference grows with chain length (a diameter-1000 mirror chain:
    ~10 jumped rounds vs 1000). Fixed points are unchanged: labels
    only decrease, the min vertex keeps its own id, and a state fixed
    under BOTH steps is constant along every edge, i.e. component =
    min reachable id — identical output, fewer rounds.

    The loop is driver-side CONTROL only (a convergence counter — no
    data ever reaches the driver); per-iteration lineage is cut with
    localCheckpoint so the plan doesn't grow exponentially. Skew note
    for the jump join: the build side (vertex → label) is unique-keyed
    and the probe side hashes on `component`, which concentrates as
    components coalesce — AQE skew-join splits those partitions, and
    the alternative (star alternation, :func:`connected_components_star`)
    remains the forced-choice regime for adversarially star-shaped
    graphs. This is the standard MapReduce-CC construction plus the
    Hash-to-Min-style path-halving refinement.

    Output: (vertex, component) — component = min vertex id reachable.
    """
    edges = (
        pairs_df.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            pairs_df.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
    )
    for i in range(max_iters):
        # shuffle_hash hints (round 11, guide §3.1): every per-round
        # join pairs the edge set against a node-sized, UNIQUE-keyed
        # table (labels / neighbor-min / root), and checkpointed scans
        # default to SortMergeJoin — sorting both sides every round for
        # nothing. Hash-building the unique-keyed side skips the sorts
        # (q171 interleaved A/B min +35.6%, all reps; build memory is
        # one label row per vertex per partition, hash-uniform).
        neighbor_min = (
            edges.join(labels.hint("shuffle_hash"), edges.src == labels.vertex)
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # carry the previous label through the checkpoint so convergence
        # is a scan of already-materialized partitions — not an extra
        # join+shuffle job per round
        stepped = labels.join(
            neighbor_min.hint("shuffle_hash"), "vertex", "left"
        ).select(
            "vertex",
            F.col("component").alias("__prev"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        # pointer jump (path halving): component <- label(component),
        # looked up in the PREVIOUS round's labels — already
        # checkpointed, so the jump join never duplicates this round's
        # neighbor-min subtree (a self-join on `stepped` would compute
        # it twice). Reach doubles per round: prev labels encode paths
        # of length r, the neighbor step adds one hop, and the jump
        # splices the two — r' = 2r + 1. Skipped for the first two
        # rounds: dense near-dup graphs (diameter 2-3) converge before
        # a jump could shorten anything, so they never pay the extra
        # exchange; chain-shaped graphs start doubling from round 3
        # (reach 1, 2, 5, 11, 23, ... — still O(log diameter) rounds).
        if i >= 2:
            root = labels.select(
                F.col("vertex").alias("__rv"),
                F.col("component").alias("__rc"),
            )
            stepped = stepped.join(
                root.hint("shuffle_hash"), stepped.component == root.__rv, "left"
            ).select(
                "vertex",
                "__prev",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__rc"), F.col("component")),
                ).alias("component"),
            )
        stepped = stepped.localCheckpoint(eager=True)  # cut lineage each round
        changed = (
            stepped.filter(F.col("component") != F.col("__prev")).limit(1).count()
        )
        labels = stepped.drop("__prev")
        if changed == 0:
            break
    else:
        # exhausting max_iters without a fixed point means labels are
        # still mid-propagation (min ids have only traveled max_iters
        # hops) — silently returning them mislabels every component
        # wider than that. Same contract as connected_components_star:
        # fail loudly; callers with long chains should raise max_iters
        # or use the star variant (its regime).
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iters={max_iters} (graph diameter exceeds the round "
            f"budget); raise max_iters or use connected_components_star"
        )
    return labels


def connected_components_star(
    pairs_df: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., MapReduce CC) — converges in O(log² n) rounds
    instead of the graph DIAMETER that min-label propagation
    (:func:`connected_components`) needs, which is what matters when
    near-dup chains get long (bot-generated template families, crawl
    mirror chains). Per round:

    - **large-star**: every node hangs its LARGER neighbors onto its
      current minimum (strictly-decreasing potential, no star grows);
    - **small-star**: every node and its smaller neighbors re-hang onto
      the minimum of that neighborhood (flattens chains into stars).

    Each step is one groupBy shuffle over the edge set; edges only
    shrink toward the final star forest. Convergence is detected with a
    (count, xxhash64-bit_xor) edge-set signature — an equality proxy
    whose collision odds (~2⁻⁶⁴/round) are immaterial.

    Output: (vertex, component) — component = min vertex id reachable,
    identical to :func:`connected_components` on any input."""
    und = (
        pairs_df.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(pairs_df.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def neighborhood_min(edges: DataFrame) -> DataFrame:
        return edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    def signature(edges: DataFrame):
        # bit_xor, not sum: order-insensitive AND overflow-free under
        # ANSI arithmetic (edge sets are distinct, so xor parity is safe)
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    sig = signature(und)
    converged = False
    for _ in range(max_iters):
        # large-star: (v, m(u)) for v > u. NO intermediate distinct —
        # its only consumer is the oriented transform below, and
        # distinct(f(x)) == distinct(f(distinct(x))), so the dedup
        # exchange bought nothing (round-11 fusion: the per-round
        # large.distinct() + oriented.distinct() exchanges and the und
        # re-checkpoint were all removable with identical labels —
        # measured q112 7.15→5.97 s / q378-family unaffected, see
        # OPTIMIZATION_r11.md).
        lm = neighborhood_min(und)
        large = (
            # shuffle_hash hints (round 11, guide §3.1): both per-round
            # joins pair the edge set against the node-sized, unique-
            # keyed neighborhood-min table; SMJ's per-round sorts are
            # pure overhead next to the hash build (q112 interleaved
            # A/B min +5.1%, q171's merge phase rides the same code —
            # +35.6% combined with the label-prop hints; all reps won).
            und.join(lm.hint("shuffle_hash"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star over edges oriented high→low: node u and its
        # smaller neighbors all re-hang onto the neighborhood min.
        # No distinct here either: sm's min-aggregate is duplicate-
        # insensitive, and the join's duplicate outputs are removed by
        # small's OWN distinct — the one exchange that must stay (the
        # signature and the next round's edge set need set semantics).
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        sm = neighborhood_min(oriented)
        small = (
            oriented.join(sm.hint("shuffle_hash"), "u")
            .select(F.col("v"), F.col("m"), F.col("u"))
            .select(
                F.explode(F.array(F.col("v"), F.col("u"))).alias("u"),
                F.col("m").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = signature(small)
        # und is two map-side projections of the checkpointed `small`;
        # its two consumers next round (neighborhood_min + the join
        # probe) plan the identical Exchange(hash u), which
        # ReusedExchange dedups — a second checkpoint materialization
        # per round bought nothing.
        und = small.union(
            small.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # The final star extraction below assumes a converged star
        # forest; on an unconverged edge set the labels would be silently
        # wrong (not the true min id). 30 rounds >> log²(n) for any
        # plausible input, so reaching here means something is broken —
        # fail loudly rather than return approximate components as exact.
        raise RuntimeError(
            f"connected_components_star: edge set did not reach a fixed "
            f"point within max_iters={max_iters}; labels would be "
            f"unreliable (raise max_iters or use cc='label')"
        )
    # final star forest: every remaining directed edge (u→v) has v = the
    # component root; roots label themselves
    stars = und.filter(F.col("u") > F.col("v"))
    members = stars.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
    roots = stars.select(F.col("v").alias("vertex")).distinct().withColumn(
        "component", F.col("vertex")
    )
    return members.groupBy("vertex").agg(F.min("component").alias("component")).union(
        roots
    ).groupBy("vertex").agg(F.min("component").alias("component"))


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    method: str = "lsh",
    cc: str = "auto",
) -> DataFrame:
    """End-to-end near-dup clustering: near-dup pairs → connected
    components → one cluster id (min doc id) per document that has at
    least one near-duplicate.

    ``method="lsh"`` (default) finds pairs with MinHash-LSH banding +
    exact verify — the 100 TB path (candidate generation never goes
    O(N²) even without a prefix-filterable threshold). ``"exact"`` uses
    the AllPairs prefix filter; both verify candidates with exact
    Jaccard, so at r=4/b=16 and t=0.5 their pair sets coincide (LSH
    miss probability for a qualifying pair is ≤(1-t^r)^b ≈ 3e-8).

    ``cc`` picks the component labeler: ``"auto"`` (default) runs
    min-label propagation — O(diameter) rounds with ONE shuffle each,
    optimal for near-dup graphs (clusters are small and dense, diameter
    2-3; measured ~1.5× faster than star here) — and escalates to
    large-star/small-star if the diameter bound trips, so long chains
    (template families, mirror chains) converge instead of raising.
    ``"label"`` / ``"star"`` force a single regime. All produce
    identical (vertex, min-id) labels on convergence."""
    if method == "lsh":
        pairs = minhash_lsh_pairs(df, id_col, text_col, shingle_n=n, threshold=threshold)
    else:
        from tytodb_spark.operators.textual import jaccard_pairs

        pairs = jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)
    if cc not in ("auto", "label", "star"):
        raise ValueError(f"cc must be 'auto', 'label' or 'star' (got {cc!r})")
    cc_fn = {
        "star": connected_components_star,
        "label": connected_components,
        "auto": connected_components_auto,
    }[cc]
    comp = cc_fn(pairs, "id_a", "id_b")
    return comp.select(
        F.col("vertex").alias(id_col), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then near-dup within cluster)
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k_seeds: int = 8,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): partition the embedding space into
    clusters, then drop semantic duplicates WITHIN each cluster — the
    pairwise cos blow-up is bounded by cluster size instead of corpus
    size, which is the whole trick at 100 TB.

    Clustering here is deterministic nearest-of-k-seeds (seeds = the k
    lowest ids; swap in kmeans_lloyd centroids in production — same
    plan, trained centroids). Assignment is one broadcast of k vectors
    + a map-side argmax (cos rounded to 6 so the argmax is portable;
    ties break to the lowest seed id). The keep rule is the one-pass
    formulation: x is dropped iff some LOWER-id member of its cluster
    is cos-≥-threshold similar — deterministic, no iteration, and at
    least one member of every duplicate group survives (the group's
    min id is never dropped).

    Skewed mega-clusters are the known hazard: the intra-cluster pair
    join shuffles on the cluster key, AQE splits moderate skew, and
    `embedding_dup_pairs` (reused here) already refuses to broadcast
    beyond its size gate; beyond that, sub-shard hot clusters with an
    SRP bucket (srp_signatures) as a secondary key.

    Output: (id, cluster, is_kept) — one row per input row.
    """
    seeds = df.orderBy(id_col).limit(k_seeds)
    a = _with_norm(df, id_col, vec_col, "a")
    s = _with_norm(seeds, id_col, vec_col, "s")
    scored = (
        spread(a, "id_a")
        .crossJoin(F.broadcast(s))
        .select(
            "id_a",
            "va",
            F.col("id_s"),
            F.round(
                dot(F.col("va"), F.col("vs")) / (F.col("na") * F.col("ns")), 6
            ).alias("__cos"),
        )
    )
    w = W.partitionBy("id_a").orderBy(F.col("__cos").desc(), F.col("id_s"))
    # cache the assignment: the pair join consumes it twice, the final
    # keep-flag join a third time, and embedding_dup_pairs' size gate
    # counts it — uncached, each re-runs the corpus-wide argmax (plan
    # audit: 6 scans). This is the operator's working set ((id, vec,
    # cluster)); at 100 TB prefer persist(MEMORY_AND_DISK) semantics —
    # cache() already spills.
    assigned = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_a").alias(id_col),
            F.col("va").alias(vec_col),
            F.col("id_s").cast("bigint").alias("cluster"),
        )
        .cache()
    )
    pairs = embedding_dup_pairs(
        assigned, id_col, vec_col, threshold=threshold, block_col="cluster"
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return assigned.join(
        dropped.withColumn("__dropped", F.lit(True)), id_col, "left"
    ).select(
        F.col(id_col),
        "cluster",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# fuzzy decontamination (MinHash-LSH probe against a benchmark corpus)
# ---------------------------------------------------------------------------


def fuzzy_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag training documents whose
    shingle-Jaccard to ANY benchmark document is >= ``threshold`` —
    the near-duplicate upgrade of exact n-gram decontamination
    (`textual.decontaminate`), catching lightly-edited or partially
    paraphrased eval leakage that exact gram membership misses.

    The shape is ASYMMETRIC minhash-LSH: the benchmark side is
    KBs-to-MBs while the training side is the 100 TB corpus, so the
    benchmark band buckets AND benchmark shingle sets are broadcast.
    The corpus-side pass is then: signature -> band slice -> map-side
    hash-join probe (no shuffle of the train side at all), and exact
    Jaccard verification joins candidate train ids only (candidate-
    bounded shuffle). train x train pairs are never generated.

    Output: (id, bench_id, jaccard) — one row per flagged
    (train doc, benchmark doc) pair with jaccard >= threshold.
    """
    rows_per_band = num_hashes // num_bands

    def banded(base: DataFrame) -> DataFrame:
        sig = base.select(
            "__id", minhash_signature(F.col("__sh"), num_hashes).alias("__sig")
        )
        return sig.select(
            "__id",
            "__sig",
            F.explode(F.sequence(F.lit(0), F.lit(num_bands - 1))).alias("band"),
        ).select(
            "__id",
            "band",
            F.xxhash64(
                F.slice("__sig", F.col("band") * rows_per_band + 1, rows_per_band)
            ).alias("bucket"),
        )

    bench_sh = shingle_table(bench, id_col, text_col, shingle_n).select("__id", "__sh")
    train_sh = shingle_table(train, id_col, text_col, shingle_n).select("__id", "__sh")
    bench_bands = banded(bench_sh).select(
        F.col("__id").alias("bench_id"), "band", "bucket"
    )
    candidates = (
        banded(train_sh)
        .join(F.broadcast(bench_bands), ["band", "bucket"])
        .select(F.col("__id"), "bench_id")
        .distinct()
    )
    return (
        candidates.join(train_sh, "__id")
        .join(
            F.broadcast(
                bench_sh.select(
                    F.col("__id").alias("bench_id"), F.col("__sh").alias("__bsh")
                )
            ),
            "bench_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh", "__bsh"))
            / F.size(F.array_union("__sh", "__bsh")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("__id").alias(id_col), "bench_id", "jaccard")
    )


def connected_components_auto(
    pairs_df: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    label_iters: int = 10,
) -> DataFrame:
    """Connected components with automatic regime escalation: run
    min-label propagation for up to ``label_iters`` rounds (the cheap
    path — one shuffle/round, optimal for the small dense clusters
    near-dup graphs usually have), and if the graph turns out to have
    long chains (label-prop's diameter bound trips), rerun with
    large-star/small-star, whose O(log² n) round count is
    diameter-independent. Removes the caller-side judgment call that
    let r03's q171 crash: diameter assumptions fail silently until
    the data grows, so the fallback has to be in the operator.

    Cost tradeoff: escalation restarts from the original edges, so a
    graph that converges just past ``label_iters`` pays the wasted
    label rounds plus the full star run (~1.5-2× either regime
    alone). ``label_iters`` stays LOW (10, vs label-prop's standalone
    20-round default): near-dup graphs converge in 2-5 rounds, and
    since the round-11 pointer jump the 10-round budget already covers
    diameter ~2^10 — anything still moving after that is pathological,
    and escalating early wastes less than probing longer. Callers who
    KNOW the regime should force ``cc='label'`` / ``cc='star'`` (or a
    bigger ``label_iters``, e.g. the incremental merge's 20)."""
    try:
        return connected_components(
            pairs_df, src_col, dst_col, max_iters=label_iters
        )
    except RuntimeError:
        return connected_components_star(pairs_df, src_col, dst_col)


def connected_components_incremental(
    old_labels: DataFrame,
    new_edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Incremental connected components — the daily-update twin of
    :func:`connected_components`, for maintaining near-dup cluster
    labels as new documents (and their q107-style incremental pair
    edges) arrive WITHOUT recomputing the full graph.

    The trick is component CONTRACTION: yesterday's labeling collapses
    every old component to a star (vertex → component edges, height 1),
    so the merge graph is |old vertices| star edges plus the new edges
    — history's INTERNAL structure is gone and per-round cost is
    O(|labels| + |new edges|), which is what makes daily dedup
    maintenance affordable at 100 TB (a full recompute re-pays the
    whole history every day). The round COUNT, however, is not set by
    the new data alone: new edges can bridge old components into
    chains whose diameter grows with corpus size (exactly r03's q171
    failure — %97 bridges chained ~16 contracted components and blew
    PLAIN min-label propagation's 20-round budget at sf0.1). The merge
    runs on :func:`connected_components_star`, whose O(log² n) round
    count is independent of how the bridges chain. Round-11 A/B (the
    pointer-jumped label propagation was the candidate): on THIS
    bridge-chained merge shape star stays ahead — 74 jobs / ~4.9 s vs
    132 jobs / ~5.4 s for jumped label-prop's 11 rounds at sf0.1,
    identical labels — so the merge keeps star while the un-contracted
    phases (and near-dup graphs generally) use the jumped label path.

    Output: (vertex, component) for old ∪ new vertices; components that
    new edges bridge collapse to the min id across the merged set.
    """
    star = old_labels.select(
        F.col("vertex").alias(src_col), F.col("component").alias(dst_col)
    ).filter(F.col(src_col) != F.col(dst_col))
    merged = star.unionByName(
        new_edges.select(src_col, dst_col)
    )
    # isolated old vertices (component == self, no new edge) must keep
    # their row: the CC output only emits edge endpoints, so re-attach
    # them afterwards
    out = connected_components_star(merged, src_col, dst_col)
    isolated = old_labels.join(
        out.select(F.col("vertex")), "vertex", "left_anti"
    )
    return out.unionByName(isolated)
